"""etl_ledgers: the ingest/transform plane over a generated ledger corpus.

Set-up writes a seeded rippled-shaped corpus (``ledgers.py``) outside the
timing.  Each iteration runs ``xrpl_etl.build_warehouse`` into a fresh
directory -- the first one in the process pays plan compilation and
Python-worker start, as a backfill job does -- and then tails the same
corpus through the live-ingest stream
(``streaming.xrpl_ingest.run_streaming_ingest``).  Iterations repeat
until the run's seconds are used, at least one.

Checks, after the timing: every silver table's row count, each
transaction's net XRP change and the decimal fee total against the
planted truth, and the streamed candles' trade count against the
planted exchange count.
"""

from __future__ import annotations

import os
import shutil
import time
from decimal import Decimal

from common import Context, median, quantile
from ledgers import LedgerCorpus, write_corpus

NAME = "etl_ledgers"
N_LEDGERS, TXS_PER_LEDGER = 30, 24
TINY_LEDGERS, TINY_TXS = 4, 8


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes of every file, parquet part files) under ``path``."""
    nbytes = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            nbytes += os.path.getsize(os.path.join(root, n))
            files += n.startswith("part-") and n.endswith(".parquet")
    return nbytes, files


class Etl:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.ledger_dir = os.path.join(ctx.work_dir, "ledgers")
        self.builds: list[dict] = []

    def make_inputs(self) -> None:
        ctx = self.ctx
        n, k = (TINY_LEDGERS, TINY_TXS) if ctx.tiny else (N_LEDGERS, TXS_PER_LEDGER)
        self.corpus = LedgerCorpus(ctx.seed, n, k)
        self.truth = self.corpus.truth
        if ctx.perturb:  # one ledger's fee changed, truth kept
            tx = self.corpus.docs[0]["transactions"][0]
            tx["Fee"] = str(int(tx["Fee"]) + 1)
        self.paths, self.input_bytes, h = write_corpus(self.corpus, self.ledger_dir)
        ctx.detail.update(corpus_hash=h, ledgers=n, transactions=n * k,
                          input_bytes=self.input_bytes)

    def bind(self, registry: dict) -> None:
        from rippled_historical_database_spark.plans import xrpl_etl
        from rippled_historical_database_spark.sources import xrpl
        from rippled_historical_database_spark.streaming import xrpl_ingest

        self.xrpl_etl, self.xrpl, self.ingest = xrpl_etl, xrpl, xrpl_ingest

    def probe(self, spark) -> None:
        self.xrpl.read_ledgers_bronze(spark, self.paths[:2]).count()

    def warmup(self) -> None:
        """None: the first build is the measured cold backfill."""

    def _iteration(self, i: int) -> dict:
        ctx, t = self.ctx, self.ctx.tracer
        out = os.path.join(ctx.work_dir, f"warehouse{i}")
        gold = os.path.join(ctx.work_dir, f"stream_gold{i}")
        timings: dict = {}
        first_job = ctx.status.last_job_id() if ctx.traced else None
        with t.span("op", rid=f"build{i}"):
            t0 = time.perf_counter()
            with t.span("plans.xrpl_etl.build_warehouse"):
                paths = self.xrpl_etl.build_warehouse(ctx.spark, self.paths, out, timings=timings)
            t1 = time.perf_counter()
            batches = 0
            if ctx.traced:  # the streaming layer is a per-layer figure
                with t.span("streaming.ingest"):
                    batches = self.ingest.run_streaming_ingest(ctx.spark, self.ledger_dir, gold)
            t2 = time.perf_counter()
        if ctx.traced:
            t_probe = time.perf_counter()
            last = ctx.status.last_job_id()
            ctx.status.snapshot()
            jobs = ctx.status.jobs(after=first_job, upto=last)
            rec = ctx.status.exec_record(jobs, t2 - t0, ctx.cores)
            rec.update(group=f"build{i}", wall_s=t2 - t0)
            ctx.exec_records.append(rec)
            rows, nbytes = ctx.status.python_io(set(rec["job_ids"]))
            ctx.layer["functions.python_rows"] = ctx.layer.get("functions.python_rows", 0.0) + rows
            ctx.layer["functions.python_bytes"] = ctx.layer.get("functions.python_bytes", 0.0) + nbytes
            ctx.layer["trace.probe_s"] = ctx.layer.get("trace.probe_s", 0.0) + time.perf_counter() - t_probe
        return {"paths": paths, "gold": gold, "timings": timings, "build_s": t1 - t0,
                "stream_s": t2 - t1, "batches": batches, "out": out}

    def measure(self) -> None:
        ctx = self.ctx
        start = time.perf_counter()
        while not self.builds or time.perf_counter() - start < ctx.seconds:
            i = len(self.builds)
            ctx.attempted += 1
            try:
                self.builds.append(self._iteration(i))
            except Exception as exc:  # noqa: BLE001 -- counted, reported
                ctx.failed += 1
                ctx.mismatches.append(f"{NAME}/build{i}: raised {type(exc).__name__}: {exc}"[:300])
                break
            if i:  # keep only the newest warehouse on disk
                shutil.rmtree(self.builds[i - 1]["out"], ignore_errors=True)
        ctx.detail["builds"] = len(self.builds)

    def check(self) -> None:
        """Planted truth against the newest warehouse and stream."""
        from pyspark.sql import functions as F

        ctx = self.ctx
        if not self.builds:
            return
        spark, b = ctx.spark, self.builds[-1]
        wrong: list[str] = []
        rows_written = 0
        for name, path in sorted(b["paths"].items()):
            n = spark.read.parquet(path).count()
            rows_written += n
            want = self.truth["rows"].get(name)
            if want is not None and n != want:
                wrong.append(f"{name} rows {n} != planted {want}")
        bc = spark.read.parquet(b["paths"]["silver_balance_changes"])
        nets = {r.tx_hash: r.s for r in bc.filter(F.col("currency") == "XRP")
                .groupBy("tx_hash").agg(F.sum(F.col("change").cast("decimal(38,6)")).alias("s"))
                .collect()}
        off = [h for h, drops in self.truth["xrp_net_drops"].items()
               if nets.get(h, Decimal(0)) * 1_000_000 != drops]
        if off:
            wrong.append(f"net XRP change differs on {len(off)} transactions, e.g. {off[0]}")
        fees = spark.read.parquet(b["paths"]["silver_ledger_fees"]).collect()
        total = sum(Decimal(repr(r.total)).quantize(Decimal("0.000001")) for r in fees)
        if total != Decimal(self.truth["fee_total_xrp"]):
            wrong.append(f"fee total {total} != planted {self.truth['fee_total_xrp']}")
        if ctx.traced:
            streamed = self.ingest.read_streamed_candles(spark, b["gold"]).agg(F.sum("count")).first()[0]
            if streamed != self.truth["rows"]["silver_exchanges"]:
                wrong.append(f"streamed candle trades {streamed} != planted exchanges "
                             f"{self.truth['rows']['silver_exchanges']}")
        for w in wrong:
            ctx.mismatches.append(f"{NAME}: {w}")
        if wrong:
            ctx.failed += len(self.builds)
        nbytes, files = _dir_stats(b["out"])
        ctx.layer.update({
            "sources.sinks.bytes_written": float(nbytes),
            "sources.sinks.files_written": float(files),
            "sources.sinks.rows_written": float(rows_written),
            "sources.sinks.bytes_per_input_byte": nbytes / self.input_bytes,
        })

    def metrics(self) -> dict[str, float]:
        ctx = self.ctx
        tables = [v for b in self.builds for k, v in b["timings"].items() if not k.startswith("_")]
        ph = {k: median([b["timings"][f"_{k}"] for b in self.builds]) for k in ("parse", "stage1", "stage2")}
        ctx.layer.update({
            "plans.xrpl_etl.parse_s": ph["parse"],
            "plans.xrpl_etl.stage1_s": ph["stage1"],
            "plans.xrpl_etl.stage2_s": ph["stage2"],
            "plans.xrpl_etl.slowest_table_s": median([max(v for k, v in b["timings"].items()
                                                          if not k.startswith("_")) for b in self.builds]),
            "plans.etl_s": median([b["build_s"] for b in self.builds]),
            "streaming.wall_s": median([b["stream_s"] for b in self.builds]),
        })
        ctx.detail["build_s"] = [round(b["build_s"], 3) for b in self.builds]
        ctx.detail["stream_s"] = [round(b["stream_s"], 3) for b in self.builds]
        ctx.detail["stream_batches"] = [b["batches"] for b in self.builds]
        return {
            "p50_ms": quantile(tables, 0.5) * 1e3,
            "p90_ms": quantile(tables, 0.9) * 1e3,
            "throughput_per_s": len(self.corpus.docs) / median([b["build_s"] for b in self.builds]),
        }
