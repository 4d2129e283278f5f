"""headline_batch: the registry's 16 ``bench=True`` queries, closed loop
with one client, evaluated through the noop sink.

Warm-up is one pass that collects every query and checks it against its
DuckDB oracle in strict (bit-exact) mode, four queries at a time; the
timed passes then repeat the 16 queries one at a time, one pass per
10 s of the run's seconds.  The first of them still runs about 20 %
slow, which is why each query's best latency over the passes is what the
metrics report.
One operation is one query: build the plan (``q.spark``), then execute
it into the noop sink.
"""

from __future__ import annotations

import os
import time

from common import Context, median, quantile
from inputs import make_tables, table_hash, write_tables

SF = 0.01
PASS_S = 10  # nominal seconds per timed pass at SF on 4 cores
TINY_SF = 0.001
NAME = "headline_batch"


class Batch:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work_dir, "tables")
        self.queries: dict = {}
        self.bad: set[str] = set()
        self.latencies: dict[str, list[float]] = {}
        self.pass_walls: list[float] = []

    def make_inputs(self) -> None:
        tables = make_tables(self.ctx.seed, TINY_SF if self.ctx.tiny else SF)
        self.ctx.detail["input_hash"] = table_hash(tables)
        self.ctx.detail["lineitem_rows"] = tables["lineitem"].num_rows
        write_tables(tables, self.data_dir)

    def bind(self, registry: dict) -> None:
        self.queries = {n: q for n, q in registry.items() if q.bench}

    def probe(self, spark) -> None:
        """Set-up warm-up: build and run the cheapest headline query."""
        self.queries["q6_forecast_revenue"].spark(spark, self.data_dir).collect()

    def warmup(self) -> None:
        """Collect every query once and compare it with its oracle, four
        queries at a time (untimed: the cold pass is mostly driver-side
        plan compilation, which threads overlap)."""
        from concurrent.futures import ThreadPoolExecutor

        from tests.oracle import compare, duckdb_connection

        con = duckdb_connection(self.data_dir)

        def check(item):
            i, (name, q) = item
            oracle = q.oracle
            if self.ctx.perturb and i == 0:
                # drop one oracle row: the check must report it
                oracle = (f"SELECT * EXCLUDE (rn_) FROM (SELECT *, row_number() OVER () AS rn_ "
                          f"FROM ({oracle}) o) WHERE rn_ > 1")
            cur = con.cursor()
            try:
                return name, compare(q.spark(self.ctx.spark, self.data_dir), cur, oracle, strict=True)
            except Exception as exc:  # noqa: BLE001 -- a failing query is a result
                return name, [f"raised {type(exc).__name__}: {exc}"[:300]]
            finally:
                cur.close()

        try:
            with ThreadPoolExecutor(max_workers=self.ctx.cores) as pool:
                results = list(pool.map(check, enumerate(self.queries.items())))
        finally:
            con.close()
        for name, errs in results:
            if errs:
                self.bad.add(name)
                self.ctx.mismatches.append(f"{NAME}/{name}: {errs[0][:300]}")

    def check(self) -> None:
        """Nothing left to check: the warm-up compared every query."""

    def _one(self, name: str, q, pass_no: int, traced: bool) -> float:
        ctx, t = self.ctx, self.ctx.tracer
        spark = ctx.spark
        rid = f"{name}#{pass_no}"
        with t.span("op", rid=rid):
            t0 = time.perf_counter()
            if traced:
                ctx.set_group(f"b:{rid}")
            with t.span("plans.build"):
                df = q.spark(spark, self.data_dir)
            if traced:
                ctx.set_group(f"x:{rid}")
                with t.span("exec.plan"):
                    df._jdf.queryExecution().executedPlan()
            t_exec = time.perf_counter()
            with t.span("exec.run"):
                df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            if traced:
                ctx.set_group(None)
        if traced:
            self.traced_ops.append((rid, t1 - t_exec))
        return t1 - t0

    def _pass(self, n: int) -> float:
        """One pass over the 16 queries; returns its untraced wall.  A
        traced run executes each query twice, untraced and traced in
        alternating order, so the tracing overhead is the gap between
        the two kinds at equal warmth."""
        ctx = self.ctx
        wall = 0.0
        for k, (name, q) in enumerate(self.queries.items()):
            if ctx.traced:
                kinds = (False, True) if k % 2 else (True, False)
            else:
                kinds = (False,)
            for traced in kinds:
                ctx.attempted += 1
                try:
                    with ctx.tracer.paused(not traced):
                        dt = self._one(name, q, n, traced)
                except Exception as exc:  # noqa: BLE001 -- counted, reported
                    ctx.failed += 1
                    ctx.mismatches.append(f"{NAME}/{name}: raised {type(exc).__name__}")
                    continue
                if name in self.bad:
                    ctx.failed += 1
                if traced:
                    self.traced_s += dt
                else:
                    self.plain_s += dt
                    wall += dt
                    self.latencies.setdefault(name, []).append(dt)
        return wall

    def measure(self) -> None:
        """One pass per PASS_S of the run's seconds, at least one: the
        pass count must not depend on the host's speed, or a fast run
        would take its best latencies over more passes.  A traced pass
        runs each query twice, so a traced run makes half the passes and
        executes each query as often as an untraced one."""
        ctx = self.ctx
        self.plain_s = self.traced_s = 0.0
        self.traced_ops: list[tuple[str, float]] = []
        passes = max(1, round(ctx.seconds / PASS_S))
        for _ in range(max(1, passes // 2) if ctx.traced else passes):
            self.pass_walls.append(self._pass(len(self.pass_walls)))
        if ctx.traced:
            self._read_status()
        ctx.detail["passes"] = len(self.pass_walls)
        ctx.detail["batch_wall_s"] = median(self.pass_walls)
        ctx.detail["pass_walls_s"] = [round(x, 3) for x in self.pass_walls]
        ctx.detail["latency_samples"] = sum(map(len, self.latencies.values()))
        if ctx.traced:
            ctx.layer["trace.overhead_frac"] = self.traced_s / self.plain_s - 1
            # share of the traced operations' wall spent executing into
            # the noop sink (the rest is plan building and planning)
            ctx.detail["exec_share"] = sum(r["wall_s"] for r in ctx.exec_records) / self.traced_s
            t0 = time.perf_counter()
            rows, nbytes = ctx.status.python_io({j for r in ctx.exec_records for j in r["job_ids"]})
            ctx.layer.update({"functions.python_rows": rows, "functions.python_bytes": nbytes})
            ctx.layer["trace.probe_s"] = ctx.layer.get("trace.probe_s", 0.0) + time.perf_counter() - t0

    def _read_status(self) -> None:
        """Exec records of the traced operations, read from the status
        stores after the last pass."""
        ctx = self.ctx
        t0 = time.perf_counter()
        groups = ctx.status.snapshot()
        ctx.layer["trace.probe_s"] = ctx.layer.get("trace.probe_s", 0.0) + time.perf_counter() - t0
        for rid, wall in self.traced_ops:
            ctx.tracer.add("plans.build_jobs", len(groups.get(f"b:{rid}", [])))
            ctx.record_exec(f"x:{rid}", wall, groups.get(f"x:{rid}", []))

    def metrics(self) -> dict[str, float]:
        """Each query's best latency over the passes (co-tenant noise on
        a shared host slows whole passes; the best of several damps it,
        as bench.py's best-of-3 does), then the median and 90th
        percentile over the 16 queries and queries per second of the
        best pass they make up."""
        best = [min(lat) for lat in self.latencies.values()]
        self.ctx.detail["best_pass_s"] = sum(best)
        self.ctx.detail["best_ms"] = {n: round(min(v) * 1e3, 1) for n, v in self.latencies.items()}
        return {
            "p50_ms": quantile(best, 0.5) * 1e3,
            "p90_ms": quantile(best, 0.9) * 1e3,
            "throughput_per_s": len(best) / sum(best),
        }
