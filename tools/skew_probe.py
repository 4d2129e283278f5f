"""Skew probes for the candle, text and dedup planes (SCALE.md §3).

SCALE.md §3 ARGUES that each plane keeps reducer walls bounded when one
key carries most of the volume; this tool MEASURES it.  On the ×N
replicated corpus (tools/scale10x.py) every plane is timed twice: on
the corpus as generated ("uniform") and on a hot variant in which a
deterministic md5 of the row id sends ~80% of rows onto ONE key (same
row count, radically different key distribution):

  * CANDLE plane -- the flagship hourly-candle aggregation with ~80% of
    trades remapped onto one pair (the XRP-on-one-side reality).  The
    hot walls stay within noise of uniform because the time bucket in
    the grouping key shards the hot pair across every hour of history;
    the heaviest (pair, hour) cell is reported as the largest unit of
    work any reducer can own.

  * TEXT plane -- ``sample_stratified_exact_split`` ranks documents
    inside a ``Window.partitionBy(lang)``: one dominant language
    concentrates the row_number sort into ONE window partition, the
    classic straggler shape.

  * DEDUP plane -- ``dedup_sorted_neighborhood_pairs`` blocks on a
    24-char normalized text prefix: the hot variant prefixes documents
    with one constant 30-char string, collapsing them onto ONE blocking
    key.  The SN design claims skew-IMMUNITY: the pair budget is a
    fixed (W-1)*N regardless of key distribution (rank is a global
    sort, neighbors pair by adjacent rank, never by key equality).

Each timing is the best of 3 passes after a warm-up, reported with the
max and median task duration of the worst stage those passes ran, so a
straggler shows up even when walls on many cores hide it.  The task
durations come from Spark's in-process status store
(``perfbench/probes.StatusReader``), which the listener bus fills with
the UI off.

Usage: python tools/skew_probe.py [copies]   (default 30)
Prints one JSON line per plane: candle, text, dedup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from pyspark.sql import functions as F  # noqa: E402

from perfbench.probes import StatusReader  # noqa: E402
from rippled_historical_database_spark.operators.candles import (  # noqa: E402
    hourly_candles,
)
from rippled_historical_database_spark.session import get_spark  # noqa: E402
from tools.scale10x import ensure_10x  # noqa: E402

HOT_PCT = 8            # md5 % 10 < 8  ->  ~80% of rows remapped
HOT_PAIR = "purchase"  # candle plane: the pair hot trades collapse onto
HOT_LANG = "en"        # text plane: the dominant language
HOT_PREFIX = "the same twenty-four chars "   # > SN_KEY_LEN after collapse


def _hot(id_col: str):
    """True on the ~80% of rows picked by a deterministic md5 of ``id_col``."""
    return (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 10
        < HOT_PCT
    )


def settled_job_id(reader: StatusReader) -> int:
    """Id of the newest finished job, read once the listener bus has
    delivered every pending event to the status store."""
    reader.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return reader.last_job_id()


def stage_task_extremes(reader: StatusReader, after: int, upto: int) -> dict:
    """Max/median task duration (ms) of the worst stage run by the jobs
    with ids in (``after``, ``upto``], plus its name prefix; {} when
    those jobs finished no task."""
    quantiles = reader.spark.sparkContext._gateway.new_array(reader.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stage_ids = {
        sid for job in reader.jobs(after, upto) for sid in reader.cc.asJava(job.stageIds())
    }
    worst: dict = {}
    for sid in stage_ids:
        stage = reader.store.lastStageAttempt(sid)
        summary = reader.store.taskSummary(sid, stage.attemptId(), quantiles)
        if not summary.isDefined():
            continue
        duration = summary.get().duration()
        med, mx = duration.apply(0), duration.apply(1)
        if not worst or mx > worst["max_task_ms"]:
            worst = {
                "max_task_ms": round(mx),
                "median_task_ms": round(med),
                "stage": stage.name()[:60],
            }
    return worst


def _timed(reader: StatusReader, fn) -> dict:
    """Best of 3 passes of ``fn`` (returns a row count) after a warm-up,
    with the task extremes of the pass whose slowest task was slowest."""
    fn()  # warmup: codegen + file listing outside the band
    walls, extremes = [], {}
    for _ in range(3):
        before = settled_job_id(reader)
        t0 = time.time()
        n = fn()
        walls.append(time.time() - t0)
        ex = stage_task_extremes(reader, before, settled_job_id(reader))
        if ex and ex["max_task_ms"] >= extremes.get("max_task_ms", -1):
            extremes = ex
    return {
        "wall_sec": round(min(walls), 2),
        "walls": [round(w, 2) for w in walls],
        "rows": n,
        **extremes,
    }


def _ratio(hot: dict, uniform: dict) -> float:
    return round(hot["wall_sec"] / max(uniform["wall_sec"], 1e-9), 2)


def candle_plane(reader: StatusReader, src: str, copies: int) -> dict:
    spark = reader.spark

    # The replicated corpus stores ts as TIMESTAMP_NTZ (scale10x writes
    # NTZ so DuckDB reads it naive); the candle sort key needs TIMESTAMP.
    def events_at(path: str):
        return spark.read.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))

    events = events_at(f"{src}/events.parquet")
    # MATERIALIZED to parquet before timing: otherwise the per-row md5
    # remap runs inside the timed scan and the comparison measures the
    # remap, not the skew.  The remaining 20% keep their original pair.
    hot_path = f"{src}_hot_events.parquet"
    if not os.path.exists(hot_path):
        events.withColumn(
            "event_type",
            F.when(_hot("event_id"), F.lit(HOT_PAIR)).otherwise(F.col("event_type")),
        ).write.mode("overwrite").parquet(hot_path)
    hot_events = events_at(hot_path)

    total = events.count()
    timed: dict[str, dict] = {}
    for label, ev in (("uniform", events), ("hot", hot_events)):
        t = _timed(reader, hourly_candles(ev, final=True).count)
        # Group-size evidence: the heaviest single (pair, hour) cell is
        # the largest unit of work any reducer can possibly own under
        # the bucketed key -- at 80% hot-pair share it stays
        # hours-bounded, while an unbucketed (pair) key would hand one
        # reducer 80% of the corpus.  (Map-side partial aggregation
        # shrinks even that cell to per-task partials before the
        # exchange.)
        heaviest = (
            ev.groupBy("event_type", F.date_trunc("hour", "ts"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        t["heaviest_cell_rows"] = int(heaviest)
        t["heaviest_cell_share"] = round(heaviest / total, 4)
        timed[label] = t

    res = {f"{label}_{k}": v for label, t in timed.items() for k, v in t.items()}
    # The one number SCALE.md §3 quotes: hot wall / uniform wall.
    res["hot_over_uniform"] = _ratio(timed["hot"], timed["uniform"])
    res["copies"] = copies
    hot_share = hot_events.filter(F.col("event_type") == HOT_PAIR).count()
    res["hot_pair_row_share"] = round(hot_share / total, 3)
    return res


def _derived_dir(spark, src: str, suffix: str, transform) -> str:
    """Clone dir with every table symlinked except a transformed
    documents.parquet."""
    out = f"{src}_{suffix}"
    docs_out = os.path.join(out, "documents.parquet")
    if os.path.exists(docs_out):
        return out
    os.makedirs(out, exist_ok=True)
    for t in os.listdir(src):
        if t != "documents.parquet" and not os.path.exists(os.path.join(out, t)):
            os.symlink(os.path.join(src, t), os.path.join(out, t))
    d = spark.read.parquet(os.path.join(src, "documents.parquet"))
    transform(d).write.mode("overwrite").parquet(docs_out)
    return out


def _document_plane(reader, plane: str, op, src: str, hot_dir: str, copies: int) -> dict:
    spark = reader.spark
    res = {"plane": plane, "copies": copies}
    res["uniform"] = _timed(reader, lambda: op(spark, src).count())
    res["hot"] = _timed(reader, lambda: op(spark, hot_dir).count())
    return res


def text_plane(reader: StatusReader, src: str, copies: int) -> dict:
    from rippled_historical_database_spark.operators.sampling import (
        sample_stratified_exact_split,
    )

    hot_dir = _derived_dir(
        reader.spark, src, "hotlang",
        lambda d: d.withColumn(
            "lang", F.when(_hot("doc_id"), F.lit(HOT_LANG)).otherwise(F.col("lang"))
        ),
    )
    res = _document_plane(
        reader, "text_stratified_split", sample_stratified_exact_split,
        src, hot_dir, copies,
    )
    hot_docs = reader.spark.read.parquet(f"{hot_dir}/documents.parquet")
    top = hot_docs.groupBy("lang").count().orderBy(F.desc("count")).first()
    res["hot_stratum_share"] = round(top["count"] / hot_docs.count(), 3)
    res["hot_over_uniform"] = _ratio(res["hot"], res["uniform"])
    return res


def dedup_plane(reader: StatusReader, src: str, copies: int) -> dict:
    from rippled_historical_database_spark.operators.dedup import (
        dedup_sorted_neighborhood_pairs,
    )

    hot_dir = _derived_dir(
        reader.spark, src, "hotkey",
        lambda d: d.withColumn(
            "text",
            F.when(_hot("doc_id"), F.concat(F.lit(HOT_PREFIX), F.col("text")))
            .otherwise(F.col("text")),
        ),
    )
    res = _document_plane(
        reader, "dedup_sorted_neighborhood", dedup_sorted_neighborhood_pairs,
        src, hot_dir, copies,
    )
    res["hot_key_share"] = HOT_PCT / 10
    res["hot_over_uniform"] = _ratio(res["hot"], res["uniform"])
    return res


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # Named by scale factor like tools/cc_shuffle_bytes.py's corpora
    # (copies of sf0.1), so one directory never holds two copy counts.
    src = ensure_10x(spark, out=f"/tmp/sf{copies / 10:g}x", copies=copies)
    reader = StatusReader(spark)
    for plane in (candle_plane, text_plane, dedup_plane):
        print(json.dumps(plane(reader, src, copies)), flush=True)


if __name__ == "__main__":
    main()
