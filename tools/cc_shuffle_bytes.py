"""Per-round shuffle-byte measurement for connected components.

Round-7 verdict item #7: the 100x CC wall-clock bend was diagnosed as
host saturation via a partition-count control experiment; this makes it
conclusive by measuring the SHUFFLE VOLUME each large-star/small-star
round actually moves (the shuffle write bytes of the round's jobs,
read from Spark's in-process status store through
``perfbench/probes.StatusReader``) at 30x and 100x.  If bytes-per-round scale
linearly with the corpus while wall does not, the bend is the fixed
32-core host, not the algorithm.

Usage: ``python tools/cc_shuffle_bytes.py [30] [100]`` -- prints one
JSON line per scale with per-round {wall_sec, shuffle_mb, edges}.
Results are recorded in SCALE.md section 6.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.probes import StatusReader  # noqa: E402
from rippled_historical_database_spark.session import get_spark  # noqa: E402
from tools.scale10x import ensure_10x  # noqa: E402
from tools.skew_probe import settled_job_id  # noqa: E402

SCALES = {10: "/tmp/sf1x", 30: "/tmp/sf3x", 100: "/tmp/sf10x"}


def measure(spark, sf_dir: str) -> list[dict]:
    """Drive the CC round loop over the LSH duplicate graph at sf_dir,
    recording per-round wall + the shuffle bytes its jobs wrote."""
    from pyspark.sql import functions as F

    from rippled_historical_database_spark.operators.dedup import (
        CC_JACCARD_MIN,
        CC_MAX_ROUNDS,
        cc_large_star,
        cc_small_star,
        dedup_minhash_lsh_pairs,
    )

    reader = StatusReader(spark)
    pairs = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .filter(F.col("est_jaccard") >= CC_JACCARD_MIN)
        .select("doc_a", "doc_b")
    )
    oriented = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def checksum(e):
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = checksum(oriented)  # materializes the oriented edge set
    # round 0 records the RAW oriented pair-set size: the synthetic
    # copies form size-C near-dup clusters, so the input edge relation
    # is quadratic in the copy count BY CONSTRUCTION -- per-round bytes
    # must be read per input edge, not per corpus row.
    out = [{"round": 0, "edges": sig[0]}]
    edges = oriented
    for rnd in range(1, CC_MAX_ROUNDS + 1):
        before, t0 = settled_job_id(reader), time.perf_counter()
        new_edges = cc_small_star(cc_large_star(edges)).localCheckpoint(
            eager=False
        )
        new_sig = checksum(new_edges)  # the round's materializing action
        wall = time.perf_counter() - t0
        round_jobs = reader.jobs(before, settled_job_id(reader))
        reader.snapshot()
        rec = reader.exec_record(round_jobs, wall, spark.sparkContext.defaultParallelism)
        out.append({
            "round": rnd,
            "wall_sec": round(wall, 2),
            "shuffle_mb": round(rec["shuffle_write_bytes"] / 1e6, 1),
            "edges": new_sig[0],
        })
        edges, prev_sig, sig = new_edges, sig, new_sig
        if new_sig == prev_sig:
            break
    return out


def main() -> None:
    # Validate argv BEFORE Spark starts: a bad scale used to surface as
    # a bare KeyError after a full JVM spin-up.
    try:
        scales = [int(a) for a in sys.argv[1:]] or [30, 100]
    except ValueError:
        scales = [-1]
    bad = [s for s in scales if s not in SCALES]
    if bad or any(not a.lstrip("-").isdigit() for a in sys.argv[1:]):
        known = ", ".join(str(k) for k in sorted(SCALES))
        sys.exit(
            f"usage: python tools/cc_shuffle_bytes.py [scale ...]\n"
            f"  scale must be one of: {known} (default: 30 100)"
        )
    spark = get_spark("cc-shuffle-bytes")

    for s in scales:
        sf_dir = ensure_10x(spark, out=SCALES[s], copies=s)
        rounds = measure(spark, sf_dir)
        print(json.dumps({"scale": s, "rounds": rounds}))
    spark.stop()


if __name__ == "__main__":
    main()
