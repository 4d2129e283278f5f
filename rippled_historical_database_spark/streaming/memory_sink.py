"""Shared file-source feed and memory-sink runner for finite streaming
plans.

The registry's streaming operators drive a bounded file source to
completion through Spark's memory sink (the test/driver harness path;
production plans swap in file/kafka sinks).  Memory-sink results are
driver-resident by construction, so snapshotting the table and dropping
the temp view costs nothing extra and fixes two leaks the shared
hard-coded-name pattern had: concurrent invocations on one
SparkSession no longer collide on the sink name, and the sink table no
longer outlives the call.  ``table_stream`` opens the feed the same way:
the temp directory it may create lives only as long as its block.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..functions.localrel import local_df
from ..sources.catalog import events_read_schema, normalize_events_ts


@contextmanager
def table_stream(spark: SparkSession, sf_dir: str, table: str) -> Iterator[DataFrame]:
    """Stream ``<sf_dir>/<table>.parquet`` through the file source.

    The file streaming source lists a directory, non-recursively.  A
    Spark-written table IS a directory of part files -- stream it as-is
    (symlinking the directory under another dir would stream ZERO rows,
    silently); a single-file table (the generated testdata shape) gets
    symlinked into a temp dir, which is removed when the block exits.
    Drain the stream (``run_to_memory``) inside the block: its result is
    a driver-local relation that no longer reads the feed.
    """
    src = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        schema, shim = events_read_schema(src)
    else:
        schema, shim = spark.read.parquet(src).schema, False
    if os.path.isdir(src):
        yield normalize_events_ts(spark.readStream.schema(schema).parquet(src), shim)
        return
    d = tempfile.mkdtemp(prefix=f"{table}_stream_")
    try:
        os.symlink(src, os.path.join(d, f"{table}.parquet"))
        yield normalize_events_ts(spark.readStream.schema(schema).parquet(d), shim)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_to_memory(
    df: DataFrame,
    base_name: str,
    output_mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a finite streaming DataFrame to completion through a
    uniquely-named memory sink, snapshot the result, free the sink, and
    return the snapshot as a local (batch) DataFrame.

    ``state_partitions`` (optional) scopes
    ``spark.sql.shuffle.partitions`` for the stream's lifetime (a
    streaming query pins its state partitioning at start) -- the
    few-key indicator twins pass rsi_stream.STATE_PARTITIONS; leave
    None for key-heavy state.
    """
    spark = df.sparkSession
    name = f"{base_name}_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    snap = spark.table(name)
    rows, schema = snap.collect(), snap.schema
    spark.catalog.dropTempView(name)
    # local_df: the drained snapshot is re-entered as a local relation
    # that every downstream action (oracle compare, noop eval) re-reads;
    # the Arrow form scans JVM-side instead of paying Python unpickle
    # workers per evaluation (functions/localrel.py).
    return local_df(spark, rows, schema)
