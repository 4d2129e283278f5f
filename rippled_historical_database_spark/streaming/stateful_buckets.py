"""Custom stateful streaming operator: per-(account, day) payment
buckets with replay dedup, via ``applyInPandasWithState``.

Reference: the accountPayments daemon keeps one mutable bucket per
(day, account) -- counts, total value, high-value watermark -- guarded
by an already-seen tx_hash check before each add
(``lib/aggregation/accountPayments.js:73-105`` bucket fetch,
``:135-166`` dedup + add, ``:223-285`` adjust).  That read-modify-write
loop is exactly Structured Streaming's arbitrary-state shape:

  * bucket row       -> GroupState per (account, day) key
  * seen-tx_hash set -> state field (bounded: one day of one account)
  * queue drain      -> micro-batch invocation of the update function
  * hourly purge     -> per-key ProcessingTimeTimeout
                        (:func:`account_daily_buckets_with_purge`):
                        idle keys are sealed, emitted once with
                        ``purged=True``, and evicted

Determinism: totals accumulate in ``decimal.Decimal`` (associative,
exact), so the final bucket is identical for any batch split and equals
the one-shot batch aggregation -- which is the registered oracle.

Scale: state is keyed by (account, day); the shuffle partitions by that
key, so state size per executor is bounded by accounts/partitions x 1
day, and the dedup set never outlives its bucket.  This is the pattern
for any 100 TB "entity ledger" rollup where idempotency under source
replays matters (exactly-once sinks alone do not dedup an at-least-once
upstream feed).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Iterator
from decimal import Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.numeric import sql_dsum
from ..plans.registry import register
from ..sources.catalog import TABLES

OUTPUT_SCHEMA = StructType(
    [
        StructField("account", LongType()),
        StructField("day", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("high_value", DoubleType()),
    ]
)

# total kept as a decimal string: exact, associative accumulation.
STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total", StringType()),
        StructField("high", DoubleType()),
        StructField("seen_ids", ArrayType(LongType())),
    ]
)

QUANT = Decimal("0.000001")  # scale 6, matching functions/numeric.py

# Reusable 1-row output templates (lazy; per worker process).  Building
# a fresh pandas DataFrame from a dict of lists costs ~260us of dtype
# inference and block construction PER KEY; `template.copy()` + iat
# writes is ~2.5x cheaper (r14), and writing through the copy's
# per-column ndarray views (`_mgr.column_arrays`) instead of iat is
# another ~3.6x (109 -> 30 us/key, r15 micro-pass) -- iat re-resolves
# the block layout and runs np_can_hold_element per cell, while the
# array write is one scalar store.  This updater runs once per
# (account, day) key -- 16k times at sf0.1 -- so the per-key
# construction was the single largest slice of the twin's Python
# kernel (cProfile: _out_row = 64% of updater time).  column_arrays is
# pandas internals, so its write-through behavior is PROBED once at
# import (write a sentinel, read it back through the public API) and
# the iat path remains as the fallback.
_OUT_TMPL: dict[str, pd.DataFrame] = {}


def _column_arrays_writable() -> bool:
    try:
        p = pd.DataFrame({"a": [0]}).copy()
        p._mgr.column_arrays[0][0] = 7
        return bool(p["a"].iloc[0] == 7)
    except Exception:
        return False


_CA_WRITABLE = _column_arrays_writable()


def _out_row(kind: str, cols: dict[str, Any]) -> pd.DataFrame:
    tmpl = _OUT_TMPL.get(kind)
    if tmpl is None or list(tmpl.columns) != list(cols):
        _OUT_TMPL[kind] = pd.DataFrame({k: [v] for k, v in cols.items()})
        return _OUT_TMPL[kind].copy()
    out = tmpl.copy()
    if _CA_WRITABLE:
        arrs = out._mgr.column_arrays
        for j, v in enumerate(cols.values()):
            arrs[j][0] = v
    else:
        for j, v in enumerate(cols.values()):
            out.iat[0, j] = v
    return out


def _update_bucket(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: Any
) -> Iterator[pd.DataFrame]:
    account, day = key
    if state.exists:
        n, total_s, high, seen_list = state.get
        total = Decimal(total_s)
        seen = set(seen_list)
    else:
        n, total, high, seen = 0, Decimal(0), float("-inf"), set()

    for pdf in pdfs:
        # ndarray iteration, not Series.__iter__: most keys see 1-2
        # events, so per-element boxing overhead is the loop's cost
        # (16k keys x ~1.2 events at sf0.1 -- r14 micro-pass).
        for eid, value in zip(
            pdf["event_id"].to_numpy(), pdf["value"].to_numpy()
        ):
            eid = int(eid)
            if eid in seen:  # replayed event: accountPayments.js:155-163
                continue
            seen.add(eid)
            n += 1
            value = float(value)
            total += Decimal(repr(value)).quantize(QUANT)
            if value > high:
                high = value

    state.update((n, str(total), high, sorted(seen)))
    yield _out_row(
        "bucket",
        {
            "account": account,
            "day": day,
            "n_events": n,
            "total_value": float(total),
            "high_value": high,
        },
    )


def account_daily_buckets(events: DataFrame) -> DataFrame:
    """The stateful plan: streaming events -> per-(account, day) bucket
    updates.  ``events`` must be a streaming DataFrame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "value",
            F.col("user_id").alias("account"),
            F.date_trunc("day", "ts").alias("day"),
        )
        .groupBy("account", "day")
        .applyInPandasWithState(
            _update_bucket,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


PURGE_OUTPUT_SCHEMA = StructType(
    OUTPUT_SCHEMA.fields + [StructField("purged", BooleanType())]
)


def _make_purge_updater(timeout_ms: int):
    """Build the update function for the purge-enabled variant.

    The reference daemon evicts idle cache buckets on an hourly sweep
    (``lib/aggregation/exchanges.js:59-101``,
    ``lib/aggregation/payments.js:41-74``).  Structured Streaming's
    native form of that sweep is a per-key ProcessingTimeTimeout: every
    update re-arms the key's timer; a key that stays quiet past the
    deadline gets one final callback (``state.hasTimedOut``) where we
    emit the sealed bucket and ``state.remove()`` it.  State size is
    then bounded by *active* keys, not all keys ever seen -- the
    property that keeps a 100 TB entity rollup's state store finite.
    """

    def update(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        account, day = key
        if state.hasTimedOut:
            # Idle past the deadline: seal, emit, evict.  pdfs is empty.
            n, total_s, high, _seen = state.get
            state.remove()
            yield _out_row(
                "purge",
                {
                    "account": account,
                    "day": day,
                    "n_events": n,
                    "total_value": float(Decimal(total_s)),
                    "high_value": high,
                    "purged": True,
                },
            )
            return

        if state.exists:
            n, total_s, high, seen_list = state.get
            total = Decimal(total_s)
            seen = set(seen_list)
        else:
            n, total, high, seen = 0, Decimal(0), float("-inf"), set()

        for pdf in pdfs:
            for eid, value in zip(
                pdf["event_id"].to_numpy(), pdf["value"].to_numpy()
            ):
                eid = int(eid)
                if eid in seen:
                    continue
                seen.add(eid)
                n += 1
                value = float(value)
                total += Decimal(repr(value)).quantize(QUANT)
                if value > high:
                    high = value

        state.update((n, str(total), high, sorted(seen)))
        state.setTimeoutDuration(timeout_ms)  # re-arm the eviction timer
        yield _out_row(
            "purge",
            {
                "account": account,
                "day": day,
                "n_events": n,
                "total_value": float(total),
                "high_value": high,
                "purged": False,
            },
        )

    return update


def account_daily_buckets_with_purge(
    events: DataFrame, timeout_ms: int = 3_600_000
) -> DataFrame:
    """Purge-enabled stateful plan: like :func:`account_daily_buckets`
    but idle keys are sealed and evicted after ``timeout_ms`` of
    processing-time silence (default one hour, the reference's cache
    purge cadence)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "value",
            F.col("user_id").alias("account"),
            F.date_trunc("day", "ts").alias("day"),
        )
        .groupBy("account", "day")
        .applyInPandasWithState(
            _make_purge_updater(timeout_ms),
            outputStructType=PURGE_OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


_BUCKET_COLS = ("event_id", "ts", "user_id", "event_type", "value")


def run_buckets_stream(
    spark: SparkSession, events_dir: str, query_name: str, files_per_trigger: int = 1
) -> DataFrame:
    """Drive the stateful plan over a finite directory source to
    completion; return the final bucket per key (updates are cumulative,
    so the row with the highest n_events per key is the final state).

    ``events_dir`` is the 5-column projected rewrite the twin prepares
    (see stream_stateful_account_buckets); the declared read schema is
    restricted to those columns so a future plan reading a dropped
    column fails loudly instead of getting silent nulls (r14 advice).
    """
    from ..sources.catalog import events_read_schema, normalize_events_ts

    schema, shim = events_read_schema(events_dir, columns=_BUCKET_COLS)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )
    events = normalize_events_ts(raw, shim)
    from .memory_sink import run_to_memory

    out = run_to_memory(account_daily_buckets(events), query_name, "update")
    final = F.max_by(
        F.struct("n_events", "total_value", "high_value"), "n_events"
    ).alias("s")
    return (
        out.groupBy("account", "day")
        .agg(final)
        .select("account", "day", "s.n_events", "s.total_value", "s.high_value")
    )


@register(
    "stream_stateful_account_buckets",
    oracle=f"""
    SELECT user_id AS account,
           CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           {sql_dsum("value")} AS total_value,
           MAX(value) AS high_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
    doc="Stateful account-day payment buckets (accountPayments.js:"
        "73-166): applyInPandasWithState with per-key dedup state, driven "
        "over a multi-batch file source so buckets accumulate across "
        "micro-batches; the final state per key equals the one-shot batch "
        "aggregation (decimal accumulation makes the equality exact for "
        "any batch split).",
    tags=("streaming", "stateful"),
)
def stream_stateful_account_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Split the test table into several files so the stream really runs
    # multiple micro-batches and state carries across them.
    from ..sources.catalog import load_table

    d = tempfile.mkdtemp(prefix="events_stateful_")
    (
        load_table(spark, sf_dir, "events")
        # Project to the 5 columns the stateful plan reads AND keep
        # only the purchase rows BEFORE the repartition-write (guide
        # section 2.3 "project before the exchange" + predicate moved
        # to the prep): the stateful plan's first operator filters
        # event_type == 'purchase', so the other ~80% of rows only
        # ever rode the 4-partition shuffle, the parquet write and the
        # re-streamed scan to be dropped.  The stream plan still
        # applies its filter (now a no-op pass-through); batch
        # BOUNDARIES change but the final per-key state is
        # split-invariant by construction (dedup + exact decimal
        # accumulation), which the oracle verifies.  The column
        # projection alone was a measured r14 wash; the row filter is
        # the bytes that mattered.
        .filter(F.col("event_type") == "purchase")
        .select(*_BUCKET_COLS)
        .repartition(4, "user_id")
        .write.mode("overwrite")
        .parquet(d)
    )
    name = f"stateful_buckets_out_{abs(hash(d)) % 10**8}"
    # One file per trigger (4 batches): measured fastest at the 10x
    # corpus (38.9 s vs 65.3 s at 2 files/trigger -- SCALE.md round-12
    # note).  This twin is KEY-HEAVY (accounts x days), so its cost is
    # per-key Python work; it keeps the session's 32 state partitions
    # (narrowing to 8 starved the cores: 86.5 s).  The drain is a
    # driver-local relation, so the feed copy is dead once it returns.
    try:
        return run_buckets_stream(spark, d, name)
    finally:
        shutil.rmtree(d, ignore_errors=True)
