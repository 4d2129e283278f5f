"""Streaming indicator twins: one spec record per twin, one runner.

A twin is the streaming copy of a batch indicator (Wilder's RSI, ATR,
MACD, Bollinger, ...), checked against the SAME DuckDB oracle as its
batch form.  Wilder's smoothing (avg_t = (avg_{t-1} * (N-1) + x_t) / N,
seeded by the SMA of the first N deltas) is a linear RECURSION over the
close series -- the same class as the reference's running averages
(``lib/aggregation/stats.js:327-331``), which mutate one accumulator
per key as rows arrive.  A window frame cannot express it (each output
depends on the previous OUTPUT, not a previous input slice), so the
canonical streaming form is arbitrary per-key state:

  * per-pair accumulator (prev_close, seed sums, avg gain/loss)
      -> GroupState keyed by pair
  * one candle-close per micro-batch step -> state transition + emit

Shape: every twin is one ``Twin`` record -- registry metadata, the
batch feed it replays, the key, the order, output/state DDL, the
initial state and a PURE per-bar ``step(state, bar) -> (state, rows)``
-- and ``_run`` is the one runner that slices, streams, folds and
drains it (the one-contract, many-functions shape of
``GroupedData.applyInPandas``).  Only the per-bar arithmetic differs
between twins.

Determinism: each step applies EXACTLY the arithmetic of the batch
fold in ``operators/candles.py`` (IEEE double ops in the same order,
every intermediate average fround-ed at ``DD_ROUND``), so streamed ==
batch == the DuckDB oracle row-for-row; the equality is asserted in
tests/test_rsi_wilder.py and the registered oracle is the same SQL as
the batch query's.

Order: the indicators are order-sensitive, so the runner feeds each
series as one file per time-slice, sliced ON ``order`` boundaries and
streamed oldest-first with maxFilesPerTrigger=1; within a batch the
updater sorts by the same ``order``.  In production the upstream is
the hourly candle stream (stream_candles_hourly) whose watermark
already bounds out-of-orderness to the late-data window.

Scale: state is a few scalars (or a bounded ring) per pair -- bounded
by the number of live trading pairs, not by history -- and the shuffle
partitions by pair, so a 100 TB replay streams through constant state
per key.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import os
import shutil
import tempfile
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.anomaly import (
    BASELINE_HOURS,
    CUSUM_H,
    CUSUM_K,
    SQL_CUSUM,
    SQL_ROLLING_ZSCORE,
    Z_THRESHOLD,
    _cusum_z,
    hourly_event_series,
)
from ..operators.candles import (
    _DB_T_MICRO,
    ATR_N,
    BB_K,
    BB_N,
    DC_N,
    DD_ROUND,
    ICHI_K,
    ICHI_S,
    ICHI_T,
    KC_ATR_N,
    KC_K,
    KC_N,
    MACD_FAST,
    MACD_SIG,
    MACD_SLOW,
    RSI_N,
    SQL_ATR,
    SQL_BOLLINGER,
    SQL_DOLLAR_BARS,
    SQL_DONCHIAN,
    SQL_GAP_INTERPOLATION,
    SQL_HEIKIN_ASHI,
    SQL_ICHIMOKU,
    SQL_KELTNER,
    SQL_MACD,
    SQL_MAX_DRAWDOWN,
    SQL_OBV,
    SQL_RSI_CUTLER,
    SQL_STOCHASTIC,
    SQL_WILDER_RSI,
    STOCH_D,
    STOCH_N,
    _hourly_closes,
    _hourly_ohlc,
    _hourly_ohlc4,
    _with_legs,
    fround,
    rsi_from_avgs,
)
from ..plans.registry import register
from ..sources.catalog import load_table
from .memory_sink import run_to_memory

# A step folds one bar into the state and returns the rows it emits
# (output columns after the key); see Twin.
Step = Callable[[tuple, Any], tuple[tuple, Iterable[tuple]]]

# The replay: every twin's feed is cut into N_SLICES ordered files and
# streamed one file per micro-batch, so state really carries across
# batches.
N_SLICES = 4

# State-store parallelism for the twins.  A stateful query creates (and
# commits, every micro-batch) one state-store partition per shuffle
# partition, so at the twins' ~4 keys the session default of 32 mostly
# schedules empty-store commits (~2.5-3 s/batch vs ~0.9 s at 8 --
# SCALE.md round-12 note).  Key-HEAVY streams (the account-bucket and
# pHash registries: 10k-160k keys) must NOT be narrowed: the per-key
# Python work is the cost there and 8 partitions starve the 32 cores
# (measured at the 10x corpus: 86.5 s at 8 vs 38.9 s at 32), so they
# keep the session setting and do not use this runner.
STATE_PARTITIONS = 8

_QUANT = Decimal(1).scaleb(-DD_ROUND)  # decimal-CAST mirror (_dquant)
_FR_M = float(10**DD_ROUND)


def _rhalf(x: float) -> float:
    """fround(x) -- floor(x*1e9 + 0.5)/1e9, the family's engine-portable
    fixed-point round (operators/candles.py fround): the SAME IEEE
    multiply/add/floor/divide sequence the Spark fold and the DuckDB
    oracle execute, so streamed state stays bit-equal to both.  (The
    pre-round-12 form mirrored Spark's repr-based HALF_UP, which native
    DuckDB ROUND disagrees with on the recursion's exact half-grid
    ties.)"""
    return math.floor(x * _FR_M + 0.5) / _FR_M


def _r6(x: float) -> float:
    """fround(x, 6) -- the family's emission-time rounding where the
    batch form emits 6-dp values (same floor-based IEEE sequence as
    _rhalf, at the emission scale)."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def _dquant(x: float) -> Decimal:
    """Spark's CAST(double AS DECIMAL(38, DD_ROUND)) in Python: shortest
    decimal repr (java Double.toString == Python repr digits), then
    HALF_UP at the scale.  Exact for already-rounded closes; matches
    the batch's windowed-DECIMAL-sum terms for c*c."""
    return Decimal(repr(x)).quantize(_QUANT, rounding=ROUND_HALF_UP)


_QUANT6 = Decimal(1).scaleb(-6)


def _d6(x: float) -> Decimal:
    """Spark's CAST(double AS DECIMAL(38,6)): shortest repr, HALF_UP."""
    return Decimal(repr(x)).quantize(_QUANT6, rounding=ROUND_HALF_UP)


# ------------------------------------------------------------ the record


@dataclass(frozen=True)
class Twin:
    """One streaming indicator twin.

    ``feed(spark, sf_dir)`` builds the batch series the runner replays;
    ``order`` is both the slice order and the in-batch sort (it must be
    a TOTAL order per key).  ``output``/``state`` are DDL strings; the
    output's first column receives the grouping ``key``.  ``step`` is
    pure: it folds one bar (a row namedtuple) into the state tuple and
    returns the new state plus the rows that bar emits.  Update-mode
    twins also set ``revise``: the running answer re-emitted from the
    state at the end of every micro-batch.  ``finish`` shapes the
    drained relation into the registered result."""

    name: str
    rotation_group: int
    oracle: str
    doc: str
    tags: tuple[str, ...]
    feed: Callable[[SparkSession, str], DataFrame]
    output: str
    state: str
    init: tuple
    step: Step
    finish: Callable[[DataFrame], DataFrame]
    key: str = "pair"
    order: tuple[str, ...] = ("bucket",)
    revise: Callable[[tuple], Iterable[tuple]] | None = None

    @property
    def mode(self) -> str:
        return "append" if self.revise is None else "update"

    def update(
        self, key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        """The (key, pdfs, state) callable of the stateful plan: fold
        ``step`` over one key's micro-batch in ``order``, carrying the
        GroupState."""
        s = state.get if state.exists else self.init
        bars = pd.concat(list(pdfs), ignore_index=True).sort_values(
            list(self.order)
        )
        out: list[tuple] = []
        for bar in bars.itertuples(index=False):
            s, rows = self.step(s, bar)
            out.extend(rows)
        if self.revise is not None:
            out.extend(self.revise(s))
        state.update(s)
        columns = [c.split()[0] for c in self.output.split(",")]
        yield pd.DataFrame([(*key, *r) for r in out], columns=columns)


# ------------------------------------------------------------ the runner


def _write_ordered_slices(feed: DataFrame, order: tuple[str, ...]) -> str:
    """Materialize a batch series as one parquet file per contiguous
    ``order`` range, mtime-ordered oldest-first, so the file source
    replays the series chronologically (the twins are order-sensitive;
    slicing on bucket boundaries keeps every hour whole).

    ``order`` must form a TOTAL order: when the lead column has ties
    (the 10x clone corpus repeats every trade ts 10 times), an ntile
    over the lead column alone cuts tie groups ARBITRARILY across
    slices, and a later-tiebreak row landing in an earlier slice
    reaches the stateful updater out of order.  The caller owns (and
    removes) the returned directory."""
    stream_dir = tempfile.mkdtemp(prefix="rsi_closes_")
    # ONE job writes all slices (r14): the r12 form persisted the sliced
    # relation and ran one filter+coalesce+write job per slice -- 5 job
    # round-trips and 4 cache scans per twin, times ~20 twins.  The
    # ntile window already sorts globally into a single partition, so a
    # single-task dynamic-partition write emits every slice file in the
    # same pass; the explicit sortWithinPartitions keeps rows in replay
    # order and satisfies the writer's required partition ordering, so
    # no extra sort is inserted.
    build = os.path.join(stream_dir, "_build")
    (
        feed.withColumn(
            "slice",
            F.ntile(N_SLICES).over(Window.orderBy(*order)),
        )
        .coalesce(1)
        .sortWithinPartitions("slice", *order)
        .write.mode("overwrite")
        .partitionBy("slice")
        .parquet(build)
    )
    for i in range(1, N_SLICES + 1):
        part_dir = os.path.join(build, f"slice={i}")
        if not os.path.isdir(part_dir):  # < N_SLICES rows: slice empty
            continue
        (part,) = [
            f for f in os.listdir(part_dir)
            if f.endswith(".parquet") and f.startswith("part-")
        ]
        dst = os.path.join(stream_dir, f"{i:04d}.parquet")
        os.replace(os.path.join(part_dir, part), dst)
        # file source orders by modification time; force strict order.
        t = time.time() + i
        os.utime(dst, (t, t))
    shutil.rmtree(build, ignore_errors=True)
    return stream_dir


def _run(twin: Twin, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay ``twin.feed`` slice by slice through the stateful plan,
    drain it, and shape the drained relation with ``twin.finish``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    feed = twin.feed(spark, sf_dir)
    stream_dir = _write_ordered_slices(feed, twin.order)
    try:
        bars = (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        stateful = bars.groupBy(twin.key).applyInPandasWithState(
            twin.update,
            outputStructType=twin.output,
            stateStructType=twin.state,
            outputMode=twin.mode,
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        # The drain is a driver-local relation, so nothing reads the
        # slices once it returns: reclaim them now, not at exit.
        drained = run_to_memory(
            stateful, twin.name, twin.mode, state_partitions=STATE_PARTITIONS
        )
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
    return twin.finish(drained)


# Every registered twin by name (the split-invariance test walks it).
TWINS: dict[str, Twin] = {}


def _twin(twin: Twin) -> Callable[[SparkSession, str], DataFrame]:
    """Register ``twin`` as a registry query; return the query."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _run(twin, spark, sf_dir)

    query.__name__ = query.__qualname__ = twin.name
    TWINS[twin.name] = twin
    return register(
        twin.name,
        oracle=twin.oracle,
        doc=twin.doc,
        tags=twin.tags,
        rotation_group=twin.rotation_group,
    )(query)


def _by(*cols: str) -> Callable[[DataFrame], DataFrame]:
    """finish: order the drained rows, nothing else."""
    return lambda drained: drained.orderBy(*cols)


# ------------------------------------------------ Wilder's-EMA RSI


def _rsi_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    prev_close, n, sg, sl, ag, al = s
    close = float(bar.close)
    if prev_close is None:
        return (close, n, sg, sl, ag, al), ()
    d = _rhalf(close - prev_close)
    gain, loss = max(d, 0.0), max(-d, 0.0)
    if n < RSI_N - 1:
        return (close, n + 1, sg + gain, sl + loss, ag, al), ()
    if n == RSI_N - 1:
        ag = _rhalf((sg + gain) / RSI_N)
        al = _rhalf((sl + loss) / RSI_N)
        sg = sl = 0.0
    else:
        ag = _rhalf((ag * (RSI_N - 1) + gain) / RSI_N)
        al = _rhalf((al * (RSI_N - 1) + loss) / RSI_N)
    return (close, n + 1, sg, sl, ag, al), ((bar.bucket, ag, al),)


stream_rsi_wilder = _twin(Twin(
    name="stream_rsi_wilder",
    rotation_group=7,
    oracle=SQL_WILDER_RSI,
    doc="Wilder's-EMA RSI as per-pair applyInPandasWithState: the "
        "smoothing recursion lives in GroupState (prev_close, seed "
        "sums, avg gain/loss -- ~6 doubles per pair, bounded by live "
        "pairs, not history), fed by an mtime-ordered file replay of "
        "the hourly close series with one slice per micro-batch.  The "
        "state transition is bit-identical to the batch fold "
        "(window_rsi_wilder), so streamed == batch == the recursive-"
        "CTE oracle exactly; the first RECURSIVE stateful streaming "
        "operator in the repo (the earlier stateful buckets are "
        "associative).  Reference analog: the running-average "
        "accumulators of lib/aggregation/stats.js:327-331.",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_closes,
    output="pair string, bucket timestamp, ag double, al double",
    state="prev_close double, n bigint, sg double, sl double, "
          "ag double, al double",
    init=(None, 0, 0.0, 0.0, None, None),
    step=_rsi_step,
    finish=rsi_from_avgs,
))


# -------------------------------------------- streaming gap detection

_HOUR_S = 3600


def _hourly_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hourly_closes(spark, sf_dir).select("pair", "bucket").distinct()


def _gap_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    (last,) = s
    bucket = bar.bucket
    bucket = bucket.to_pydatetime() if hasattr(bucket, "to_pydatetime") else bucket
    if last is not None:
        missing = int((bucket - last).total_seconds()) // _HOUR_S - 1
        if missing > 0:
            gap = (last + dt.timedelta(hours=1), bucket - dt.timedelta(hours=1))
            return (bucket,), ((*gap, missing),)
    return (bucket,), ()


stream_candle_gap_alerts = _twin(Twin(
    name="stream_candle_gap_alerts",
    rotation_group=7,
    oracle="""
    WITH b AS (
        SELECT DISTINCT event_type AS pair,
               CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket
        FROM events
    ),
    rng AS (
        SELECT pair, MIN(bucket) AS mn, MAX(bucket) AS mx FROM b GROUP BY 1
    ),
    spine AS (
        SELECT pair, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR))
                 AS bucket
        FROM rng
    ),
    missing AS (
        SELECT s.pair, s.bucket,
               CAST(epoch(s.bucket) AS BIGINT) // 3600
               - ROW_NUMBER() OVER (PARTITION BY s.pair ORDER BY s.bucket)
                 AS grp
        FROM spine s LEFT JOIN b
          ON s.pair = b.pair AND s.bucket = b.bucket
        WHERE b.bucket IS NULL
    )
    SELECT pair, MIN(bucket) AS gap_start, MAX(bucket) AS gap_end,
           CAST(COUNT(*) AS BIGINT) AS n_missing
    FROM missing
    GROUP BY pair, grp
    ORDER BY pair, gap_start
    """,
    doc="Streaming form of agg_candle_gaps: the candle-bucket stream "
        "per pair carries ONE timestamp of state (last seen bucket); "
        "an arriving bucket that skips hours emits the completed "
        "outage run immediately -- the live feed-health alert, vs the "
        "batch audit's after-the-fact spine scan.  Streamed == batch "
        "by construction (both report maximal runs strictly inside "
        "each pair's observed range) and both check against the same "
        "spine oracle.  State is O(pairs), the smallest possible for "
        "continuity monitoring; no watermark needed because the "
        "upstream candle stream already closes buckets in order.",
    tags=("streaming", "stateful"),
    feed=_hourly_buckets,
    output="pair string, gap_start timestamp, gap_end timestamp, "
           "n_missing bigint",
    state="last_bucket timestamp",
    init=(None,),
    step=_gap_step,
    finish=_by("pair", "gap_start"),
))


# ----------------------------------------------- streaming ATR (Wilder)


def _atr_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    prev_close, n, acc, atr = s
    high, low, close = float(bar.high), float(bar.low), float(bar.close)
    # the SAME float sequence as the batch TR projection: plain
    # IEEE subtractions/abs/max, then one HALF_UP round at DD_ROUND
    if prev_close is None:
        tr = _rhalf(high - low)
    else:
        tr = _rhalf(
            max(high - low, abs(high - prev_close), abs(low - prev_close))
        )
    n += 1
    if n < ATR_N:
        return (close, n, acc + tr, atr), ()  # seed: plain sum, like the fold
    if n == ATR_N:
        atr, acc = _rhalf((acc + tr) / ATR_N), 0.0
    else:
        atr = _rhalf((atr * (ATR_N - 1) + tr) / ATR_N)
    return (close, n, acc, atr), ((bar.bucket, atr),)


stream_atr_wilder = _twin(Twin(
    name="stream_atr_wilder",
    rotation_group=8,
    oracle=SQL_ATR,
    doc="Average True Range as per-pair applyInPandasWithState: state "
        "is (prev_close, seed count/sum, atr) -- four scalars per "
        "pair, bounded by live pairs, not history -- fed by an "
        "mtime-ordered file replay of the hourly OHLC bars with one "
        "slice per micro-batch.  The transition applies exactly the "
        "batch fold's arithmetic (window_atr_wilder: TR rounded "
        "fround at DD_ROUND, SMA seed, Wilder step), so streamed == "
        "batch == the recursive-CTE oracle row-for-row.  Second "
        "recursive stateful proof after stream_rsi_wilder -- and the "
        "first whose per-row input is a STRUCT (the OHLC bar), not a "
        "scalar close.",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_ohlc,
    output="pair string, bucket timestamp, atr double",
    state="prev_close double, n bigint, s double, atr double",
    init=(None, 0, 0.0, None),
    step=_atr_step,
    finish=_by("pair", "bucket"),
))


# ------------------------------------------ streaming CUSUM monitoring


def _cusum_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cusum_z(spark, sf_dir).select(
        F.col("event_type").alias("pair"),
        F.col("day").alias("bucket"),
        "z",
    )


def _cusum_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    sp, sn = s
    z = float(bar.z)
    sp = _rhalf(max(0.0, sp + z - CUSUM_K))
    sn = _rhalf(max(0.0, sn - z - CUSUM_K))
    return (sp, sn), ((bar.bucket, sp, sn),)


def _cusum_alarm(drained: DataFrame) -> DataFrame:
    return drained.select(
        "event_type",
        "day",
        "s_pos",
        "s_neg",
        ((F.col("s_pos") > CUSUM_H) | (F.col("s_neg") > CUSUM_H)).alias(
            "alarm"
        ),
    ).orderBy("event_type", "day")


stream_cusum_alerts = _twin(Twin(
    name="stream_cusum_alerts",
    rotation_group=8,
    oracle=SQL_CUSUM,
    doc="CUSUM drift monitoring as per-type applyInPandasWithState: "
        "the train-offline / monitor-online split -- per-type "
        "(mu, sigma) come from the BATCH moments (in production, a "
        "broadcast model artifact refreshed on a schedule), and the "
        "stream carries only the two accumulated sides (s+, s-) per "
        "type, the smallest possible drift-monitoring state.  The "
        "transition is bit-identical to the batch fold "
        "(profile_cusum_drift), so streamed == batch == the "
        "recursive-CTE oracle row-for-row.  Third recursive stateful "
        "proof; first where part of the model is trained out-of-band.",
    tags=("streaming", "stateful", "profiling"),
    feed=_cusum_feed,
    output="event_type string, day timestamp, s_pos double, s_neg double",
    state="s_pos double, s_neg double",
    init=(0.0, 0.0),
    step=_cusum_step,
    finish=_cusum_alarm,
))


# ------------------------------------------ streaming Heikin-Ashi bars


def _heikin_ashi_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    ho, hc = s
    o, h, lo_, c = (
        float(bar.open), float(bar.high), float(bar.low), float(bar.close)
    )
    # the SAME float sequence as the batch fold: left-associated
    # sum, exact /4 and /2 (exponent shifts), one HALF_UP round
    hc_new = _rhalf((o + h + lo_ + c) / 4)
    ho = _rhalf((o + c) / 2) if ho is None else _rhalf((ho + hc) / 2)
    row = (bar.bucket, ho, max(h, ho, hc_new), min(lo_, ho, hc_new), hc_new)
    return (ho, hc_new), (row,)


stream_heikin_ashi = _twin(Twin(
    name="stream_heikin_ashi",
    rotation_group=8,
    oracle=SQL_HEIKIN_ASHI,
    doc="Heikin-Ashi smoothing as per-pair applyInPandasWithState: "
        "state is just (prev ha_open, prev ha_close) -- TWO scalars "
        "per pair, the smallest state in the recursive family -- fed "
        "by an mtime-ordered file replay of hourly OHLC4 bars with "
        "one slice per micro-batch.  The transition applies exactly "
        "the batch fold's arithmetic (agg_candles_heikin_ashi: "
        "left-associated OHLC sum, exact /4 and /2, one HALF_UP round "
        "at DD_ROUND), so streamed == batch == the recursive-CTE "
        "oracle row-for-row -- the 5th recursive stateful proof, and "
        "the only one whose output starts at the FIRST bar (no "
        "warmup window).",
    tags=("streaming", "stateful", "aggregation"),
    feed=_hourly_ohlc4,
    output="pair string, bucket timestamp, ha_open double, "
           "ha_high double, ha_low double, ha_close double",
    state="ho double, hc double",
    init=(None, None),
    step=_heikin_ashi_step,
    finish=_by("pair", "bucket"),
))


# --------------------------------------------- streaming Ichimoku cloud


def _ichimoku_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    n, highs, lows, pend_a, pend_b = s
    highs = [*highs, float(bar.high)][-ICHI_S:]
    lows = [*lows, float(bar.low)][-ICHI_S:]
    n += 1

    # the SAME arithmetic as the batch sliding frames: max + min of
    # identical doubles, sum-and-halve (exact in IEEE), raw here --
    # rounding happens once at emission, like the batch SELECT.
    def _mid(k: int) -> float:
        return (max(highs[-k:]) + min(lows[-k:])) / 2.0

    tenkan_raw = _mid(ICHI_T)
    kijun_raw = _mid(ICHI_K)
    pend_a = [*pend_a, (tenkan_raw + kijun_raw) / 2.0]
    pend_b = [*pend_b, _mid(ICHI_S)]
    sen_a_raw = sen_b_raw = None
    if len(pend_a) > ICHI_K:  # the value computed ICHI_K bars ago
        sen_a_raw, pend_a = pend_a[0], pend_a[1:]
        sen_b_raw, pend_b = pend_b[0], pend_b[1:]

    rows: tuple[tuple, ...] = ()
    if n >= ICHI_S + ICHI_K:
        rows = ((
            bar.bucket, _rhalf(tenkan_raw), _rhalf(kijun_raw),
            _rhalf(sen_a_raw), _rhalf(sen_b_raw), float(bar.close),
        ),)
    return (n, highs, lows, pend_a, pend_b), rows


def _chikou(drained: DataFrame) -> DataFrame:
    """Chikou is the close displaced BACKWARD -- a FUTURE value at
    emission time -- so it is a LEAD over the drained output."""
    w = Window.partitionBy("pair").orderBy("bucket")
    return (
        drained.withColumn("chikou", F.lead("close", ICHI_K).over(w))
        .drop("close")
        .orderBy("pair", "bucket")
    )


stream_ichimoku = _twin(Twin(
    name="stream_ichimoku",
    rotation_group=9,
    oracle=SQL_ICHIMOKU,
    doc="Ichimoku cloud as per-pair applyInPandasWithState: state is a "
        "52-bar (high, low) ring buffer plus two 26-deep FIFO queues "
        "holding the raw cloud-line values during their forward "
        "displacement -- ~160 scalars per pair, bounded by live pairs, "
        "not history.  Each arriving bar updates the ring, computes "
        "the 9/26/52-bar channel midpoints with the batch form's exact "
        "IEEE arithmetic (max+min sum-and-halve, one HALF_UP round at "
        "emission), and pops the senkou values queued 26 bars earlier; "
        "rows emit from the first fully-formed span-B + displacement "
        "window (bar 78), exactly like window_ichimoku's QUALIFY.  "
        "Chikou (the close displaced BACKWARD) is by definition a "
        "future value at emission time, so the registered form applies "
        "it as a LEAD over the drained output -- the emitted set is "
        "contiguous per pair, so the lead equals the batch LEAD "
        "row-for-row.  streamed == batch == the shared SQL_ICHIMOKU "
        "oracle; the only non-recursive stateful twin (sliding "
        "channels + displacement queues, no fold).",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_ohlc,
    output="pair string, bucket timestamp, tenkan double, kijun double, "
           "senkou_a double, senkou_b double, close double",
    # Ring buffer of the last ICHI_S (high, low) bars + FIFO queues of
    # the raw (unrounded) cloud-line values awaiting their ICHI_K-bar
    # forward displacement: ~(52*2 + 26*2 + 1) scalars per pair,
    # bounded by live pairs, never by history.
    state="n bigint, highs array<double>, lows array<double>, "
          "pend_a array<double>, pend_b array<double>",
    init=(0, [], [], [], []),
    step=_ichimoku_step,
    finish=_chikou,
))


# --------------------------------------------- streaming Bollinger bands


def _rounded_closes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fround, matching window_bollinger_bands' base column and the
    # shared SQL_BOLLINGER oracle text exactly (the F.round it replaced
    # was invisible on 2-dp closes but a latent half-grid divergence).
    return _hourly_closes(spark, sf_dir).select(
        "pair", "bucket", fround("close").alias("c")
    )


def _bollinger_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    c = float(bar.c)
    ring = [*s[0], c][-BB_N:]
    if len(ring) < BB_N:
        return (ring,), ()
    # The batch form's EXACT arithmetic: windowed DECIMAL(38,R)
    # sums of c and c*c cast back to double, then pure IEEE ops.
    sx = float(sum((_dquant(x) for x in ring), Decimal(0)))
    sxx = float(sum((_dquant(x * x) for x in ring), Decimal(0)))
    sd = math.sqrt(max(BB_N * sxx - sx * sx, 0.0)) / BB_N
    mid = _r6(sx / BB_N)
    upper = _r6(sx / BB_N + BB_K * sd)
    lower = _r6(sx / BB_N - BB_K * sd)
    return (ring,), ((bar.bucket, c, mid, upper, lower, c > upper or c < lower),)


stream_bollinger_bands = _twin(Twin(
    name="stream_bollinger_bands",
    rotation_group=10,
    oracle=SQL_BOLLINGER,
    doc="Bollinger bands as per-pair applyInPandasWithState -- the "
        "sliding-channel stateful twin of window_bollinger_bands "
        "(r10 verdict item #6).  State is a ring of the last "
        "BB_N rounded closes per pair (~24 doubles, bounded by live "
        "pairs, not history).  Each arriving bar updates the ring and, "
        "once full, recomputes the batch form's EXACT arithmetic: "
        "DECIMAL(38,9) sums of (c, c**2) -- via shortest-repr HALF_UP "
        "quantization, the Python equivalent of Spark's double-to-"
        "decimal cast -- cast back to double, population stddev in "
        "IEEE doubles, one HALF_UP round at 6 decimals.  streamed == "
        "batch == the shared SQL_BOLLINGER oracle row-for-row "
        "(tests/test_round11_ops.py).",
    tags=("streaming", "stateful", "window"),
    feed=_rounded_closes,
    output="pair string, bucket timestamp, close double, mid double, "
           "upper double, lower double, breakout boolean",
    # Ring buffer of the last BB_N rounded closes per pair -- bounded
    # by live pairs, never by history.
    state="ring array<double>",
    init=([],),
    step=_bollinger_step,
    finish=_by("pair", "bucket"),
))


# ------------------------------------------ streaming stochastic (K, D)


def _stochastic_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    rn, highs, lows, kq = s
    highs = [*highs, float(bar.high)][-STOCH_N:]
    lows = [*lows, float(bar.low)][-STOCH_N:]
    rn += 1
    if rn < STOCH_N:
        return (rn, highs, lows, kq), ()
    hi, lo = max(highs), min(lows)
    # the batch form's exact arithmetic: flat channel pins 50,
    # otherwise one IEEE expression fround-ed at 9 dp
    k = (
        50.0
        if hi == lo
        else _rhalf(100.0 * (float(bar.close) - lo) / (hi - lo))
    )
    kq = [*kq, k][-STOCH_D:]
    if rn < STOCH_N + STOCH_D - 1:
        return (rn, highs, lows, kq), ()
    # LAG(k,2) + LAG(k,1) + k: same left-associated 3-term sum
    pct_d = _rhalf((kq[0] + kq[1] + kq[2]) / 3.0)
    return (rn, highs, lows, kq), ((bar.bucket, k, pct_d),)


stream_stochastic_oscillator = _twin(Twin(
    name="stream_stochastic_oscillator",
    rotation_group=10,
    oracle=SQL_STOCHASTIC,
    doc="Stochastic oscillator as per-pair applyInPandasWithState -- "
        "the channel+SMA stateful twin of window_stochastic_oscillator "
        "(r10 verdict item #6).  State: a 14-bar (high, low) ring, the "
        "last 3 raw %K values awaiting the %D SMA, and the bar counter "
        "(~31 scalars per pair, bounded by live pairs).  Each bar "
        "recomputes the batch form's exact arithmetic: channel extrema "
        "over identical doubles, %K fround-ed at 9 dp (flat "
        "channel pins 50), %D as the same left-associated 3-term sum "
        "over 3.  streamed == batch == the shared SQL_STOCHASTIC "
        "oracle row-for-row (tests/test_round11_ops.py).",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_ohlc,
    output="pair string, bucket timestamp, pct_k double, pct_d double",
    # Ring of the last STOCH_N (high, low) bars + the last STOCH_D %K
    # values awaiting the SMA + the bar counter -- ~31 scalars per pair.
    state="rn bigint, highs array<double>, lows array<double>, "
          "kq array<double>",
    init=(0, [], [], []),
    step=_stochastic_step,
    finish=_by("pair", "bucket"),
))


# --------------------------------------- streaming Keltner channels

_KC_AL = 2.0 / (KC_N + 1)  # plain-alpha EMA; ATR uses Wilder's form


def _keltner_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    i, s_tp, s_tr, ema, atr, prev_close = s
    high, low, close = float(bar.high), float(bar.low), float(bar.close)
    # the batch form's pre-fold projections, 9-dp HALF_UP
    tp = _rhalf((high + low + close) / 3.0)
    tr = _rhalf(
        high - low
        if prev_close is None
        else max(high - low, abs(high - prev_close), abs(low - prev_close))
    )
    i += 1
    # _ema_fold(tp, KC_N): SMA seed at bar KC_N, plain-alpha after
    if i < KC_N:
        s_tp += tp
    elif i == KC_N:
        ema = _rhalf((s_tp + tp) / KC_N)
    else:
        ema = _rhalf(_KC_AL * tp + (1.0 - _KC_AL) * ema)
    # _ema_fold(tr, KC_ATR_N, wilder): (prev*(n-1) + x)/n
    if i < KC_ATR_N:
        s_tr += tr
    elif i == KC_ATR_N:
        atr = _rhalf((s_tr + tr) / KC_ATR_N)
    else:
        atr = _rhalf((atr * (KC_ATR_N - 1) + tr) / KC_ATR_N)
    state = (i, s_tp, s_tr, ema, atr, close)
    if i < KC_N:  # bands emit from the later seed onward
        return state, ()
    upper = _rhalf(ema + float(KC_K) * atr)
    lower = _rhalf(ema - float(KC_K) * atr)
    return state, ((bar.bucket, ema, upper, lower),)


stream_keltner_channels = _twin(Twin(
    name="stream_keltner_channels",
    rotation_group=10,
    oracle=SQL_KELTNER,
    doc="Keltner channels as per-pair applyInPandasWithState -- the "
        "two-fold composition stateful twin of window_keltner_channels "
        "(r10 verdict item #6).  State is just SIX scalars per pair: "
        "both SMA-seeded EMA folds' accumulators (plain-alpha EMA-20 "
        "of typical price, Wilder ATR-10) plus prev_close -- the "
        "recursions carry no history at all, the purest demonstration "
        "that the EMA-fold family streams with O(1) state.  Per-bar "
        "arithmetic replicates _ema_fold digit-for-digit (same seed "
        "and step expressions, 9-dp HALF_UP per step); bands emit "
        "from the later seed (bar 20) like the batch zip alignment.  "
        "streamed == batch == the shared SQL_KELTNER recursive-CTE "
        "oracle row-for-row (tests/test_round11_ops.py).",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_ohlc,
    output="pair string, bucket timestamp, mid double, upper double, "
           "lower double",
    # Two SMA-seeded EMA folds' accumulators + prev_close: 6 scalars per
    # pair -- the smallest state in the family.
    state="i bigint, s_tp double, s_tr double, ema double, atr double, "
          "prev_close double",
    init=(0, 0.0, 0.0, None, None, None),
    step=_keltner_step,
    finish=_by("pair", "bucket"),
))


# ------------------------------------------------------ streaming MACD

_AL_F = 2.0 / (MACD_FAST + 1)
_AL_S = 2.0 / (MACD_SLOW + 1)
_AL_G = 2.0 / (MACD_SIG + 1)


def _macd_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    i, s_fast, s_slow, e_fast, e_slow, j, s_sig, e_sig = s
    close = float(bar.close)
    i += 1
    if i < MACD_FAST:
        s_fast += close
    elif i == MACD_FAST:
        e_fast = _rhalf((s_fast + close) / MACD_FAST)
    else:
        e_fast = _rhalf(_AL_F * close + (1.0 - _AL_F) * e_fast)
    if i < MACD_SLOW:
        s_slow += close
    elif i == MACD_SLOW:
        e_slow = _rhalf((s_slow + close) / MACD_SLOW)
    else:
        e_slow = _rhalf(_AL_S * close + (1.0 - _AL_S) * e_slow)
    rows: tuple[tuple, ...] = ()
    if i >= MACD_SLOW:
        macd = _rhalf(e_fast - e_slow)  # _MACD_ARR's per-element round
        j += 1
        if j < MACD_SIG:
            s_sig += macd
        else:
            if j == MACD_SIG:
                e_sig = _rhalf((s_sig + macd) / MACD_SIG)
            else:
                e_sig = _rhalf(_AL_G * macd + (1.0 - _AL_G) * e_sig)
            rows = ((bar.bucket, macd, e_sig, _r6(macd - e_sig)),)
    return (i, s_fast, s_slow, e_fast, e_slow, j, s_sig, e_sig), rows


stream_macd = _twin(Twin(
    name="stream_macd",
    rotation_group=10,
    oracle=SQL_MACD,
    doc="MACD(12,26,9) as per-pair applyInPandasWithState: EIGHT "
        "scalars per pair carry all three coupled SMA-seeded EMA "
        "recursions (fast, slow, and the signal EMA of their "
        "difference) -- the batch form's triple fold composition "
        "replicated digit-for-digit (9-dp HALF_UP per step, the "
        "macd difference rounded per element like _MACD_ARR, the "
        "histogram at 6 dp).  Emission from the signal seed (bar "
        "MACD_SLOW + MACD_SIG - 1 = 34) matches the batch zip "
        "alignment.  streamed == batch == the shared SQL_MACD "
        "triple-recursion oracle row-for-row.",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_closes,
    output="pair string, bucket timestamp, macd double, signal double, "
           "histogram double",
    # Three coupled SMA-seeded EMA folds: eight scalars per pair.
    state="i bigint, s_fast double, s_slow double, e_fast double, "
          "e_slow double, j bigint, s_sig double, e_sig double",
    init=(0, 0.0, 0.0, None, None, 0, 0.0, None),
    step=_macd_step,
    finish=_by("pair", "bucket"),
))


# --------------------------------------------- streaming OBV (exact)


def _closes_with_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type").alias("pair"),
        F.date_trunc("hour", "ts").alias("bucket"),
    ).agg(F.count("*").cast("bigint").alias("volume"))
    return _hourly_closes(spark, sf_dir).join(hourly, ["pair", "bucket"])


def _obv_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    prev_close, obv = s
    close, volume = float(bar.close), int(bar.volume)
    if prev_close is None:
        return (close, obv), ()
    if close > prev_close:
        obv += volume
    elif close < prev_close:
        obv -= volume
    return (close, obv), ((bar.bucket, obv),)


stream_obv = _twin(Twin(
    name="stream_obv",
    rotation_group=10,
    oracle=SQL_OBV,
    doc="On-balance volume as per-pair applyInPandasWithState: TWO "
        "scalars of state (prev_close, running BIGINT total) -- the "
        "prefix-sum family's stateful twin, bit-deterministic with no "
        "rounding policy because every term is an exact integer.  "
        "First bar primes prev_close and emits nothing, matching the "
        "batch WHERE prev_close IS NOT NULL.  streamed == batch == "
        "the shared SQL_OBV oracle row-for-row.",
    tags=("streaming", "stateful", "window"),
    feed=_closes_with_volume,
    output="pair string, bucket timestamp, obv bigint",
    state="prev_close double, obv bigint",
    init=(None, 0),
    step=_obv_step,
    finish=_by("pair", "bucket"),
))


# ------------------------------------------ streaming Cutler's RSI


def _rsi_cutler_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    prev_close, gains, losses = s
    close = float(bar.close)
    if prev_close is None:
        return (close, gains, losses), ()
    d = _rhalf(close - prev_close)
    gains = [*gains, max(d, 0.0)][-RSI_N:]
    losses = [*losses, max(-d, 0.0)][-RSI_N:]
    if len(gains) < RSI_N:
        return (close, gains, losses), ()
    # the batch form's windowed DECIMAL sums, cast back to double
    sg = float(sum((_dquant(g) for g in gains), Decimal(0)))
    sl = float(sum((_dquant(x) for x in losses), Decimal(0)))
    rsi = 100.0 if sl == 0 else _r6(100.0 - 100.0 / (1.0 + sg / sl))
    return (close, gains, losses), ((bar.bucket, rsi),)


stream_rsi_cutler = _twin(Twin(
    name="stream_rsi_cutler",
    rotation_group=10,
    oracle=SQL_RSI_CUTLER,
    doc="Cutler's RSI as per-pair applyInPandasWithState: prev_close "
        "plus a 14-deep (gain, loss) ring (~29 scalars per pair).  "
        "Each bar appends the 9-dp rounded delta's gain/loss split "
        "and, once the ring fills, recomputes the batch form's exact "
        "windowed DECIMAL sums and the 6-dp HALF_UP RSI (all-gain "
        "windows pin 100 exactly).  With stream_macd/stream_obv this "
        "completes the family: EVERY batch window indicator now has a "
        "streaming twin sharing its oracle.  streamed == batch == "
        "SQL_RSI_CUTLER row-for-row.",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_closes,
    output="pair string, bucket timestamp, rsi double",
    # prev_close + a ring of the last RSI_N (gain, loss) deltas.
    state="prev_close double, gains array<double>, losses array<double>",
    init=(None, [], []),
    step=_rsi_cutler_step,
    finish=_by("pair", "bucket"),
))


# ------------------------------- streaming max drawdown (update mode)


def _max_drawdown_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    n, peak, min_dd = s
    close = float(bar.close)
    peak = close if peak is None else max(peak, close)
    dd = _rhalf(close / peak - 1)
    return (n + 1, peak, dd if min_dd is None else min(min_dd, dd)), ()


def _max_drawdown_revision(s: tuple) -> Iterable[tuple]:
    # ONE aggregate row per (pair, micro-batch): the current running
    # answer -- update-mode semantics, not per-bar emission.
    n, _, min_dd = s
    return ((n, _r6(min_dd)),)


def _last_drawdown(drained: DataFrame) -> DataFrame:
    # each pair's last revision == the final aggregate
    return (
        drained.groupBy("pair")
        .agg(
            F.max("n_hours").alias("n_hours"),
            F.max_by("max_drawdown", "n_hours").alias("max_drawdown"),
        )
        .orderBy("pair")
    )


stream_max_drawdown = _twin(Twin(
    name="stream_max_drawdown",
    rotation_group=10,
    oracle=SQL_MAX_DRAWDOWN,
    doc="Maximum drawdown as an UPDATE-mode streaming aggregate -- the "
        "one indicator in the family whose batch form is a per-pair "
        "FINAL aggregate, so its twin demonstrates the third streaming "
        "shape: per-bar emission (append twins), bounded-window rings, "
        "and now a running aggregate that REVISES its answer each "
        "micro-batch.  State is three scalars (count, running peak, "
        "running min drawdown); the memory-sink drain holds every "
        "revision, and the serving select takes each pair's LAST "
        "revision (max_by on the monotone count) -- exactly the final "
        "aggregate.  Per-bar arithmetic replicates the batch form "
        "(close/running-peak - 1 fround-ed at 9 dp, min folded "
        "exactly, one 6-dp round at emission).  streamed == batch == "
        "the shared SQL_MAX_DRAWDOWN oracle.",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_closes,
    output="pair string, n_hours bigint, max_drawdown double",
    state="n bigint, peak double, min_dd double",
    init=(0, None, None),
    step=_max_drawdown_step,
    revise=_max_drawdown_revision,
    finish=_last_drawdown,
))


# --------------------------------------- streaming Donchian channels


def _donchian_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    highs, lows = s
    high, low, close = float(bar.high), float(bar.low), float(bar.close)
    # The batch frame is ROWS BETWEEN DC_N PRECEDING AND 1
    # PRECEDING: score the CURRENT bar against the ring BEFORE
    # pushing it, emitting only once the lookback is full.
    rows: tuple[tuple, ...] = ()
    if len(highs) == DC_N:
        upper, lower = max(highs), min(lows)
        rows = ((
            bar.bucket, close, upper, lower, (upper + lower) / 2,
            close > upper, close < lower,
        ),)
    return ([*highs, high][-DC_N:], [*lows, low][-DC_N:]), rows


stream_donchian_channels = _twin(Twin(
    name="stream_donchian_channels",
    rotation_group=11,
    oracle=SQL_DONCHIAN,
    doc="Donchian channels as per-pair applyInPandasWithState -- the "
        "prior-window stateful twin of window_donchian_channels.  "
        "State is a ring of the last DC_N (high, low) extremes per "
        "pair; each arriving bar is scored against the ring BEFORE "
        "being pushed (the batch frame excludes the current row), so "
        "a new extreme cannot absorb its own breakout.  Every emitted "
        "term is IEEE-exact (extrema are selections, mid one add + "
        "halve), so streamed == batch == the shared SQL_DONCHIAN "
        "oracle with no rounding discipline at all.",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_ohlc,
    output="pair string, bucket timestamp, close double, upper double, "
           "lower double, mid double, breakout_up boolean, "
           "breakout_down boolean",
    # Ring of the last DC_N (high, low) extremes per pair -- two
    # parallel double arrays, bounded by live pairs x DC_N, never by
    # history.
    state="highs array<double>, lows array<double>",
    init=([], []),
    step=_donchian_step,
    finish=_by("pair", "bucket"),
))


# ----------------------------------- streaming rolling z-score alerts


def _rolling_zscore_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    idxs, counts = s
    hour_idx, n = int(bar.hour_idx), int(bar.n)
    # Evict entries that fell out of the RANGE frame
    # [hour_idx - BASELINE_HOURS, hour_idx - 1]; gaps in the
    # series shrink the baseline exactly as the batch RANGE
    # frame does (distance is in hour INDEX, not row count).
    k = bisect.bisect_left(idxs, hour_idx - BASELINE_HOURS)
    idxs, counts = idxs[k:], counts[k:]
    b_n = len(idxs)
    z = None
    if b_n >= 2:
        # The batch form's exact arithmetic: integer sums, then
        # a fixed IEEE op sequence (divide, multiply-subtract,
        # sqrt), rounded once at 6 dp.
        b_sum = sum(counts)
        b_sum2 = sum(c * c for c in counts)
        mean = float(b_sum) / b_n
        var = float(b_sum2) / b_n - mean * mean
        if var > 0:
            z = _r6((float(n) - mean) / math.sqrt(var))
    is_anomaly = abs(z) > Z_THRESHOLD if z is not None else False
    row = (bar.bucket_start, n, b_n, z, is_anomaly)
    return ([*idxs, hour_idx], [*counts, n]), (row,)


stream_rolling_zscore = _twin(Twin(
    name="stream_rolling_zscore",
    rotation_group=11,
    oracle=SQL_ROLLING_ZSCORE,
    doc="Rolling z-score anomaly alerts as per-event-type "
        "applyInPandasWithState -- the stateful twin of "
        "window_rolling_zscore, and the first twin OUTSIDE the market-"
        "indicator family (its input is the aggregated hourly metric "
        "series, the relation the reference's stats daemon maintains "
        "incrementally in lib/aggregation/stats.js).  State is the "
        "trailing (hour_idx, count) pairs inside the baseline horizon "
        "-- at most BASELINE_HOURS entries per event type, evicted by "
        "INDEX distance so series gaps shrink the baseline exactly "
        "like the batch RANGE frame.  Arithmetic is the batch form's: "
        "exact integer sums, one IEEE divide/multiply-subtract/sqrt "
        "sequence, one 6-dp round.  streamed == batch == the shared "
        "SQL_ROLLING_ZSCORE oracle row-for-row.",
    tags=("streaming", "stateful", "anomaly"),
    feed=hourly_event_series,
    key="event_type",
    # bucket_start is unique per event type and hour_idx is its epoch
    # hour, so this one column orders both the slices and the batch.
    order=("bucket_start",),
    output="event_type string, bucket_start timestamp, n bigint, "
           "baseline_hours bigint, z double, is_anomaly boolean",
    # Trailing (hour_idx, count) pairs inside the baseline horizon --
    # two parallel long arrays, at most BASELINE_HOURS entries per
    # event type.
    state="idxs array<bigint>, counts array<bigint>",
    init=([], []),
    step=_rolling_zscore_step,
    finish=_by("event_type", "bucket_start"),
))


# ---------------------------------- streaming gap interpolation


def _gap_interpolation_step(
    s: tuple, bar: Any
) -> tuple[tuple, Iterable[tuple]]:
    prev_bucket, prev_close = s
    bucket, close = bar.bucket, float(bar.close)
    rows = []
    if prev_bucket is not None:
        den = int((bucket - prev_bucket).total_seconds()) // 3600
        for k in range(1, den):
            # the batch form's exact arithmetic: integer hour
            # ratio, one fused IEEE sequence, one DD_ROUND round
            w = float(k) / den
            rows.append((
                prev_bucket + pd.Timedelta(hours=k),
                _rhalf(prev_close + (close - prev_close) * w),
                True,
            ))
    rows.append((bucket, close, False))
    return (bucket, close), rows


stream_gap_interpolation = _twin(Twin(
    name="stream_gap_interpolation",
    rotation_group=11,
    oracle=SQL_GAP_INTERPOLATION,
    doc="Gap repair as per-pair applyInPandasWithState -- the repair-"
        "on-close streaming shape: state is ONLY the previous real bar "
        "(2 scalars; no ring, no pending buffer), because a gap's "
        "interpolated rows are emittable exactly when the bar that "
        "closes it arrives.  Each arriving bar emits the interpolated "
        "hours between it and the previous bar (exact integer hour "
        "ratio, the batch's IEEE sequence, one 9-dp HALF_UP round) and "
        "then itself.  Emission order per pair is the series order, so "
        "streamed == batch == the shared SQL_GAP_INTERPOLATION oracle "
        "row-for-row.  The spine endpoints are real bars by "
        "construction on both forms (the batch spine spans min..max "
        "real bucket; the stream starts at the first real bar).",
    tags=("streaming", "stateful", "window"),
    feed=_hourly_closes,
    output="pair string, bucket timestamp, close double, "
           "is_interpolated boolean",
    # Just the previous REAL bar: interpolation of a gap needs nothing
    # else, because the gap's rows are emitted the moment the bar that
    # CLOSES it arrives -- the repair-on-close streaming shape.
    state="prev_bucket timestamp, prev_close double",
    init=(None, None),
    step=_gap_interpolation_step,
    finish=_by("pair", "bucket"),
))


# ------------------------------------ streaming dollar bars (update)


def _trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_legs(load_table(spark, sf_dir, "events")).select(
        F.col("event_type").alias("pair"),
        "ts",
        "event_id",
        "value",
        "counter_value",
    )


def _dollar_bar_revision(s: tuple) -> Iterable[tuple]:
    """The open bar's row (nothing when no bar is open)."""
    _, bar_id, start_ts, end_ts, op, hi, lo, cl, base_sum, dollar_sum, n = s
    if bar_id is None:
        return ()
    return ((
        bar_id, start_ts, end_ts, op, hi, lo, cl,
        float(Decimal(base_sum)), float(Decimal(dollar_sum)), n,
    ),)


def _dollar_bars_step(s: tuple, bar: Any) -> tuple[tuple, Iterable[tuple]]:
    (cum_prev, bar_id, start_ts, _, op, hi, lo, _,
     base_sum, dollar_sum, n) = s
    ts, value = bar.ts, float(bar.value)
    counter_value = float(bar.counter_value)
    notional_micro = int(_d6(counter_value) * 1_000_000)
    this_bar = cum_prev // _DB_T_MICRO
    rows: Iterable[tuple] = ()
    if bar_id is not None and this_bar != bar_id:
        rows = _dollar_bar_revision(s)  # the bar just CLOSED: final revision
        bar_id, n, base_sum, dollar_sum = None, 0, "0", "0"
    if bar_id is None:
        bar_id, start_ts, op, hi, lo = this_bar, ts, value, value, value
    return (
        cum_prev + notional_micro, bar_id, start_ts, ts, op,
        max(hi, value), min(lo, value), value,
        str(Decimal(base_sum) + _d6(value)),
        str(Decimal(dollar_sum) + _d6(counter_value)),
        n + 1,
    ), rows


def _last_bar_revision(drained: DataFrame) -> DataFrame:
    return (
        drained.groupBy("pair", "bar_id")
        .agg(
            F.max_by("start_ts", "n_trades").alias("start_ts"),
            F.max_by("end_ts", "n_trades").alias("end_ts"),
            F.max_by("open", "n_trades").alias("open"),
            F.max_by("high", "n_trades").alias("high"),
            F.max_by("low", "n_trades").alias("low"),
            F.max_by("close", "n_trades").alias("close"),
            F.max_by("base_volume", "n_trades").alias("base_volume"),
            F.max_by("dollar_volume", "n_trades").alias("dollar_volume"),
            F.max("n_trades").alias("n_trades"),
        )
        .orderBy("pair", "bar_id")
    )


stream_dollar_bars = _twin(Twin(
    name="stream_dollar_bars",
    rotation_group=11,
    oracle=SQL_DOLLAR_BARS,
    doc="Dollar bars as an UPDATE-mode stateful twin: state is ONLY "
        "the open bar's accumulators plus the notional cumsum (11 "
        "scalars -- closed bars leave state the moment a trade crosses "
        "the boundary, emitting their FINAL row; the open bar emits a "
        "running revision per micro-batch).  The memory-sink drain "
        "holds every revision and the serving select takes each "
        "(pair, bar_id)'s last one (max_by on the monotone trade "
        "count) -- exactly the batch bar, including the final partial "
        "bar.  Exactness: the cumsum is the batch form's integer "
        "micro-notional (per-trade DECIMAL(38,6) quantization), so no "
        "float drift can move a trade across a bar edge, and volumes "
        "accumulate as exact Decimals carried through state as text.  "
        "streamed == batch == the shared SQL_DOLLAR_BARS oracle.",
    tags=("streaming", "stateful", "aggregation"),
    feed=_trades,
    order=("ts", "event_id"),
    output="pair string, bar_id bigint, start_ts timestamp, "
           "end_ts timestamp, open double, high double, low double, "
           "close double, base_volume double, dollar_volume double, "
           "n_trades bigint",
    # The OPEN bar's accumulators + the running notional cumsum --
    # closed bars leave state the moment they close.  Exact volume
    # accumulation carries the decimal sums as STRINGS (Arrow state
    # round-trips doubles, but the dsum contract is exact decimal
    # addition, so the state keeps the decimal text).
    state="cum_prev bigint, bar_id bigint, start_ts timestamp, "
          "end_ts timestamp, open double, high double, low double, "
          "close double, base_sum string, dollar_sum string, "
          "n_trades bigint",
    init=(0, None, None, None, None, None, None, None, "0", "0", 0),
    step=_dollar_bars_step,
    revise=_dollar_bar_revision,
    finish=_last_bar_revision,
))


# The FakeState-driven unit tests call these updaters directly.
_update_bollinger = TWINS["stream_bollinger_bands"].update
_update_keltner = TWINS["stream_keltner_channels"].update
_update_donchian = TWINS["stream_donchian_channels"].update
_update_rolling_zscore = TWINS["stream_rolling_zscore"].update
_update_ichimoku = TWINS["stream_ichimoku"].update
