"""Bounded persist scope for registered query paths (guide section 5).

Registered query functions persist intermediates that the SAME query's
multiple evaluation passes reuse (eager normalizer jobs, two-pass
numbering, band joins).  Spark's CacheManager keys cached relations by
canonicalized logical plan, so RE-invocations of one query map to one
entry and reuse its blocks (the measured note at dedup.py:303) -- but a
long-lived session running many DIFFERENT queries accumulates one
entry per distinct persisted plan forever (VERDICT r14 item 6).

``scoped_persist`` keeps both properties: every persist through this
helper is tracked in an insertion-ordered registry keyed by the plan's
semantic hash; re-persisting the same plan refreshes its slot instead
of duplicating; and when the registry exceeds its budget the OLDEST
entries are unpersisted (non-blocking).  The budget (16 entries) is
far above any single query's persist count (max observed: 4), so
within-query and repeat-run reuse are untouched -- only a multi-query
session's total cache footprint is now bounded instead of growing
without limit.

A semantic-hash collision merely skips one persist (the query
recomputes that relation; results unchanged).  Eviction uses the
stored handle, so dropping a DataFrame reference never leaks an entry.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame

_BUDGET = 16
_LOCK = threading.Lock()
_TRACKED: "OrderedDict[int, DataFrame]" = OrderedDict()


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() with session-bounded lifetime (see module doc)."""
    key = df.semanticHash()
    with _LOCK:
        if key in _TRACKED:
            # Same canonicalized plan: the CacheManager already holds
            # (or will rebuild) one shared entry; just refresh LRU
            # position.  Not re-calling persist() avoids the
            # "already cached" churn on the shared entry.
            _TRACKED.move_to_end(key)
            return df
        df.persist()
        _TRACKED[key] = df
        evict = []
        while len(_TRACKED) > _BUDGET:
            _, old = _TRACKED.popitem(last=False)
            evict.append(old)
    for old in evict:
        try:
            old.unpersist(blocking=False)
        except Exception:  # session already stopped: nothing to free
            pass
    return df


def truncate_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` and replace its plan with a scan of the
    blocks (the iterative-algorithm lineage discipline).

    r15 (VERDICT r14 item 8): ``localCheckpoint`` blocks live on
    executor LOCAL storage, so at cluster scale an executor loss makes
    the truncated lineage unrecoverable mid-query.  When the session
    has a reliable checkpoint directory configured (set
    ``SPARK_GRAFT_CHECKPOINT_DIR`` before get_spark, or call
    ``sc.setCheckpointDir``), this uses a RELIABLE ``checkpoint``
    instead -- recoverable across executor loss at the cost of one
    write to shared storage per truncation.  On the local harness
    (no directory configured) it keeps localCheckpoint's zero-I/O
    behavior; both paths yield the same truncated RDD-scan plan shape
    the tests pin, and identical results.
    """
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def tracked_count() -> int:
    """Number of live scoped persists (test/probe hook)."""
    with _LOCK:
        return len(_TRACKED)


def reset_scope() -> None:
    """Unpersist everything tracked (test hook; never in query paths)."""
    with _LOCK:
        entries = list(_TRACKED.values())
        _TRACKED.clear()
    for df in entries:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
