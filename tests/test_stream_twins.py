"""The streaming indicator twins as a table (streaming/rsi_stream.py).

Split invariance: a twin's per-key state must carry the whole history a
bar needs, so folding the feed in ONE chunk and in many chunks (state
handed from chunk to chunk through the same GroupState) must emit the
same rows.  The registry oracle compares only run the runner's 4 ntile
slices; these cut sets add single-row chunks and seeded random cuts,
with no streaming query (the twin's own update callable, driven with a
FakeState over its feed collected to pandas).

Feed hygiene: the runner's slice directory and the account-bucket
twin's feed copy are deleted when the drain returns, not at exit.
"""

from __future__ import annotations

import glob
import os
import random
import tempfile
from collections import defaultdict

import pytest

from rippled_historical_database_spark.streaming.rsi_stream import TWINS

# Update-mode twins re-emit revisions; a revision is identified by its
# leading output columns (the key, plus bar_id for dollar bars).
REVISION_ID = {"stream_max_drawdown": 1, "stream_dollar_bars": 2}


class FakeState:
    exists = False

    def __init__(self):
        self.stored = None

    @property
    def get(self):
        return self.stored

    def update(self, v):
        self.stored = v
        self.exists = True


def _replay(twin, feed, cuts):
    """Fold ``feed`` (globally ordered) chunk by chunk, cut at the row
    positions ``cuts``; return each key's emitted rows in order."""
    states = defaultdict(FakeState)
    out = defaultdict(list)
    bounds = [0, *cuts, len(feed)]
    for lo, hi in zip(bounds, bounds[1:]):
        for key, rows in feed.iloc[lo:hi].groupby(twin.key):
            (df,) = twin.update((key,), iter([rows]), states[key])
            df = df.astype(object).where(df.notna(), None)
            out[key].extend(df.itertuples(index=False, name=None))
    return dict(out)


def _final_revisions(emitted, k):
    return {
        key: {row[:k]: row for row in rows} for key, rows in emitted.items()
    }


@pytest.mark.parametrize("name", sorted(TWINS))
def test_twin_is_split_invariant(spark, sf_dir, name):
    twin = TWINS[name]
    feed = twin.feed(spark, sf_dir).toPandas().sort_values(
        [*twin.order, twin.key], ignore_index=True
    )
    n = len(feed)
    assert n > 0, name
    whole = _replay(twin, feed, [])
    assert any(whole.values()), f"{name}: no rows emitted"
    rng = random.Random(20240101)
    cut_sets = {
        "halves": [n // 2],
        "random": sorted(rng.sample(range(1, n), min(9, n - 1))),
        "every_row": list(range(1, n)),
    }
    for label, cuts in cut_sets.items():
        split = _replay(twin, feed, cuts)
        if twin.mode == "append":
            assert split == whole, (name, label)
        else:
            k = REVISION_ID[name]
            assert _final_revisions(split, k) == _final_revisions(whole, k), (
                name, label,
            )


def test_every_update_twin_has_a_revision_id():
    assert {n for n, t in TWINS.items() if t.mode == "update"} == set(
        REVISION_ID
    )


def _feed_dirs():
    tmp = tempfile.gettempdir()
    return {
        d
        for prefix in ("rsi_closes_", "events_stateful_")
        for d in glob.glob(os.path.join(tmp, prefix + "*"))
    }


def test_stream_feed_dirs_are_reclaimed(spark, sf_dir):
    from rippled_historical_database_spark.plans.registry import all_queries

    qs = all_queries()
    before = _feed_dirs()
    assert qs["stream_obv"].spark(spark, sf_dir).count() > 0
    assert qs["stream_stateful_account_buckets"].spark(spark, sf_dir).count() > 0
    assert _feed_dirs() - before == set()
