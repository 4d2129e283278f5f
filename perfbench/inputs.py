"""Seeded inputs for the benchmark: the parquet tables the registry and
the API routes read, and the API request stream.

Everything here is a pure function of the seed, so two runs with one
seed read byte-identical tables and send the same requests.  The table
shapes follow the engine's catalog (``sources/catalog.TABLES``): a
TPC-H-like star schema, the ``events`` exchange stream (100k rows over
30 days, 1,500 accounts, 5 pairs at sf 0.1), a small document corpus
and 64-dimensional embeddings.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAIRS = ("purchase", "click", "view", "signup", "error")
N_ACCOUNTS = 1500
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.44, 0.13, 0.15, 0.15, 0.13)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
COLORS = ("blue", "old", "small", "new", "hot", "large", "cold", "red")
NOUNS = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PTYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")

_US = 1_000_000


def _ts(day0: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(day0.replace(tzinfo=dt.timezone.utc).timestamp()) * _US
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = dt.datetime(start.year, start.month, start.day)
    return _ts(base, d.astype(np.int64) * 86_400 * _US)


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n: int) -> pa.Table:
    """The exchange stream: ts strictly increasing in event_id order."""
    span = EVENTS_DAYS * 86_400 * _US
    micros = np.sort(rng.choice(span, size=n, replace=False))
    value = np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(EVENTS_START, micros),
        "user_id": pa.array(rng.integers(0, N_ACCOUNTS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(PAIRS)[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    """Random word texts; a fixed 4 % are exact copies of an earlier
    text (curation dedup) and 6 % near copies with one word replaced
    (MinHash candidates), at seeded positions."""
    picks = rng.permutation(np.arange(11, n)) if n > 11 else np.array([], dtype=int)
    exact = set(picks[: n * 4 // 100].tolist())
    near = set(picks[n * 4 // 100: n * 10 // 100].tolist())
    texts: list[str] = []
    for i in range(n):
        if i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        elif i in near:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every catalog table at scale factor ``sf`` (sf 0.1: 600k
    lineitem rows, 100k events)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    nations = np.arange(25, dtype=np.int32)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nations),
        "n_name": pa.array([f"NATION_{i}" for i in nations]),
        "n_regionkey": pa.array(nations % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{COLORS[c]} {NOUNS[m]}"
            for c, m in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    t["events"] = events_table(rng, n_ev)
    t["documents"] = _documents(rng, int(50_000 * sf))
    t["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return t


def table_hash(tables: dict[str, pa.Table]) -> str:
    """Content hash over the Arrow IPC form of every table, in name
    order -- independent of parquet writer metadata."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group parquet file per table, the layout the
    engine's catalog reads (``<dir>/<name>.parquet``)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tbl.num_rows))


def requests_hash(requests: list[dict]) -> str:
    blob = json.dumps(requests, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]
