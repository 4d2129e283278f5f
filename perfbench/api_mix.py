"""api_mix: an open-loop, seeded request stream through ``plans.api``
over the ``events`` table (100k rows, 1,500 accounts, 5 pairs).

Requests arrive at fixed intervals and step through three rates: 3
requests/s for the run's seconds (60 requests at 20 s), whose latencies
are the end-to-end figures, then 6 and 20 requests/s for about a sixth
of the run's seconds each, which only look for the rate limit; every
step holds whole cycles of the mix.  Four client threads serve them.
Each request is timed from its due time, so a stall also counts against
the requests queued behind it.  The mix is a fixed 20-slot cycle,
shuffled per cycle by the seed:

    5 account transactions   3 raw exchange pages   2 follow-up pages
    3 interval candles       2 reduce               1 stats
    3 balances               1 invalid (must raise InvalidRequest)

These weights are a choice, not a measured traffic mix (README.md gives
the reason for each).  A follow-up page reuses the marker returned by
the latest first page.  Each cycle gives every kind the same parameter
sets (``CYCLE_PARAMS``) in a seeded order; accounts are drawn with Zipf
skew (s = 1.1), pairs and days uniformly.  Every distinct request is
checked afterwards against an independent DuckDB query.
"""

from __future__ import annotations

import datetime as dt
import os
import queue
import threading
import time

import numpy as np

from common import Context, median, quantile
from inputs import (EVENTS_DAYS, EVENTS_START, N_ACCOUNTS, PAIRS, events_table,
                    requests_hash, table_hash, write_tables)

NAME = "api_mix"
N_EVENTS = 100_000
P90_LIMIT_MS = 1000.0
THREADS = 4
# (requests/s, share of the run's seconds), rounded to whole cycles of
# the mix: at 20 s, 3, 1 and 3 cycles (20, 3.3 and 3 s)
STEPS = ((3.0, 1.0), (6.0, 0.17), (20.0, 0.15))
MIX = (["acct_tx"] * 5 + ["exch"] * 3 + ["exch_next"] * 2 + ["candles"] * 3
       + ["reduce"] * 2 + ["stats"] + ["balances"] * 3 + ["invalid"])
# Every cycle of the mix gives each kind these parameter sets, in a
# seeded order, so a seed changes accounts, pairs, days and order but not
# how much work a cycle holds.
CYCLE_PARAMS = {
    "acct_tx": [{"limit": 20, "descending": True}, {"limit": 50, "descending": True},
                {"limit": 100, "descending": True}, {"limit": 20, "descending": False, "typed": 1},
                {"limit": 50, "descending": False, "typed": 1}],
    "exch": [{"limit": 50}, {"limit": 100}, {"limit": 200}],
    "candles": [{"interval": "1hour", "limit": 100}, {"interval": "4hour", "limit": 200},
                {"interval": "1day", "limit": 400}],
    "balances": [{"at": 1}, {"at": 1}, {}],
}
INVALID = (
    ("exchanges", {"reduce": True, "interval": "1hour"}),
    ("exchanges", {"interval": "2day"}),
    ("stats", {"interval": "month"}),
    ("acct_tx", {"limit": 0}),
)


def _cycle(rng, c: int, first: bool) -> list[tuple[str, dict]]:
    """One shuffled cycle of (kind, parameter set)."""
    kinds = list(rng.permutation(MIX))
    if first:  # a follow-up page needs an earlier first page
        i, j = kinds.index("exch_next"), kinds.index("exch")
        if i < j:
            kinds[i], kinds[j] = kinds[j], kinds[i]
    params = {k: list(rng.permutation(v)) for k, v in CYCLE_PARAMS.items()}
    out = []
    for kind in kinds:
        if kind in params:
            out.append((kind, dict(params[kind].pop())))
        elif kind == "stats":
            out.append((kind, {"interval": ("hour", "day")[c % 2]}))
        elif kind == "invalid":
            out.append((kind, {"which": c % len(INVALID)}))
        else:
            out.append((kind, {}))
    return out


def build_requests(seed: int, seconds: float) -> list[dict]:
    rng = np.random.Generator(np.random.PCG64(seed + 7919))
    ranks = np.arange(1, N_ACCOUNTS + 1)
    zipf = 1.0 / ranks**1.1
    zipf /= zipf.sum()
    account_of_rank = rng.permutation(N_ACCOUNTS)
    reqs: list[dict] = []
    last_exch = None
    t0, c = 0.0, 0
    for step, (rate, share) in enumerate(STEPS):
        # whole mix cycles, so every seed's step holds the same work
        cycles = max(1, round(rate * share * seconds / len(MIX)))
        slots = []
        for _ in range(cycles):
            slots += _cycle(rng, c, first=c == 0)
            c += 1
        for j, (kind, cp) in enumerate(slots):
            pair = PAIRS[int(rng.integers(0, len(PAIRS)))]
            acct = int(account_of_rank[rng.choice(N_ACCOUNTS, p=zipf)])
            day = EVENTS_START + dt.timedelta(days=int(rng.integers(1, EVENTS_DAYS)))
            r = {"i": len(reqs), "step": step, "due": t0 + j / rate, "kind": kind}
            if kind == "acct_tx":
                r["p"] = {"account": acct, "limit": cp["limit"], "descending": cp["descending"]}
                if cp.get("typed"):
                    r["p"]["tx_type"] = pair
            elif kind == "exch":
                r["p"] = {"base": pair, "limit": cp["limit"]}
                last_exch = r["i"]
            elif kind == "exch_next":
                r["follows"] = last_exch
                r["p"] = dict(reqs[last_exch]["p"])
            elif kind == "candles":
                r["p"] = {"base": pair, **cp}
            elif kind == "reduce":
                r["p"] = {"base": pair, "reduce": True}
            elif kind == "stats":
                r["p"] = cp
            elif kind == "balances":
                r["p"] = {"account": acct}
                if cp.get("at"):
                    r["p"]["at"] = day.strftime("%Y-%m-%d %H:%M:%S")
            else:
                route, p = INVALID[cp["which"]]
                r["p"] = {"route": route, **p, "base": pair, "account": acct}
            reqs.append(r)
        t0 += len(slots) / rate
    return reqs


def _key(r: dict) -> str:
    return r["kind"] + repr(sorted(r["p"].items()))


# -------------------------------------------------------------- oracles
_BUCKET = {
    "1hour": "date_trunc('hour', ts)",
    "4hour": "date_trunc('day', ts) + to_hours(CAST(floor(hour(ts) / 4) * 4 AS BIGINT))",
    "1day": "CAST(date_trunc('day', ts) AS TIMESTAMP)",
}
_DSUM = "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)"


def oracle_sql(r: dict) -> tuple[str, list]:
    """Independent DuckDB query for one request: (sql, params)."""
    p, kind = r["p"], r["kind"]
    if kind == "acct_tx":
        d = "DESC" if p["descending"] else "ASC"
        typ = "AND event_type = ?" if "tx_type" in p else ""
        args = [p["account"]] + ([p["tx_type"]] if "tx_type" in p else [])
        return (f"SELECT * FROM events WHERE user_id = ? {typ} "
                f"ORDER BY ts {d}, event_id {d} LIMIT {p['limit']}", args)
    if kind in ("exch", "exch_next"):
        off = p["limit"] if kind == "exch_next" else 0
        return ("SELECT event_id, ts, user_id AS taker, value FROM events WHERE event_type = ? "
                f"ORDER BY ts, event_id LIMIT {p['limit']} OFFSET {off}", [p["base"]])
    if kind == "candles":
        return (f"SELECT {_BUCKET[p['interval']]} AS start, MAX(value) AS high, MIN(value) AS low, "
                f"{_DSUM} AS base_volume, COUNT(*) AS count FROM events WHERE event_type = ? "
                f"GROUP BY 1 ORDER BY 1 LIMIT {p['limit']}", [p["base"]])
    if kind == "reduce":
        return ("SELECT event_type AS pair, FIRST(value ORDER BY ts, event_id) AS open, "
                "MAX(value) AS high, MIN(value) AS low, LAST(value ORDER BY ts, event_id) AS close, "
                f"{_DSUM} AS base_volume, COUNT(*) AS count FROM events WHERE event_type = ? "
                "GROUP BY 1", [p["base"]])
    if kind == "stats":
        unit = p["interval"]
        return (f"SELECT '{unit}' AS interval, CAST(date_trunc('{unit}', ts) AS TIMESTAMP) AS date, "
                "'type' AS family, event_type AS metric, CAST(COUNT(*) AS DOUBLE) AS value "
                "FROM events GROUP BY 2, 4 ORDER BY 2, 4 LIMIT 200", [])
    if kind == "balances":
        at = "AND ts <= CAST(? AS TIMESTAMP)" if "at" in p else ""
        args = [p["account"]] + ([p["at"]] if "at" in p else [])
        return (f"SELECT user_id AS account, {_DSUM} AS balance, MAX(ts) AS as_of, "
                f"COUNT(*) AS n_changes FROM events WHERE user_id = ? {at} GROUP BY 1", args)
    raise ValueError(kind)


def _norm(rows) -> list[tuple]:
    return [tuple(v.isoformat() if isinstance(v, dt.datetime) else v for v in row) for row in rows]


class ApiMix:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work_dir, "tables")
        self.requests: list[dict] = []
        self.results: dict[int, dict] = {}

    def make_inputs(self) -> None:
        rng = np.random.Generator(np.random.PCG64(self.ctx.seed))
        ev = events_table(rng, N_EVENTS // 10 if self.ctx.tiny else N_EVENTS)
        write_tables({"events": ev}, self.data_dir)
        self.requests = build_requests(self.ctx.seed, self.ctx.seconds)
        self.ctx.detail["input_hash"] = table_hash({"events": ev})
        self.ctx.detail["request_hash"] = requests_hash(self.requests)
        self.ctx.detail["requests"] = len(self.requests)

    def bind(self, registry: dict) -> None:
        from rippled_historical_database_spark.plans import api

        self.api = api

    def probe(self, spark) -> None:
        self.api.get_account_transactions(spark, self.data_dir, account=1, limit=5).df.collect()

    def _call(self, r: dict, marker: str | None):
        api, spark, d, p = self.api, self.ctx.spark, self.data_dir, dict(r["p"])
        kind = r["kind"]
        if kind == "acct_tx":
            return api.get_account_transactions(spark, d, **p)
        if kind in ("exch", "exch_next", "candles", "reduce"):
            return api.get_exchanges(spark, d, marker=marker, **p)
        if kind == "stats":
            return api.get_stats(spark, d, **p)
        if kind == "balances":
            return api.get_account_balances(spark, d, **p)
        route = p.pop("route")
        base, account = p.pop("base"), p.pop("account")
        if route == "exchanges":
            return api.get_exchanges(spark, d, base, **p)
        if route == "stats":
            return api.get_stats(spark, d, **p)
        return api.get_account_transactions(spark, d, account=account, **p)

    def warmup(self) -> None:
        """One cycle of the mix (every kind, the stream's own
        parameters), untimed, on the four client threads."""
        from concurrent.futures import ThreadPoolExecutor

        first = {}
        for r in self.requests:
            if r["kind"] not in ("exch_next", "invalid"):
                first.setdefault(r["kind"], []).append(r)
        batch = [r for rs in first.values() for r in rs[:4]]
        with ThreadPoolExecutor(max_workers=THREADS) as pool:
            list(pool.map(lambda r: self._call(r, None).df.collect(), batch))

    def _serve(self, r: dict, traced: bool) -> dict:
        """Serve one request.  Untraced, it records nothing: no span, no
        wrapper figure, no job group."""
        with self.ctx.tracer.paused(not traced):
            return self._serve_one(r, traced)

    def _serve_one(self, r: dict, traced: bool) -> dict:
        ctx, t = self.ctx, self.ctx.tracer
        res = {"i": r["i"]}
        rid = f"r{r['i']}"
        marker = None
        if r["kind"] == "exch_next":
            prev = self.results_ev[r["follows"]]
            prev.wait()
            marker = self.results.get(r["follows"], {}).get("marker")
            if marker is None:
                res["error"] = "no marker from the first page"
                return res
        with t.span("op", rid=rid):
            try:
                t0 = time.perf_counter()
                if traced:
                    ctx.set_group(f"r:{rid}")
                with t.span("plans.route"):
                    page = self._call(r, marker)
                t1 = time.perf_counter()
                if traced:
                    ctx.set_group(f"x:{rid}")
                    with t.span("exec.plan"):
                        page.df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with t.span("driver.collect"):
                    rows = page.df.collect()
                t3 = time.perf_counter()
                # work_s covers the same work traced or not: an untraced
                # collect plans the query itself
                res.update(rows=rows, marker=page.marker, route_s=t1 - t0,
                           collect_s=t3 - t2, work_s=t3 - t0)
            except self.api.InvalidRequest as exc:
                res["invalid"] = str(exc)
            except Exception as exc:  # noqa: BLE001 -- counted as failed
                res["error"] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                if traced:
                    ctx.set_group(None)
        return res

    def _read_status(self) -> None:
        """Exec records of the traced requests, read from the status
        stores after the stream has ended, so the reading does not hold
        up the clients."""
        ctx, t = self.ctx, self.ctx.tracer
        t0 = time.perf_counter()
        groups = ctx.status.snapshot()
        ctx.layer["trace.probe_s"] = ctx.layer.get("trace.probe_s", 0.0) + time.perf_counter() - t0
        for res in self.results.values():
            if not res.get("traced") or "rows" not in res:
                continue
            route, run = (groups.get(f"{k}:r{res['i']}", []) for k in "rx")
            t.add("plans.route_jobs", len(route))
            ctx.record_exec(f"r:r{res['i']}", res["route_s"], route)
            rec = ctx.record_exec(f"x:r{res['i']}", res["collect_s"], run)
            t.add("driver.collect_rows", len(res["rows"]))
            t.add("driver.records_read", rec["records_read"])

    def measure(self) -> None:
        ctx = self.ctx
        q: queue.Queue = queue.Queue()
        self.results_ev = {r["i"]: threading.Event() for r in self.requests}
        start = time.perf_counter() + 0.05
        late, backlog = [], []

        def worker():
            while True:
                item = q.get()
                if item is None:
                    return
                r, due = item
                t_start = time.perf_counter()
                res = self._serve(r, ctx.traced and r["i"] % 2 == 1)
                res.update(due=due, start=t_start, done=time.perf_counter(),
                           traced=ctx.traced and r["i"] % 2 == 1)
                self.results[r["i"]] = res
                self.results_ev[r["i"]].set()

        threads = [threading.Thread(target=worker, daemon=True) for _ in range(THREADS)]
        for th in threads:
            th.start()
        try:
            for r in self.requests:
                due = start + r["due"]
                now = time.perf_counter()
                if due > now:
                    time.sleep(due - now)
                late.append(time.perf_counter() - due)
                backlog.append(q.qsize())
                q.put((r, due))
        finally:
            for _ in threads:
                q.put(None)
            for th in threads:
                th.join()
        ctx.layer["gen.late_p95_ms"] = quantile(late, 0.95) * 1e3
        ctx.layer["gen.backlog_max"] = float(max(backlog))
        if ctx.traced:
            self._read_status()

    def check(self) -> None:
        """Each distinct request against its DuckDB oracle; every
        request that raised, returned wrong rows or (invalid) did not
        raise counts as failed.  Correct requests over the latency limit
        at the lowest rate are counted apart (``api.over_limit_frac``): a
        slow host makes them late, not wrong."""
        import duckdb

        ctx = self.ctx
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.data_dir}/events.parquet'")
        expected: dict[str, list] = {}
        over: list[str] = []
        try:
            for r in self.requests:
                res = self.results[r["i"]]
                ctx.attempted += 1
                ok, why = True, ""
                if r["kind"] == "invalid":
                    ok, why = "invalid" in res, "did not raise InvalidRequest"
                elif "rows" not in res:
                    ok, why = False, res.get("error") or res.get("invalid", "")
                else:
                    k = _key(r)
                    if k not in expected:
                        sql, args = oracle_sql(r)
                        expected[k] = _norm(con.execute(sql, args).fetchall())
                        if ctx.perturb and len(expected) == 1 and expected[k]:
                            row = list(expected[k][0])
                            row[-1] = "perturbed"
                            expected[k][0] = tuple(row)
                    got = _norm(res["rows"])
                    if r["kind"] in ("reduce", "balances"):
                        got, exp = sorted(got, key=repr), sorted(expected[k], key=repr)
                    else:
                        exp = expected[k]
                    ok, why = got == exp, f"{len(got)} rows vs oracle {len(exp)}"
                lat_ms = (res["done"] - res["due"]) * 1e3
                if ok and r["step"] == 0 and lat_ms > P90_LIMIT_MS:
                    over.append(f"{NAME}/{r['kind']}#{r['i']}: {lat_ms:.0f} ms")
                if not ok:
                    ctx.failed += 1
                    ctx.mismatches.append(f"{NAME}/{r['kind']}#{r['i']}: {why}"[:300])
        finally:
            con.close()
        ctx.detail["distinct_requests"] = len(expected)
        ctx.detail["over_limit"] = over
        ctx.layer["api.over_limit_frac"] = len(over) / sum(r["step"] == 0 for r in self.requests)

    def _latencies(self, step: int) -> list[float]:
        out = []
        for r in self.requests:
            res = self.results[r["i"]]
            if r["step"] == step and not res.get("traced"):
                out.append(res["done"] - res["due"])
        return out

    def metrics(self) -> dict[str, float]:
        ctx = self.ctx
        low = self._latencies(0)
        max_rate, all_met, table = 0.0, True, []
        for step, (rate, _) in enumerate(STEPS):
            lat = self._latencies(step)
            waits = [self.results[r["i"]]["start"] - self.results[r["i"]]["due"]
                     for r in self.requests if r["step"] == step]
            half = len(waits) // 2
            growing = half > 0 and median(waits[half:]) > median(waits[:half]) + 0.05
            p90 = quantile(lat, 0.9) * 1e3
            table.append({"rate_rps": rate, "n": len(lat), "p50_ms": round(quantile(lat, 0.5) * 1e3, 1),
                          "p90_ms": round(p90, 1), "backlog_growing": growing})
            # a step counts only while every lower step met the limit too
            all_met = all_met and p90 <= P90_LIMIT_MS and not growing
            if all_met:
                max_rate = rate
        ctx.detail["steps"] = table
        ctx.layer["api.max_rate_rps"] = max_rate
        top = [self.results[r["i"]] for r in self.requests if r["step"] == len(STEPS) - 1]
        done = sorted(x["done"] for x in top)
        if len(done) > 2 * THREADS + 1:
            # completion rate while the top step's queue keeps every
            # client busy: skip the first and last THREADS completions
            capacity = (len(done) - 2 * THREADS - 1) / (done[-THREADS - 1] - done[THREADS])
        else:  # too few requests (self-test sizes): whole step
            capacity = len(done) / (done[-1] - min(x["due"] for x in top))
        if ctx.traced:
            # per request kind, so the traced and untraced halves compare
            # like work; then the median over the kinds
            work: dict[tuple[str, bool], list[float]] = {}
            for r in self.requests:
                x = self.results[r["i"]]
                if "rows" in x:
                    work.setdefault((r["kind"], bool(x.get("traced"))), []).append(x["work_s"])
            ratios = [median(work[k, True]) / median(work[k, False])
                      for k in {k for k, _ in work} if (k, True) in work and (k, False) in work]
            if ratios:
                ctx.layer["trace.overhead_frac"] = median(ratios) - 1
        return {
            "p50_ms": quantile(low, 0.5) * 1e3,
            "p90_ms": quantile(low, 0.9) * 1e3,
            "throughput_per_s": capacity,
        }

