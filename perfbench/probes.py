"""Measurement plumbing: spans, call wrappers around the package's public
functions, and readers for the JVM status stores, the streaming
progress events and process memory.

Nothing here edits the package.  Wrappers replace a public function's
module attribute for the length of a traced run (``Wrappers.install``)
and put the original back afterwards (``Wrappers.remove``).
"""

from __future__ import annotations

import itertools
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

PKG = "rippled_historical_database_spark"


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans: (id, name, start, end, parent, request id).
    Disabled, or paused on the calling thread (the untraced operations of
    a traced run), ``span`` is a shared ``nullcontext`` and nothing is
    kept."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._null = nullcontext()

    def on(self) -> bool:
        return self.enabled and not getattr(self._local, "paused", False)

    @contextmanager
    def paused(self, flag: bool = True):
        """Record nothing on this thread inside the block when ``flag``."""
        prev = getattr(self._local, "paused", False)
        self._local.paused = flag
        try:
            yield
        finally:
            self._local.paused = prev

    def span(self, name: str, rid: str | None = None):
        return self._span(name, rid) if self.on() else self._null

    @contextmanager
    def _span(self, name: str, rid: str | None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "rid": rid if rid is not None else (parent or {}).get("rid"),
               "start": time.perf_counter()}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, key: str, value: float = 1) -> None:
        if self.on():
            with self._lock:
                self.counts[key] = self.counts.get(key, 0) + value

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part of it covered by its
        children (children's intervals merged, clipped to the parent)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union(kids.get(s["id"], []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------- wrappers
class Wrappers:
    """Time and count calls into ``catalog.load_table``, ``localrel.local_df``
    and ``dispatch.serve_exact`` wherever the package bound them.  On a
    thread whose tracing is paused a wrapper only calls through."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._patched: list[tuple[object, str, object]] = []

    def install(self) -> None:
        import sys

        from rippled_historical_database_spark.functions import dispatch, localrel
        from rippled_historical_database_spark.sources import catalog

        t = self.tracer

        def timed(name, fn, after=None):
            def wrapper(*a, **kw):
                if not t.on():
                    return fn(*a, **kw)
                with t.span(name):
                    out = fn(*a, **kw)
                t.add(name + "_calls")
                if after:
                    after(out)
                return out
            return wrapper

        def localrel_form(df):
            plan = df._jdf.queryExecution().logical().getClass().getSimpleName()
            t.add("localrel_arrow", plan == "LocalRelation")

        def dispatch_form(exact):
            t.add("dispatch_exact", bool(exact))

        targets = {
            catalog.load_table: timed("sources.load_table", catalog.load_table),
            localrel.local_df: timed("functions.localrel", localrel.local_df, localrel_form),
            dispatch.serve_exact: timed("functions.dispatch", dispatch.serve_exact, dispatch_form),
        }
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]:
            for attr, val in list(vars(mod).items()):
                if callable(val) and val in targets:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, targets[val])

    def remove(self) -> None:
        for mod, attr, val in self._patched:
            setattr(mod, attr, val)
        self._patched.clear()


# --------------------------------------------------------- status stores
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _metric_value(text: str | None) -> float:
    """SQL metric display string -> number ('1,234', '12.5 KiB', or a
    'total (min, med, max ...)\\n<total> (...)' block)."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _SIZE.get(m.group(2), 1)


class StatusReader:
    """Reads finished jobs, stages and tasks from Spark's AppStatusStore
    and operator metrics from the SQL status store, through py4j."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.cc = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = self.jvm.java.util.ArrayList()
        self._no_q = sc._gateway.new_array(self.jvm.double, 0)

    def last_job_id(self) -> int:
        ids = [j.jobId() for j in self.cc.asJava(self.store.jobsList(None))]
        return max(ids) if ids else -1

    def jobs(self, after: int, upto: int) -> list:
        """Finished jobs with ids in (``after``, ``upto``]."""
        return [j for j in self.cc.asJava(self.store.jobsList(None)) if after < j.jobId() <= upto]

    def snapshot(self) -> dict[str, list]:
        """Read every finished job and stage once, and return the jobs
        keyed by job group.  The store's lookups by stage id sort the
        whole store on each call, so ``exec_record`` reads the stages
        kept here instead; call this before it."""
        self._stages: dict[int, list] = {}
        for s in self.cc.asJava(self.store.stageList(self._no_status, False, False, self._no_q,
                                                      self._no_status)):
            self._stages.setdefault(s.stageId(), []).append(s)
        out: dict[str, list] = {}
        for j in self.cc.asJava(self.store.jobsList(None)):
            g = j.jobGroup()
            if g.isDefined():
                out.setdefault(g.get(), []).append(j)
        return out

    def exec_record(self, jobs, wall_s: float, cores: int) -> dict:
        """Sum per-stage metrics over ``jobs``; the reconciliation flag
        says whether the merged stage intervals fit in ``wall_s``."""
        rec = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "records_read",
             "bytes_read", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "failed_tasks", "single_task_scan_stages"), 0)
        rec["jobs"] = len(jobs)
        rec["job_ids"] = [j.jobId() for j in jobs]
        shares, intervals = [], []
        seen = set()
        for j in jobs:
            rec["failed_tasks"] += j.numFailedTasks()
            for sid in self.cc.asJava(j.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for s in self._stages.get(sid, []):
                    if s.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += s.numCompleteTasks()
                    rec["run_s"] += s.executorRunTime() / 1e3
                    rec["cpu_s"] += s.executorCpuTime() / 1e9
                    rec["gc_s"] += s.jvmGcTime() / 1e3
                    rec["records_read"] += s.inputRecords()
                    rec["bytes_read"] += s.inputBytes()
                    rec["shuffle_read_bytes"] += s.shuffleReadBytes()
                    rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    sub, done = s.submissionTime(), s.completionTime()
                    if not (sub.isDefined() and done.isDefined()):
                        continue
                    t0, t1 = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                    intervals.append((t0, t1))
                    share, readers = self._task_shape(s, t1 - t0)
                    if share is not None:
                        shares.append(share)
                    if s.inputRecords() > 0 and readers == 1:
                        rec["single_task_scan_stages"] += 1
        stage_wall = _union(intervals, float("-inf"), float("inf"))
        rec["stage_wall_s"] = stage_wall
        rec["reconciled"] = stage_wall <= 1.1 * wall_s + 0.05
        rec["slowest_task_share"] = statistics.median(shares) if shares else 0.0
        rec["cpu_busy_frac"] = rec["run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
        return rec

    def _task_shape(self, stage, stage_wall: float):
        """(slowest task's run time / stage wall, tasks that read input).
        A one-task stage needs no task list: its run time is the task's."""
        if stage.numCompleteTasks() <= 1:
            longest, readers = stage.executorRunTime(), int(stage.inputRecords() > 0)
        else:
            longest = readers = 0
            for t in self.cc.asJava(self.store.taskList(stage.stageId(), stage.attemptId(), 100_000)):
                m = t.taskMetrics()
                if m.isDefined():
                    longest = max(longest, m.get().executorRunTime())
                    readers += m.get().inputMetrics().recordsRead() > 0
        if stage_wall <= 0:
            return None, readers
        return min(1.0, longest / 1e3 / stage_wall), readers

    def python_io(self, job_ids: set[int]) -> tuple[float, float]:
        """(rows, bytes) out of Python-worker plan nodes (Arrow/Pandas
        UDF execs) in the SQL executions that ran ``job_ids``."""
        rows = nbytes = 0.0
        for e in self.cc.asJava(self.sql.executionsList()):
            if not job_ids.intersection(int(k) for k in self.cc.asJava(e.jobs()).keySet()):
                continue
            vals = self.cc.asJava(self.sql.executionMetrics(e.executionId()))
            for n in self.cc.asJava(self.sql.planGraph(e.executionId()).allNodes()):
                name = n.name()
                if "Python" not in name and "Pandas" not in name:
                    continue
                for m in self.cc.asJava(n.metrics()):
                    v = _metric_value(vals.get(m.accumulatorId()))
                    if m.name() == "number of output rows":
                        rows += v
                    elif m.name().startswith("data ") and "Python" in m.name():
                        nbytes += v
        return rows, nbytes


# -------------------------------------------------------------- streaming
def streaming_listener(spark):
    """A StreamingQueryListener that keeps every progress event's
    batch duration, addBatch/commit times and state-store figures."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            self.batches.append({
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "commit_ms": d.get("commitOffsets", 0) + d.get("walCommit", 0)
                + sum(o.commitTimeMs for o in ops),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "rows": p.numInputRows,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


# ------------------------------------------------------------------- host
def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU ticks from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, vals))


def steal_frac(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of all CPU ticks in the interval that the hypervisor gave
    to other guests (steal): host noise the timings cannot control."""
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total else 0.0


# ------------------------------------------------------------------ memory
def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its direct children (the JVM)."""
    me = os.getpid()
    return _hwm_mb(me) + sum(_hwm_mb(c) for c in _children(me))
