"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Builds the workload's inputs from the
seed, starts a Spark session through the package, sets up several times
(session restart + registry import + a warm-up probe), warms the
workload, measures it for ``--seconds`` and checks every output.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it is a
detail record (host stamp, input hashes, sample counts, mismatches).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline_batch", "api_mix", "etl_ledgers")
SETUP_CYCLES = 3
CPUS = "4"
DRIVER_MEM = "2g"
# headline_batch's traced run also runs one etl_ledgers iteration, which
# is not a BENCHMARK.json workload (see README.md); only these layers join.
ETL_LAYERS = ("plans.etl_s", "plans.xrpl_etl.", "sources.sinks.", "streaming.")

E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "p90_ms": "ms",
             "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _env(work_dir: str) -> None:
    """Keep every scratch file inside the run's work directory and pin
    the session to 4 cores unless the caller chose otherwise."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    # A fixed-size driver heap (initial = max), touched whole at start,
    # is resident the same way on every run, which keeps peak RSS
    # comparable; the package default (8 GB max, small initial heap), and
    # even a fixed heap left untouched, grow by a different amount each run.
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work_dir, 'spark-warehouse')}",
        "pyspark-shell",
    ])


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version")}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 -- last resort: kill and reap
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--perturb", action="store_true",
                    help="self-test: corrupt one expected result; the check must fail")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(ROOT, "perfbench-out", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    try:
        return _run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, work_dir: str) -> int:
    _env(work_dir)
    load_before = os.getloadavg()
    # Fails, before any output, when the package is not beside perfbench/.
    import rippled_historical_database_spark  # noqa: F401
    from rippled_historical_database_spark.session import get_spark

    import probes
    from common import Context, median

    tracer = probes.Tracer(enabled=bool(args.trace))
    ctx = Context(seed=args.seed, seconds=args.seconds, work_dir=work_dir, tracer=tracer,
                  cores=int(os.environ["SPARK_GRAFT_CPUS"]), tiny=args.tiny, perturb=args.perturb)
    w = _workload_class(args.workload)(ctx)
    phases = {}
    t0 = time.perf_counter()
    w.make_inputs()
    phases["inputs_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(1).collect()
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    from rippled_historical_database_spark.plans.registry import all_queries

    registry = all_queries()
    import_s = time.perf_counter() - t0
    w.bind(registry)

    # Set-up, several times: session restart + registry import (paid
    # once per process, added to each cycle) + the workload's probe.
    cycles, restarts, probes_s = [], [], []
    for _ in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        spark.stop()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        w.probe(spark)
        t2 = time.perf_counter()
        restarts.append(t1 - t0)
        probes_s.append(t2 - t1)
        cycles.append(t2 - t0 + import_s)
    ctx.spark = spark
    if ctx.traced:
        ctx.status = probes.StatusReader(spark)
        listener = probes.streaming_listener(spark)
        wrappers = probes.Wrappers(tracer)
        wrappers.install()

    t0 = time.perf_counter()
    w.warmup()
    warmup_s = time.perf_counter() - t0

    t0, ticks = time.perf_counter(), probes.cpu_ticks()
    w.measure()
    phases["measure_s"] = time.perf_counter() - t0
    measure_steal = probes.steal_frac(ticks, probes.cpu_ticks())
    if ctx.traced:
        wrappers.remove()
    t0 = time.perf_counter()
    w.check()
    phases["check_s"] = time.perf_counter() - t0
    if ctx.traced and args.workload == "headline_batch":
        t0 = time.perf_counter()
        _etl_layers(ctx)
        phases["etl_layers_s"] = time.perf_counter() - t0
    phases.update(start_s=start_s, setup_cycles_s=sum(cycles) - SETUP_CYCLES * import_s,
                  warmup_s=warmup_s)
    ctx.detail["phases_s"] = {k: round(v, 3) for k, v in phases.items()}
    e2e = w.metrics()
    e2e["setup_s"] = median(cycles)
    e2e["peak_rss_mb"] = probes.peak_rss_mb()

    host = {
        "nproc": os.cpu_count(), "spark_graft_cpus": ctx.cores,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "overloaded_at_start": load_before[0] > (os.cpu_count() or 1),
        "cpu_steal_frac_measure": round(measure_steal, 4),
        **_versions(spark),
    }
    if ctx.traced:
        metrics = _layer_metrics(ctx, tracer, listener, start_s, restarts, import_s, probes_s,
                                 warmup_s)
        trace_path = os.path.join(ROOT, "perfbench-out",
                                  f"trace-{args.workload}-s{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": tracer.spans, "exec_records": ctx.exec_records}, f)
        ctx.detail["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    _stop(spark)

    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "mismatches": ctx.mismatches, **ctx.detail}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0 and not ctx.mismatches,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def _workload_class(name: str):
    if name == "headline_batch":
        from batch import Batch
        return Batch
    if name == "api_mix":
        from api_mix import ApiMix
        return ApiMix
    from etl import Etl
    return Etl


def _etl_layers(ctx) -> None:
    """One traced etl_ledgers iteration on the same session: only its
    own layers (ETL_LAYERS) join the record, its operations join the
    correctness counts."""
    from common import Context
    from etl import Etl

    sub = Context(seed=ctx.seed, seconds=0.0, work_dir=os.path.join(ctx.work_dir, "etl"),
                  tracer=ctx.tracer, cores=ctx.cores, tiny=ctx.tiny, spark=ctx.spark,
                  status=ctx.status)
    w = Etl(sub)
    w.make_inputs()
    w.bind(None)
    w.measure()
    w.check()
    if not sub.failed:
        w.metrics()
    ctx.attempted += sub.attempted
    ctx.failed += sub.failed
    ctx.mismatches += sub.mismatches
    ctx.layer.update({k: v for k, v in sub.layer.items() if k.startswith(ETL_LAYERS)})
    ctx.detail["etl_layers"] = sub.detail


def _layer_metrics(ctx, tracer, listener, start_s, restarts, import_s, probes_s, warmup_s) -> dict:
    from common import median, quantile

    c = tracer.counts
    calls = lambda k: c.get(f"{k}_calls", 0.0)  # noqa: E731
    layer = {
        "session.start_s": start_s,
        "session.restart_s": median(restarts),
        "session.registry_import_s": import_s,
        "session.warmup_s": median(probes_s) + warmup_s,
        "plans.build_s": tracer.total("plans.build"),
        "plans.build_jobs": c.get("plans.build_jobs", 0.0),
        "plans.route_s": tracer.total("plans.route"),
        "plans.route_jobs": c.get("plans.route_jobs", 0.0),
        "sources.load_table_calls": calls("sources.load_table"),
        "sources.load_table_s": tracer.total("sources.load_table"),
        "exec.plan_s": tracer.total("exec.plan"),
        "functions.localrel_calls": calls("functions.localrel"),
        "functions.localrel_s": tracer.total("functions.localrel"),
        "functions.localrel_arrow_frac": (c.get("localrel_arrow", 0.0) / calls("functions.localrel")
                                          if calls("functions.localrel") else 0.0),
        "functions.dispatch_calls": calls("functions.dispatch"),
        "functions.dispatch_exact_frac": (c.get("dispatch_exact", 0.0) / calls("functions.dispatch")
                                          if calls("functions.dispatch") else 0.0),
        "driver.collect_s": tracer.total("driver.collect"),
        "driver.collect_rows": c.get("driver.collect_rows", 0.0),
        "driver.rows_examined_per_row_returned": (
            c.get("driver.records_read", 0.0) / c["driver.collect_rows"]
            if c.get("driver.collect_rows") else 0.0),
        "bench.failed_frac": ctx.failed / ctx.attempted if ctx.attempted else 0.0,
    }
    self_s = tracer.self_times()
    layer["plans.build_self_s"] = self_s.get("plans.build", 0.0)
    layer["plans.route_self_s"] = self_s.get("plans.route", 0.0)
    from rippled_historical_database_spark.functions.caching import tracked_count

    layer["functions.persist_tracked_max"] = float(tracked_count())
    layer.update(ctx.exec_summary())
    b = listener.batches
    layer.update({
        "streaming.batches": float(len(b)),
        "streaming.batch_ms_p50": quantile([x["trigger_ms"] for x in b], 0.5),
        "streaming.add_batch_ms": float(sum(x["add_batch_ms"] for x in b)),
        "streaming.commit_ms": float(sum(x["commit_ms"] for x in b)),
        "streaming.state_rows": float(max((x["state_rows"] for x in b), default=0)),
        "streaming.state_memory_bytes": float(max((x["state_bytes"] for x in b), default=0)),
    })
    layer.update(ctx.layer)
    units = _layer_units()
    return {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
