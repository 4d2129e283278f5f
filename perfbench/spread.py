"""Run one workload over several seeds and report each metric's median
and quartile spread (Q3 - Q1 over the median, from
``statistics.quantiles(values, n=4)``), checked against the bounds in
BENCHMARK.json.

    python3 perfbench/spread.py --workload api_mix --seeds 1-10 [--trace 0]

Writes every run's final line to perfbench-out/spread-<workload>.jsonl.
Exits 1 if a run failed or an end-to-end spread is not below a third of
its bound.  ``setup_s`` is printed against its bound too but does not
decide the exit code: only its median is compared between two sets.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    os.makedirs(os.path.join(ROOT, "perfbench-out"), exist_ok=True)
    log = os.path.join(ROOT, "perfbench-out", f"spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    ok = True
    with open(log, "a") as out:
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
            host = detail.get("host", {})
            out.write(json.dumps({"seed": seed, "wall_s": wall, "detail": detail, **res}) + "\n")
            out.flush()
            print(f"seed {seed}: wall {wall:.1f}s steal {host.get('cpu_steal_frac_measure', 0):.3f} "
                  f"correct={res['correct']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            ok &= res["correct"] and res["failed"] == 0
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) < 2 or med == 0:
            print(f"{k:36s} median {med:.5g} (n={len(vs)})")
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(k)
        flag = ""
        if bound is not None:
            good = spread < bound / 3
            flag = f"bound {bound} -> {'ok' if good else 'TOO WIDE'}"
            if k == "setup_s":  # its spread is not gated, only its median
                flag += " (not gated)"
            else:
                ok &= good
        print(f"{k:36s} median {med:.5g} spread {spread:.3f} {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
