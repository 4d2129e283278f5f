"""Self-test of the benchmark itself (about 3 minutes on 4 cores).

    python3 perfbench/selftest.py

1. Inputs are reproducible: one seed gives one table hash, request-
   stream hash and corpus hash; another seed gives others.
2. Each workload runs once at self-test size (``--tiny``: sf 0.001
   tables, a 4-ledger corpus) and emits every end-to-end metric named in
   BENCHMARK.json with its unit, all correct.
3. Each workload runs traced with ``--perturb`` (one oracle row dropped,
   one expected API row altered, one ledger's fee changed in a copy of
   the corpus): every per-layer metric is emitted with its unit, and the
   checks catch the corruption -- ``bench.failed_frac`` is above 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from api_mix import build_requests  # noqa: E402
from inputs import make_tables, requests_hash, table_hash  # noqa: E402
from ledgers import LedgerCorpus, write_corpus  # noqa: E402
from run import WORKLOADS  # noqa: E402


def _hashes(seed: int, tmp: str) -> tuple[str, str, str]:
    corpus_dir = os.path.join(tmp, f"corpus-{seed}")
    _, _, corpus = write_corpus(LedgerCorpus(seed, 4, 8), corpus_dir)
    return (table_hash(make_tables(seed, 0.001)),
            requests_hash(build_requests(seed, 10)), corpus)


def _run(workload: str, *flags: str) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--tiny", *flags],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode:
        raise AssertionError(f"{workload} {flags}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _expect_metrics(res: dict, spec: list[dict], what: str) -> None:
    got = res["metrics"]
    for m in spec:
        if m["name"] not in got:
            raise AssertionError(f"{what}: metric {m['name']} missing")
        if got[m["name"]]["unit"] != m["unit"]:
            raise AssertionError(f"{what}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    if set(got) != {m["name"] for m in spec}:
        raise AssertionError(f"{what}: unexpected metrics {set(got) - {m['name'] for m in spec}}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tmp = os.path.join(ROOT, "perfbench-out", "selftest")
    os.makedirs(tmp, exist_ok=True)

    a, b, c = _hashes(1, tmp), _hashes(1, tmp), _hashes(2, tmp)
    assert a == b, f"seed 1 is not reproducible: {a} vs {b}"
    assert all(x != y for x, y in zip(a, c)), f"seeds 1 and 2 share an input: {a} vs {c}"
    print(f"inputs reproducible: seed 1 -> {a}, seed 2 -> {c}")

    for w in WORKLOADS:
        res = _run(w, "--trace", "0")
        _expect_metrics(res, spec["end_to_end"], f"{w} --trace 0")
        assert res["correct"] and res["failed"] == 0, f"{w}: {res}"
        assert all(v["value"] > 0 for v in res["metrics"].values()), f"{w}: zero metric {res}"
        print(f"{w}: {len(res['metrics'])} end-to-end metrics, {res['attempted']} ops correct")

        res = _run(w, "--trace", "1", "--perturb")
        _expect_metrics(res, spec["per_layer"], f"{w} --trace 1")
        frac = res["metrics"]["bench.failed_frac"]["value"]
        assert not res["correct"] and frac > 0, f"{w}: perturbed run passed its checks: {res}"
        print(f"{w}: {len(res['metrics'])} per-layer metrics; perturbed check failed_frac={frac:.3f}")
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
