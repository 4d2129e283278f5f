"""Run context shared by the workloads: the session, the tracer, the
status-store reader, operation accounting and per-operation exec
records."""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field

from probes import StatusReader, Tracer


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default), 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Context:
    seed: int
    seconds: float
    work_dir: str
    tracer: Tracer
    cores: int
    tiny: bool = False
    perturb: bool = False
    spark: object = None
    status: StatusReader | None = None
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    exec_records: list[dict] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def set_group(self, group: str | None) -> None:
        """Job group for the calling thread, so the status store can
        attribute jobs to one operation and phase."""
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def record_exec(self, group: str, wall_s: float, jobs: list) -> dict:
        """Read the finished ``jobs`` of ``group`` into one exec record."""
        t0 = time.perf_counter()
        rec = self.status.exec_record(jobs, wall_s, self.cores)
        rec["group"] = group
        rec["wall_s"] = wall_s
        self.exec_records.append(rec)
        self.layer["trace.probe_s"] = self.layer.get("trace.probe_s", 0.0) + time.perf_counter() - t0
        return rec

    def exec_summary(self) -> dict[str, float]:
        """Per-layer ``exec.*`` numbers summed over every exec record."""
        recs = self.exec_records
        out: dict[str, float] = {}
        for key in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "records_read",
                    "bytes_read", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "failed_tasks", "single_task_scan_stages", "wall_s"):
            out[f"exec.{key}"] = float(sum(r[key] for r in recs))
        wall = out["exec.wall_s"]
        out["exec.cpu_busy_frac"] = out["exec.run_s"] / (wall * self.cores) if wall else 0.0
        out["exec.slowest_task_share"] = median([r["slowest_task_share"] for r in recs if r["stages"]])
        out["exec.unreconciled_records"] = float(sum(not r["reconciled"] for r in recs))
        return out
