"""Metrics of one run: the JSON result line and the human-readable report.

The result line carries the metrics every workload reports, so runs of
different workloads are comparable by name (``end_to_end`` with
``--trace 0``, ``per_layer`` with ``--trace 1`` in BENCHMARK.json). The
report lines above it also name each op kind's own latency metrics
(``snapshot_sql_p50_s``, ``lookup_p90_s``, ``commit_p50_s``, ...).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

from probes import tree_bytes


def p50(values: list[float]) -> float:
    return statistics.median(values)


def p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile: a real sample, never interpolated."""
    s = sorted(values)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class Result:
    workload: str
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    lines: list[str] = field(default_factory=list)
    timed: bool = True

    def finish(self, peak_rss_mb: float, setup_s: float) -> None:
        both = {"peak_rss_mb": (peak_rss_mb, "MB"), "setup_s": (setup_s, "s")}
        self.named.update(both)
        if self.timed:
            self.metrics.update(both)

    def line(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
        }

    def print_report(self, args) -> None:
        mode = "traced replay" if not self.timed else "timed closed loop"
        print(f"# {self.workload} seed={args.seed} scale={args.scale} ({mode})")
        for name, (v, u) in sorted(self.named.items()):
            print(f"{name} = {v:.6g} {u}")
        for ln in self.lines:
            print(ln)


def timed(workload: str, ops, table, setup_s: float) -> Result:
    failed = sum(1 for o in ops if not o.ok)
    by_kind: dict[str, list] = {}
    for o in ops:
        if o.ok:
            by_kind.setdefault(o.kind, []).append(o)
    named: dict[str, tuple[float, str]] = {}
    p50s = []
    for kind, rs in by_kind.items():
        secs = [o.seconds for o in rs]
        p50s.append(p50(secs))
        named[f"{kind}_p50_s"] = (p50(secs), "s")
        named[f"{kind}_p90_s"] = (p90(secs), "s")
    commits = by_kind.get("commit", [])
    if commits:
        named["ingest_rows_per_s"] = (
            sum(o.rows for o in commits) / sum(o.seconds for o in commits), "1/s")
    ok_ops = [o for o in ops if o.ok]
    n = max(len(ok_ops), 1)
    user = table.oracle.live_bytes
    on_disk = tree_bytes(table.path)
    named["failed_op_ratio"] = (failed / len(ops), "ratio")
    named["spark.jobs_per_op"] = (sum(o.jobs for o in ok_ops) / n, "count")
    named["spark.stages_per_op"] = (sum(o.stages for o in ok_ops) / n, "count")
    named["spark.tasks_per_op"] = (sum(o.tasks for o in ok_ops) / n, "count")
    metrics: dict[str, tuple[float, str]] = {}
    if ok_ops:
        metrics["op_p50_s"] = (geomean(p50s), "s")
    metrics["bytes_per_user_byte"] = (on_disk / user, "ratio")
    named.update(metrics)
    lines = [
        f"ops: {len(ops)} attempted, {failed} failed; samples per kind: "
        + ", ".join(f"{k} {len(v)}" for k, v in by_kind.items()),
        f"table: {on_disk} bytes on disk for {user:.0f} bytes of live user data",
    ]
    return Result(workload, len(ops), failed, metrics, named, lines)
