"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at the ``tiny`` scale (the 6,000 rows of TPC-H
sf0.001), timed and traced, and checks that each run exits 0, passes its
answer check, reports exactly the metrics BENCHMARK.json names, prints
every op-kind metric of its workload, and (traced) emits spans for every
layer. Then checks that a directory holding only BENCHMARK.json and
perfbench/ makes the benchmark fail without a result. Exits non-zero if
any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from tracing import LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "mor_scan": ("snapshot_sql_p50_s", "snapshot_api_p50_s",
                 "time_travel_p50_s", "incremental_p50_s"),
    "keyed_lookup": ("lookup_p50_s", "lookup_p90_s", "pruned_read_p50_s"),
    "upsert_ingest": ("commit_p50_s", "commit_p90_s", "ingest_rows_per_s",
                      "incremental_p50_s"),
}
COMMON = ("setup_s", "bytes_per_user_byte", "failed_op_ratio", "peak_rss_mb",
          "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op")


def _run(cwd: str, workload: str, trace: int, extra: list[str]):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)] + extra
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {0: {m["name"] for m in spec["end_to_end"]},
              1: {m["name"] for m in spec["per_layer"]}}
    extra = ["--scale", "tiny"]
    problems = []
    for workload in NAMED:
        for trace in (0, 1):
            r = _run(ROOT, workload, trace, extra)
            tag = f"{workload} trace={trace}"
            before = len(problems)
            if r.returncode != 0:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            lines = r.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            printed = {ln.split(" = ")[0] for ln in lines[:-1] if " = " in ln}
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: {result['failed']} of {result['attempted']} ops failed")
            if set(result["metrics"]) != wanted[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(result['metrics']) ^ wanted[trace])}")
            if trace == 0:
                missing = set(NAMED[workload] + COMMON) - printed
                if missing:
                    problems.append(f"{tag}: report lacks {sorted(missing)}")
            else:
                layers = next((ln.split(": ", 1)[1].split() for ln in lines
                               if ln.startswith("span layers: ")), [])
                if set(layers) != set(LAYERS):
                    problems.append(f"{tag}: spans cover {layers}, not every layer")
            if len(problems) == before:
                print(f"ok {tag}: {result['attempted']} ops", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        r = _run(bare, "mor_scan", 0, [])
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if r.returncode == 0 or r.stdout.strip():
        problems.append("without the package the benchmark must fail with no output")
    else:
        print(f"ok without the package: exit {r.returncode}, no output")

    for msg in problems:
        print(f"FAIL {msg}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
