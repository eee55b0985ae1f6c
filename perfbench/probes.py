"""Host-independent counters and resource probes.

- ``JobCounter``: one Spark job group per op; afterwards the status
  tracker gives the op's jobs, stages and tasks. These counts do not
  depend on host speed, so they back up (or refute) a latency claim when
  host drift hides the wall-clock numbers.
- ``RssSampler``: peak resident memory of this process and every
  descendant (the Spark JVM and its Python workers), sampled from /proc.
- ``tree_bytes``: bytes on disk under a directory.
"""

from __future__ import annotations

import os
import threading
import time


class JobCounter:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def run(self, fn):
        """Run ``fn()`` inside a fresh job group; returns
        ``(result, seconds, (jobs, stages, tasks))``."""
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        out = fn()
        elapsed = time.perf_counter() - t0
        return out, elapsed, self.counts(group)

    def counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:  # skipped stage: planned, never run
                    continue
                stages += 1
                tasks += st.numTasks
        return len(jobs), stages, tasks


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in tree_pids(os.getpid()))
        self.peak = max(self.peak, total)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
