"""Traced run: each op replayed as its chain of public layer calls.

The timed runs (``--trace 0``) only see whole ops. The traced run
(``--trace 1``) runs each op kind of the workload once untraced, for its
latency, its answer check and its Spark job/stage/task counts, and then
replays the op as the chain of public calls it is built from, each call
in a span:

    HudiTable(path) (config + Timeline.load) -> get_file_slices (or
    HudiPyReader.partitions, or get_file_slices with filters) ->
    read_record_index or read_column_stats -> read_log_file over the
    planned logs -> the read-optimized scan of the planned slices (base
    files only, one Spark job)

and for a commit: tag_index_handle -> upsert (which loads the timeline
and lists the table itself) -> compact when due.

Each step runs once and is not repeated by a later one: the last read
scans the slices already planned and does not re-plan or re-decode. The
chain leaves out what only the op does: the merge of log records into
base rows (on the executors), the op's final aggregate or filter, and
per-job overhead. That is the unattributed remainder, the untraced
latency minus the spans. It goes negative when a replayed step costs
more alone than inside the op: ``read_log_file`` decodes every planned log
serially on the driver, while the op decodes them on the executors in
parallel. A commit is replayed by writing the next batch, so a commit's
remainder also holds the difference between two commits.

Spans (name, layer, start, end, parent, op id) stay in memory and are
written once at the end to ``.perfbench_out/`` in the repository root.

A layer profile then measures every per-layer metric on the workload's
table, each call in a span (op id -1), so every workload reports the same
metric names and emits spans for every layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from datagen import PARTITION
from oracle import summary_of
from probes import tree_bytes
from report import Result

LAYERS = ("timeline", "fs", "plans", "metadata", "logfile",
          "sources.hudi", "sources.pyds", "write")


@dataclass
class Span:
    name: str
    layer: str | None
    start: float
    end: float
    parent: int | None
    op: int
    id: int = 0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str | None, op: int):
        s = Span(name, layer, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None, op, len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def self_times(self, op: int) -> dict[str, float]:
        """Per-layer self time of one op: span time minus child spans."""
        spans = [s for s in self.spans if s.op == op]
        child = {s.id: 0.0 for s in spans}
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in spans:
            if s.layer:
                out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[s.id]
        return out


def _log_paths(table, slices) -> list[str]:
    return [
        f"{table.path}/{sl.partition_path}/{lf.file_name}" if sl.partition_path
        else f"{table.path}/{lf.file_name}"
        for sl in slices for lf in sl.log_files
    ]


def _decode_logs(paths):
    from hudi_rs_spark.logfile.reader import read_log_file

    return sum(len(read_log_file(p)) for p in paths)


def _scan_bases(table, slices) -> int:
    """The read-optimized scan of slices already planned: base files only,
    in one Spark job, without planning again. Every read API hands its
    planned slices to ``HudiTable._execute_slices``; no public call takes
    a list of slices, and one ``read_file_slice`` per slice would add a
    plan per slice that the op never builds."""
    from hudi_rs_spark import HudiReadOptions

    ro = HudiReadOptions(use_read_optimized_mode=True)
    return table._execute_slices(slices, None, ro).count()


def _replay_read(w, kind: str, tr: Tracer, op: int) -> None:
    """Replay one read op of ``w`` as its layer chain.

    Each span is one step the op itself takes, run once: loading the
    table (config and timeline), planning, the index reads, decoding the
    planned logs, and the read-optimized scan of the planned base files.
    What the chain leaves out (the merge of logs into base rows, the
    final aggregate, per-job overhead) is the op's unattributed remainder."""
    from hudi_rs_spark import HudiTable
    from hudi_rs_spark.metadata.column_stats import read_column_stats
    from hudi_rs_spark.metadata.record_index import read_record_index
    from hudi_rs_spark.plans.partition_pruner import Filter
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable

    t = w.t
    with tr.span("HudiTable(Timeline.load)", "timeline", op):
        table = HudiTable(t.path, t.spark)
    if kind == "snapshot_sql":
        # the connector plans on the driver; its executors read the slices
        schema = _as_nullable(table.get_schema())
        with tr.span("HudiPyReader.partitions", "sources.pyds", op):
            HudiPyReader(table, {"path": t.path}, schema).partitions()
        slices = table.get_file_slices()  # the same plan, outside the chain
    elif kind == "pruned_read":
        month, price = t.gen.month_filter()
        filters = [Filter(PARTITION, "=", month), Filter("l_extendedprice", ">", str(price))]
        with tr.span("get_file_slices(filters)", "plans", op):
            slices = table.get_file_slices(None, filters)
        with tr.span("read_column_stats", "metadata", op):
            read_column_stats(t.path, {"l_extendedprice"})
    elif kind == "lookup":
        with tr.span("read_record_index", "metadata", op):
            located = set(read_record_index(t.path, set(t.gen.lookup_keys())).values())
        with tr.span("get_file_slices", "fs", op):
            slices = table.get_file_slices()
        slices = [s for s in slices if (s.partition_path, s.file_id) in located]
    elif kind == "incremental":
        tl = table.timeline
        with tr.span("commit metadata", "timeline", op):
            touched = {(ws.partition_path, ws.file_id)
                       for i in tl.instants_in_range(t.instants[w.inc_from],
                                                     tl.latest_commit_timestamp())
                       for ws in tl.metadata_for(i).write_stats}
        with tr.span("get_file_slices", "fs", op):
            slices = table.get_file_slices()
        slices = [s for s in slices if (s.partition_path, s.file_id) in touched]
    else:  # snapshot_api, time_travel
        as_of = t.instants[w.middle] if kind == "time_travel" else None
        with tr.span("get_file_slices", "fs", op):
            slices = table.get_file_slices(as_of)
    with tr.span("read_log_file", "logfile", op):
        _decode_logs(_log_paths(t, slices))
    with tr.span("scan(read_optimized)", "sources.hudi", op):
        _scan_bases(table, slices)


def _replay_commit(w, tr: Tracer, op: int, compact: bool) -> dict[str, float]:
    """One traced commit: tagging, the upsert that reuses the tags and
    (when due) compaction. The upsert loads the timeline and lists the
    table itself, so those steps are part of its span."""
    from hudi_rs_spark.write import compact as run_compaction
    from hudi_rs_spark.write import upsert
    from hudi_rs_spark.write.upsert import tag_index_handle

    t = w.t
    batch, df = t.prepare(w.scale.ingest_batch)
    logs_before = _log_bytes(t.path)
    out = {}
    with tr.span("tag_index_handle", "write", op) as s:
        handle = tag_index_handle(t.spark, t.path)
    out["write.tag_index_s"] = s.end - s.start
    with tr.span("upsert", "write", op) as s:
        upsert(df, t.path, index_handle=handle)
    out["write.upsert_s"] = s.end - s.start
    t.oracle.apply(batch)
    t.instants.append(t.latest_instant())
    out["write.log_bytes_per_commit"] = _log_bytes(t.path) - logs_before
    if compact:
        with tr.span("compact", "write", op) as s:
            run_compaction(t.spark, t.path)
        out["write.compact_s"] = s.end - s.start
    return out


def _log_bytes(path: str) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        if ".hoodie" in dirs:
            dirs.remove(".hoodie")
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if ".log." in f)
    return total


PROFILE_OP = -1  # op id of the layer profile's spans


def _measure(tr: Tracer, name: str, layer: str, fn, n: int = 3):
    """Run ``fn`` ``n`` times, each in a profile span; returns the median
    duration and the last result."""
    times, out = [], None
    for _ in range(n):
        with tr.span(name, layer, PROFILE_OP) as s:
            out = fn()
        times.append(s.end - s.start)
    return statistics.median(times), out


def _profile(w, tr: Tracer) -> dict[str, float]:
    """Every per-layer metric, measured on the workload's table."""
    from hudi_rs_spark import HudiReadOptions, HudiTable
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.metadata.column_stats import read_column_stats
    from hudi_rs_spark.metadata.record_index import read_record_index
    from hudi_rs_spark.plans.partition_pruner import Filter
    from hudi_rs_spark.sources.pyds import HudiPyReader, _as_nullable
    from hudi_rs_spark.timeline.timeline import Timeline

    t = w.t
    m: dict[str, float] = {}
    cfg = HudiTableConfig.from_base_path(t.path)
    m["timeline.load_s"], tl = _measure(
        tr, "Timeline.load", "timeline", lambda: Timeline.load(t.path, cfg))
    m["timeline.instants"] = len(tl.instants)

    table = HudiTable(t.path, t.spark)
    m["fs.plan_s"], slices = _measure(tr, "get_file_slices", "fs", table.get_file_slices)
    m["fs.slices"] = len(slices)
    m["fs.log_files_per_slice"] = sum(len(s.log_files) for s in slices) / len(slices)

    month, price = t.gen.month_filter()
    filters = [Filter(PARTITION, "=", month), Filter("l_extendedprice", ">", str(price))]
    m["plans.pruned_plan_s"], kept = _measure(
        tr, "get_file_slices(filters)", "plans",
        lambda: table.get_file_slices(None, filters))
    m["plans.slices_kept_ratio"] = len(kept) / len(slices)

    keys = t.gen.lookup_keys()
    m["metadata.record_index_s"], found = _measure(
        tr, "read_record_index", "metadata",
        lambda: read_record_index(t.path, set(keys)))
    m["metadata.keys_found_ratio"] = len(found) / len(keys)
    m["metadata.column_stats_s"], _ = _measure(
        tr, "read_column_stats", "metadata",
        lambda: read_column_stats(t.path, {"l_extendedprice"}))

    paths = _log_paths(t, slices)
    decode, blocks = _measure(tr, "read_log_file", "logfile",
                              lambda: _decode_logs(paths), 1)
    size = sum(os.path.getsize(p) for p in paths)
    m["logfile.decode_s"] = decode
    m["logfile.blocks"] = blocks
    m["logfile.bytes"] = size
    m["logfile.decode_mb_per_s"] = size / 1e6 / decode if decode > 0 else 0.0

    # Spark-job reads: one sample each, to keep the traced run short
    ro = HudiReadOptions(use_read_optimized_mode=True)
    m["sources.hudi.read_optimized_s"], _ = _measure(
        tr, "read(read_optimized)", "sources.hudi",
        lambda: summary_of(HudiTable(t.path, t.spark).read(ro)), 1)
    snap, _ = _measure(tr, "read", "sources.hudi",
                       lambda: summary_of(HudiTable(t.path, t.spark).read()), 1)
    m["sources.hudi.snapshot_s"] = snap
    m["sources.hudi.merge_share"] = (snap - m["sources.hudi.read_optimized_s"]) / snap
    widest = max(slices, key=lambda s: len(s.log_files))
    m["sources.hudi.read_file_slice_s"], _ = _measure(
        tr, "read_file_slice", "sources.hudi",
        lambda: table.read_file_slice(widest).count(), 1)

    schema = _as_nullable(table.get_schema())
    m["sources.pyds.partitions_s"], parts = _measure(
        tr, "HudiPyReader.partitions", "sources.pyds",
        lambda: HudiPyReader(HudiTable(t.path), {"path": t.path}, schema).partitions())
    m["sources.pyds.partitions"] = len(parts)

    # the write probe comes last: it changes the table
    probe = _replay_commit(w, tr, PROFILE_OP, compact=True)
    m.update(probe)
    total = tree_bytes(t.path)
    m["write.mdt_bytes_share"] = tree_bytes(os.path.join(t.path, ".hoodie", "metadata")) / total
    return m


# every per-layer metric with its unit (BENCHMARK.json "per_layer")
PER_LAYER = {
    "timeline.load_s": "s", "timeline.instants": "count",
    "fs.plan_s": "s", "fs.slices": "count", "fs.log_files_per_slice": "count",
    "plans.pruned_plan_s": "s", "plans.slices_kept_ratio": "ratio",
    "metadata.record_index_s": "s", "metadata.keys_found_ratio": "ratio",
    "metadata.column_stats_s": "s",
    "logfile.decode_s": "s", "logfile.blocks": "count", "logfile.bytes": "bytes",
    "logfile.decode_mb_per_s": "MB/s",
    "sources.hudi.read_optimized_s": "s", "sources.hudi.snapshot_s": "s",
    "sources.hudi.merge_share": "ratio", "sources.hudi.read_file_slice_s": "s",
    "sources.pyds.partitions_s": "s", "sources.pyds.partitions": "count",
    "write.tag_index_s": "s", "write.upsert_s": "s", "write.compact_s": "s",
    "write.log_bytes_per_commit": "bytes", "write.mdt_bytes_share": "ratio",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    # self time per op, for the layers on every workload's op chains (a
    # layer a workload never calls would report a constant 0)
    "self.timeline_s": "s", "self.fs_s": "s", "self.logfile_s": "s",
    "self.sources.hudi_s": "s", "self.unattributed_s": "s",
}


def run(name: str, w, counter, work: str) -> Result:
    tr = Tracer()
    failed = attempted = 0
    counts = []
    rows: list[tuple[str, float, dict[str, float], float]] = []
    for op, kind in enumerate(w.kinds):
        k, fn = w.next_op()
        assert k == kind
        attempted += 1
        (ok, _), secs, jc = counter.run(fn)
        counts.append(jc)
        failed += not ok
        with tr.span(kind, None, op):
            if kind == "commit":
                _replay_commit(w, tr, op, compact=False)
            else:
                _replay_read(w, kind, tr, op)
        selfs = tr.self_times(op)
        rows.append((kind, secs, selfs, secs - sum(selfs.values())))

    metrics = _profile(w, tr)
    n = len(counts)
    metrics["spark.jobs_per_op"] = sum(c[0] for c in counts) / n
    metrics["spark.stages_per_op"] = sum(c[1] for c in counts) / n
    metrics["spark.tasks_per_op"] = sum(c[2] for c in counts) / n
    for layer in ("timeline", "fs", "logfile", "sources.hudi"):
        metrics[f"self.{layer}_s"] = sum(r[2].get(layer, 0.0) for r in rows) / len(rows)
    metrics["self.unattributed_s"] = sum(r[3] for r in rows) / len(rows)

    lines = ["op kind        latency_s  " + "  ".join(f"{l:>12}" for l in LAYERS)
             + "  unattributed"]
    for kind, secs, selfs, rest in rows:
        lines.append(f"{kind:<14} {secs:9.3f}  "
                     + "  ".join(f"{selfs.get(l, 0.0):12.3f}" for l in LAYERS)
                     + f"  {rest:12.3f}")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(work)), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"spans-{os.path.basename(work)}.json")
    with open(out, "w") as f:
        json.dump({"spans": [asdict(s) for s in tr.spans],
                   "self_times": [{"op": k, "latency_s": s, "self_s": d, "unattributed_s": r}
                                  for k, s, d, r in rows]}, f, indent=1)
    lines.append(f"spans: {len(tr.spans)} written to {os.path.relpath(out)}")
    lines.append("span layers: " + " ".join(sorted({s.layer for s in tr.spans if s.layer})))
    assert set(metrics) == set(PER_LAYER), set(metrics) ^ set(PER_LAYER)
    result = Result(name, attempted, failed,
                    {k: (float(v), PER_LAYER[k]) for k, v in metrics.items()}, {}, lines,
                    timed=False)
    result.named.update(result.metrics)
    return result
