"""Table validation — the operational twin of Hudi's
HoodieMetadataTableValidator: cross-check every independent metadata
path against storage and each other, and report inconsistencies BEFORE
they become wrong query results.

Checks (each independent, all driver-side metadata reads):

1. timeline      — every completed instant file parses; no two instants
                   share a timestamp (the claim layer's invariant).
2. files         — every live slice's base/log files exist on storage.
3. mdt_listing   — the MDT files-partition listing equals a direct
                   storage walk (slice-for-slice).
4. record_index  — sampled live record keys resolve to their actual
                   (partition, file group); sampled index entries point
                   at live groups.
5. stale_claims  — `.requested` claim markers older than the newest
                   completed instant with no matching completed instant
                   (crashed writers; `rollback_failed_writes` reclaims).
6. orphan_files  — data files not reachable from any completed instant
                   and older than the newest completed instant
                   (failed-write residue; rollback reclaims).
7. bucket        — on bucket tables: every file group is bucket-named,
                   no (partition, bucket) has two groups, and every
                   leaf is consistent with the split trie.
8. bloom_filters — sampled live base-file keys test POSITIVE in their
                   file's bloom (a false negative = wrong tag pruning).
9. expr_index    — stored expression intervals CONTAIN the recomputed
                   min/max on sampled files (a shrunk interval = wrong
                   query pruning); needs ``spark=`` to recompute,
                   reported as skipped otherwise.

Returns ``{"healthy": bool, "checks": {name: {"ok": bool, "problems":
[...]}}}`` — problems are capped per check (the report is a signal, not
a dump). At 100 TB every check is metadata-sized except the existence
scan, which batches one listing per partition directory.
"""

from __future__ import annotations

import os

_CAP = 20  # max problems reported per check


def validate_table(path: str, sample_keys: int = 64, spark=None) -> dict:
    from hudi_rs_spark.config.table_config import HudiTableConfig
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(path)
    st = _fs(base)
    tc = HudiTableConfig.from_base_path(path)
    table = HudiTable(base, spark=None, listing="direct")
    slices = table.get_file_slices()
    checks: dict[str, dict] = {}

    def record(name, problems):
        checks[name] = {"ok": not problems, "problems": problems[:_CAP]}

    # 1. timeline
    problems = []
    seen_ts: dict[str, str] = {}
    for i in table.timeline.instants:
        prior = seen_ts.get(i.timestamp)
        if prior is not None and prior != i.action.value:
            problems.append(
                f"timestamp {i.timestamp} used by two actions "
                f"({prior}, {i.action.value})"
            )
        seen_ts[i.timestamp] = i.action.value
        if i.is_completed:
            try:
                table.timeline.metadata_for(i)
            except Exception as e:  # noqa: BLE001 — report, don't raise
                problems.append(f"unparseable metadata for {i.timestamp}: {e}")
    record("timeline", problems)

    # 2. files exist — the direct listing derives FROM storage (a lost
    # file just vanishes from it), so the independent authority is the
    # commit metadata: every path a completed instant wrote must exist
    # unless a .clean instant deleted it (or it predates the newest
    # clean boundary — aged residue clean already passed over)
    problems = []
    clean_deleted, clean_boundary = table.timeline.clean_deletions()
    for i in table.timeline.instants:
        if not i.is_completed:
            continue
        try:
            meta = table.timeline.metadata_for(i)
        except Exception:  # noqa: BLE001
            continue  # reported by the timeline check
        for ws in meta.write_stats:
            rel = (ws.path or "").lstrip("/")
            if not rel or rel in clean_deleted:
                continue
            if clean_boundary and i.timestamp < clean_boundary:
                continue  # clean already swept this commit's era
            if not st.isfile(f"{base}/{rel}"):
                problems.append(
                    f"file {rel} written by {i.timestamp} is missing"
                )
    record("files", problems)

    # 3. MDT listing parity
    problems = []
    meta_parts = tc.props.get("hoodie.table.metadata.partitions", "")
    if "files" in meta_parts:
        try:
            mdt_slices = HudiTable(
                base, spark=None, listing="mdt"
            ).get_file_slices()

            def key(s):
                return (
                    s.partition_path or "",
                    s.file_id,
                    s.base_file.file_name if s.base_file else None,
                    tuple(sorted(lf.file_name for lf in s.log_files)),
                )

            direct_v, mdt_v = {key(s) for s in slices}, {key(s) for s in mdt_slices}
            for k in sorted(direct_v - mdt_v):
                problems.append(f"slice missing from MDT listing: {k[:2]}")
            for k in sorted(mdt_v - direct_v):
                problems.append(f"phantom slice in MDT listing: {k[:2]}")
        except Exception as e:  # noqa: BLE001
            problems.append(f"MDT listing unreadable: {e}")
    record("mdt_listing", problems)

    # 4. record index spot check
    problems = []
    if "record_index" in meta_parts:
        import pyarrow.parquet as pq

        from hudi_rs_spark.metadata.record_index import read_record_index

        live_groups = {(s.partition_path or "", s.file_id) for s in slices}
        # (key -> (group, slice_has_logs)): a base-file key whose slice
        # carries LOG files may be tombstoned there, so index ABSENCE is
        # only conclusive for log-free slices; a wrong LOCATION is a
        # problem either way
        sampled: dict[str, tuple[tuple[str, str], bool]] = {}
        for sl in slices:
            if len(sampled) >= sample_keys:
                break
            if sl.base_file is None:
                continue
            rel = sl.base_file_relative_path()
            try:
                t = pq.read_table(
                    f"{base}/{rel}", columns=["_hoodie_record_key"]
                )
            except Exception:  # noqa: BLE001 — existence already checked
                continue
            for k in t["_hoodie_record_key"].to_pylist()[: max(
                1, sample_keys // max(1, len(slices))
            )]:
                sampled[k] = (
                    (sl.partition_path or "", sl.file_id),
                    bool(sl.log_files),
                )
        if sampled:
            idx = read_record_index(base, set(sampled))
            for k, (expected, has_logs) in sampled.items():
                got = idx.get(k)
                if got is None:
                    if not has_logs:
                        problems.append(
                            f"live key {k!r} absent from record index"
                        )
                elif tuple(got) not in live_groups:
                    problems.append(f"key {k!r} indexed to dead group {got}")
    record("record_index", problems)

    # 5. stale claims
    problems = []
    from hudi_rs_spark.write.config import WriteConfig
    from hudi_rs_spark.write.writer import timeline_dir

    tdir = timeline_dir(
        WriteConfig(path=base, table_version=tc.table_version)
    )
    completed_ts = {i.timestamp for i in table.timeline.instants if i.is_completed}
    newest = max(completed_ts) if completed_ts else ""
    if st.isdir(tdir):
        for e in st.list_dir(tdir):
            if e.is_dir or not e.name.endswith(".requested"):
                continue
            if e.name.endswith(".compaction.requested") or e.name.endswith(
                ".clustering.requested"
            ):
                # durable scheduled-service plans (write/async_compact.py,
                # write/async_cluster.py), not crashed claims: committed
                # logs anchor at their instants while they stay pending
                continue
            ts = e.name.split(".")[0].split("_")[0]
            if ts < newest and ts not in completed_ts:
                problems.append(
                    f"stale claim marker {e.name} (crashed writer? "
                    "rollback_failed_writes reclaims)"
                )
    record("stale_claims", problems)

    # 6. orphan data files
    orphans, suspects = classify_orphans(table, st, base)
    problems = [
        f"suspect pre-history file {rel} (ts {ts} predates the "
        "active timeline and no complete archived record covers "
        "it — fabricated or externally-trimmed history)"
        for rel, ts in suspects
    ] + [f"orphan data file {rel}" for rel, _ts in orphans]
    record("orphan_files", problems)

    # 7. bucket invariants (split-trie aware, write/bucket.py)
    problems = []
    from hudi_rs_spark.write.bucket import (
        is_bucket_table,
        num_buckets,
        parse_bucket_leaf,
        parse_splits,
    )

    if is_bucket_table(tc.props):
        n_buckets = num_buckets(tc.props)
        splits = parse_splits(tc.props)
        by_bucket: dict[tuple[str, int], set[str]] = {}
        for sl in slices:
            leaf = parse_bucket_leaf(sl.file_id, n_buckets)
            if leaf is None:
                problems.append(f"non-bucket-named group {sl.file_id}")
                continue
            b, m = leaf
            if (b, m) in splits:
                problems.append(
                    f"group {sl.file_id} is live for SPLIT bucket "
                    f"({b}, {m}) — its replacecommit is missing"
                )
            if m != n_buckets and (b % (m // 2), m // 2) not in splits:
                problems.append(
                    f"group {sl.file_id} names leaf ({b}, {m}) that the "
                    "split map never created"
                )
            by_bucket.setdefault((sl.partition_path or "", b), set()).add(
                sl.file_id
            )
        for (part, b), fids in sorted(by_bucket.items()):
            if len(fids) > 1:
                problems.append(
                    f"bucket ({part!r}, {b}) has {len(fids)} file groups"
                )
    record("bucket", problems)

    # 8. bloom_filters spot check: every sampled live base-file key must
    # test POSITIVE in its file's bloom — a false negative means the
    # upsert tag path would wrongly prune the file and route an update
    # as an insert (silent duplicate). Stale entries for dead files are
    # harmless (candidates are intersected with the live listing).
    problems = []
    if "bloom_filters" in meta_parts:
        import pyarrow.parquet as pq

        from hudi_rs_spark.bloomfilter import _parse, bloom_contains
        from hudi_rs_spark.metadata.bloom_filters import read_bloom_filters

        try:
            blooms = read_bloom_filters(base)
        except Exception as e:  # noqa: BLE001
            blooms = None
            problems.append(f"bloom_filters partition unreadable: {e}")
        if blooms is not None:
            probed = 0
            for sl in slices:
                if probed >= sample_keys or sl.base_file is None:
                    continue
                blob = blooms.get(sl.base_file.file_name)
                if blob is None:
                    continue  # file written before the bloom partition
                try:
                    _parse(blob)
                except Exception as e:  # noqa: BLE001
                    problems.append(
                        f"unparseable bloom for {sl.base_file.file_name}: {e}"
                    )
                    continue
                rel = sl.base_file_relative_path()
                try:
                    keys = pq.read_table(
                        f"{base}/{rel}", columns=["_hoodie_record_key"]
                    )["_hoodie_record_key"].to_pylist()
                except Exception:  # noqa: BLE001 — existence checked above
                    continue
                per_file = max(1, sample_keys // max(1, len(slices)))
                for k in keys[:per_file]:
                    probed += 1
                    if not bloom_contains(blob, k):
                        problems.append(
                            f"bloom FALSE NEGATIVE: live key {k!r} of "
                            f"{sl.base_file.file_name} tests absent — "
                            "tagging would wrongly prune this file"
                        )
    record("bloom_filters", problems)

    # 9. expression-index intervals: the stored [min, max] must CONTAIN
    # the expression's actual values on the file — a shrunk interval
    # wrongly prunes (wrong query results); a widened one only costs
    # I/O. Recomputation needs a SparkSession (the expression is
    # Catalyst SQL); without one the check is skipped, not passed
    # silently.
    problems = []
    from hudi_rs_spark.write.expr_index import PROP_PREFIX

    expr_indexes = {
        k[len(PROP_PREFIX):]: v
        for k, v in tc.props.items()
        if k.startswith(PROP_PREFIX)
    }
    skipped_expr = bool(expr_indexes) and spark is None
    if expr_indexes and spark is not None:
        from hudi_rs_spark.metadata.column_stats import read_column_stats

        live_files = {
            sl.base_file.file_name: sl.base_file_relative_path()
            for sl in slices
            if sl.base_file is not None
        }
        for name, expr in sorted(expr_indexes.items()):
            try:
                stats = read_column_stats(
                    base, partition=f"expr_index_{name}"
                )
            except Exception as e:  # noqa: BLE001
                problems.append(f"expr_index_{name} unreadable: {e}")
                continue
            checked = 0
            for fname, cols in sorted(stats.items()):
                if checked >= 4:  # a spot check, not a rebuild
                    break
                rel = live_files.get(fname)
                if rel is None:
                    continue  # entry for a dead file: harmless residue
                for stored_expr, (lo, hi) in cols.items():
                    from pyspark.sql import functions as F

                    row = (
                        spark.read.parquet(f"{base}/{rel}")
                        .select(F.expr(stored_expr).alias("v"))
                        .agg(
                            F.min("v").alias("lo"), F.max("v").alias("hi")
                        )
                        .collect()[0]
                    )
                    checked += 1
                    if row.lo is None:
                        continue
                    if _stat_lt(row.lo, lo) or _stat_lt(hi, row.hi):
                        problems.append(
                            f"expr_index_{name} interval [{lo!r}, {hi!r}] "
                            f"on {fname} does not contain the recomputed "
                            f"[{row.lo!r}, {row.hi!r}] — pruning would "
                            "drop matching files"
                        )
    record("expr_index", problems)
    if skipped_expr:
        checks["expr_index"]["skipped"] = (
            "expression recomputation needs spark=; pass a session to "
            "verify intervals"
        )

    return {
        "healthy": all(c["ok"] for c in checks.values()),
        "checks": checks,
    }


def _stat_lt(a, b) -> bool:
    """a < b with the loose typing of MDT stat cells (numbers may round-
    trip as strings)."""
    try:
        return float(a) < float(b)
    except (TypeError, ValueError):
        return str(a) < str(b)


def classify_orphans(
    table, st, base: str
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(orphans, suspects) as (rel_path, instant) pairs.

    A data file is PROVABLY orphaned only when its embedded instant is
    older than the newest completed instant and is neither completed,
    archived, referenced by any completed commit's write stats, nor
    pending (a scheduled-but-executing compaction/clustering lands its
    outputs BEFORE its .commit publishes — deleting those mid-flight
    would corrupt the service). Files predating the active timeline
    with an incomplete archived record are SUSPECT, not orphaned — the
    readers' fail-open rule keeps them visible (fs/fs_view.py)."""
    completed_ts = {
        i.timestamp for i in table.timeline.instants if i.is_completed
    }
    newest = max(completed_ts) if completed_ts else ""
    pending_ts = set(table.timeline.pending_timestamps)
    reachable: set[str] = set()
    for i in table.timeline.instants:
        if not i.is_completed:
            continue
        try:
            meta = table.timeline.metadata_for(i)
        except Exception:  # noqa: BLE001
            continue
        for ws in meta.write_stats:
            reachable.add((ws.path or "").lstrip("/"))
    archived_ts = table.timeline.archived_completed_timestamps()
    archived_complete = (
        table.timeline.archived_load_complete() if archived_ts is not None
        else False
    )
    earliest_active = min(completed_ts) if completed_ts else ""
    orphans: list[tuple[str, str]] = []
    suspects: list[tuple[str, str]] = []
    for rel, name in _data_files(st, base):
        ts = _instant_of(name)
        if ts is None or ts >= newest:
            continue  # in-flight or unparseable: not provably orphaned
        if ts in completed_ts or ts in pending_ts or rel in reachable:
            continue
        if archived_ts is not None and ts in archived_ts:
            continue  # committed, just archived
        if ts < earliest_active and (
            archived_ts is None or not archived_complete
        ):
            suspects.append((rel, ts))
            continue
        orphans.append((rel, ts))
    return orphans, suspects


def repair_orphan_files(path: str, dry_run: bool = True) -> list[str]:
    """Delete (or with ``dry_run=True``, just list) provably-orphaned
    data files — failed-writer leftovers whose instant was rolled back
    or never completed. Only the conservative ``classify_orphans``
    verdicts are touched: suspects (pre-history files the readers keep
    visible) are NEVER deleted. Returns the affected relative paths.

    Hudi analog: the delete_marker/repair family of CALL procedures;
    the reference's readers apply the same reachability rule per scan
    (crates/core/src/table/fs_view.rs)."""
    from hudi_rs_spark.sources.hudi import HudiTable
    from hudi_rs_spark.write.writer import _base, _fs

    base = _base(path)
    st = _fs(base)
    table = HudiTable(base, spark=None, listing="direct")
    orphans, _suspects = classify_orphans(table, st, base)
    if not dry_run:
        for rel, _ts in orphans:
            st.remove(f"{base}/{rel}")
    return [rel for rel, _ts in orphans]


def _data_files(st, base: str):
    """(relative path, name) for every data file under the table root,
    skipping .hoodie — one recursive listing."""
    skip = frozenset({".hoodie"})
    for rel_dir, name, _size in st.walk_files(base, skip_dirs=skip):
        if name.startswith(".") and ".log." not in name and ".cdc." not in name:
            continue
        yield (f"{rel_dir}/{name}" if rel_dir else name), name


def _instant_of(name: str) -> str | None:
    """Commit timestamp embedded in a data file name (base or log)."""
    base_name = name.lstrip(".")
    if ".log." in name or ".cdc." in name:
        # .{fid}_{instant}.log.{v}_{token} — the anchor instant
        stem = name.lstrip(".").split(".")[0]
        parts = stem.rsplit("_", 1)
        return parts[1] if len(parts) == 2 and parts[1].isdigit() else None
    stem = base_name.rsplit(".", 1)[0]  # strip extension
    parts = stem.rsplit("_", 1)
    return parts[1] if len(parts) == 2 and parts[1].isdigit() else None
