"""Log-only file groups (file slices with NO base file).

The reference explicitly rejects these ("File slices without a base
file (log-only groups) are not yet supported", docs/reader-spec.md §4
notes) — they occur in real MOR tables when a deltacommit inserts into
a log-indexed file group before its first compaction. We support them
by merging the logs against an empty base, in both the eager path
(sources/hudi.py) and the connector (sources/pyds.py).
"""

from __future__ import annotations

import pytest

import os

from hudi_rs_spark.sources.hudi import HudiTable
from tests.synth import SynthTable, avro_schema, delete_block, parquet_data_block

C1 = "20240101000000000"
C2 = "20240102000000000"
C3 = "20240103000000000"

SCHEMA = avro_schema([("id", "string"), ("ts", "long"), ("val", "string")])


def _mixed_table(tmp_path) -> SynthTable:
    """g1-0: normal base group at C1. g2-0: log-only group created by a
    log insert at C2, updated by a second log at C3."""
    t = SynthTable(os.path.join(str(tmp_path), "mixed"))
    t.write_base("g1-0", C1, {"id": ["a1"], "ts": [1], "val": ["base"]}, ["a1"])
    t.commit(C1, schema=SCHEMA)
    rows2 = t.log_rows(C2, {"id": ["b1", "b2"], "ts": [1, 1],
                            "val": ["new", "new"]}, ["b1", "b2"], "log")
    t.append_log("g2-0", C2, parquet_data_block(C2, rows2), stats_instant=C2)
    t.commit(C2, schema=SCHEMA)
    rows3 = t.log_rows(C3, {"id": ["b1"], "ts": [2], "val": ["upd"]}, ["b1"], "log")
    t.append_log("g2-0", C2, parquet_data_block(C3, rows3), version=2,
                 stats_instant=C3)
    t.commit(C3, schema=SCHEMA)
    return t


def _log_only_table(tmp_path) -> SynthTable:
    """No base file anywhere: schema comes from commit metadata."""
    t = SynthTable(os.path.join(str(tmp_path), "logonly"))
    rows = t.log_rows(C1, {"id": ["k1", "k2"], "ts": [1, 1],
                           "val": ["x", "y"]}, ["k1", "k2"], "log")
    t.append_log("g1-0", C1, parquet_data_block(C1, rows), stats_instant=C1)
    t.commit(C1, schema=SCHEMA)
    rows2 = t.log_rows(C2, {"id": ["k1"], "ts": [2], "val": ["x2"]}, ["k1"], "log")
    t.append_log("g1-0", C1, parquet_data_block(C2, rows2), version=2,
                 stats_instant=C2)
    t.commit(C2, schema=SCHEMA)
    return t


def _vals(df) -> dict:
    return {r["id"]: r["val"] for r in df.collect() if r["id"] is not None}


class TestEagerLogOnly:
    def test_mixed_snapshot_merges_log_only_group(self, spark, tmp_path):
        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        slices = t.get_file_slices()
        assert sorted(s.file_id for s in slices) == ["g1-0", "g2-0"]
        assert any(s.base_file is None for s in slices)
        assert _vals(t.read()) == {"a1": "base", "b1": "upd", "b2": "new"}

    def test_time_travel_into_log_only_group(self, spark, tmp_path):
        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        from hudi_rs_spark.config.read_config import HudiReadOptions

        got = _vals(t.read(HudiReadOptions(as_of_timestamp=C2)))
        assert got == {"a1": "base", "b1": "new", "b2": "new"}

    def test_read_optimized_hides_log_only_group(self, spark, tmp_path):
        from hudi_rs_spark.config.read_config import HudiReadOptions

        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        got = _vals(t.read(HudiReadOptions(use_read_optimized_mode=True)))
        assert got == {"a1": "base"}

    def test_pure_log_only_table_snapshot(self, spark, tmp_path):
        t = HudiTable(_log_only_table(tmp_path).base_path, spark)
        assert _vals(t.read()) == {"k1": "x2", "k2": "y"}

    def test_pure_log_only_incremental_window(self, spark, tmp_path):
        t = HudiTable(_log_only_table(tmp_path).base_path, spark)
        got = _vals(t.read_incremental(C1, C2))
        assert got == {"k1": "x2"}

    def test_compaction_supersedes_log_only_slice(self, spark, tmp_path):
        """Log-only slice at C1, compaction writes a base at C2: latest
        reads the base; as-of C1 still sees the log-only contents."""
        from hudi_rs_spark.config.read_config import HudiReadOptions

        t = SynthTable(os.path.join(str(tmp_path), "compacted"))
        rows = t.log_rows(C1, {"id": ["k1"], "ts": [1], "val": ["v1"]},
                          ["k1"], "log")
        t.append_log("g1-0", C1, parquet_data_block(C1, rows), stats_instant=C1)
        t.commit(C1, schema=SCHEMA)
        t.write_base("g1-0", C2, {"id": ["k1"], "ts": [1], "val": ["v1"]}, ["k1"])
        t.commit(C2, action="commit", schema=SCHEMA)
        table = HudiTable(t.base_path, spark)
        [sl] = table.get_file_slices()
        assert sl.base_file is not None and sl.commit_timestamp == C2
        assert _vals(table.read()) == {"k1": "v1"}
        [old] = table.get_file_slices(C1)
        assert old.base_file is None and old.commit_timestamp == C1
        assert _vals(table.read(HudiReadOptions(as_of_timestamp=C1))) == {"k1": "v1"}

    def test_table_stats_counts_base_records_only(self, spark, tmp_path):
        # reference semantics: slice record count = base num_records
        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        rows, _size = t.compute_table_stats()
        assert rows == 1


def _three_kinds_table(tmp_path) -> SynthTable:
    """One slice of each kind. g1-0: base only (C1). g2-0: base at C1,
    a log at C2 updating b1 and deleting b2, a second log at C3 updating
    b3. g3-0: log only, inserted at C2, c1 updated at C3."""
    t = SynthTable(os.path.join(str(tmp_path), "three"))
    t.write_base("g1-0", C1, {"id": ["a1", "a2"], "ts": [1, 1],
                              "val": ["base", "base"]}, ["a1", "a2"])
    t.write_base("g2-0", C1, {"id": ["b1", "b2", "b3"], "ts": [1, 1, 1],
                              "val": ["base"] * 3}, ["b1", "b2", "b3"])
    t.commit(C1, schema=SCHEMA)
    upd = t.log_rows(C2, {"id": ["b1"], "ts": [2], "val": ["upd"]}, ["b1"], "log")
    t.append_log("g2-0", C1, parquet_data_block(C2, upd)
                 + delete_block(C2, [("b2", "", 5)]), stats_instant=C2)
    ins = t.log_rows(C2, {"id": ["c1", "c2"], "ts": [1, 1],
                          "val": ["new", "new"]}, ["c1", "c2"], "log")
    t.append_log("g3-0", C2, parquet_data_block(C2, ins), stats_instant=C2)
    t.commit(C2, schema=SCHEMA)
    upd = t.log_rows(C3, {"id": ["b3"], "ts": [3], "val": ["upd"]}, ["b3"], "log")
    t.append_log("g2-0", C1, parquet_data_block(C3, upd), version=2,
                 stats_instant=C3)
    upd = t.log_rows(C3, {"id": ["c1"], "ts": [2], "val": ["upd"]}, ["c1"], "log")
    t.append_log("g3-0", C2, parquet_data_block(C3, upd), version=2,
                 stats_instant=C3)
    t.commit(C3, schema=SCHEMA)
    return t


class TestMixedSliceKinds:
    """Base-only, log-carrying and log-only slices in one read: the
    base-only slice scans natively, the others merge slice by slice
    (pyds._read_slice), and the union holds every live key exactly once
    with no shuffle-merge (no Window) in the plan."""

    @staticmethod
    def _check(df, want: dict):
        rows = [(r["id"], r["val"]) for r in df.collect()]
        assert sorted(k for k, _ in rows) == sorted(want)  # each key once
        assert dict(rows) == want
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "Window" not in plan
        assert "MapInArrow" in plan

    def test_snapshot_time_travel_incremental(self, spark, tmp_path):
        from hudi_rs_spark.config.read_config import HudiReadOptions

        t = HudiTable(_three_kinds_table(tmp_path).base_path, spark)
        kinds = {
            s.file_id: (s.base_file is not None, s.has_log_files)
            for s in t.get_file_slices()
        }
        assert kinds == {
            "g1-0": (True, False), "g2-0": (True, True), "g3-0": (False, True)
        }
        self._check(t.read(), {
            "a1": "base", "a2": "base", "b1": "upd", "b3": "upd",
            "c1": "upd", "c2": "new",
        })
        self._check(t.read(HudiReadOptions(as_of_timestamp=C2)), {
            "a1": "base", "a2": "base", "b1": "upd", "b3": "base",
            "c1": "new", "c2": "new",
        })
        self._check(t.read_incremental(C1), {
            "b1": "upd", "b3": "upd", "c1": "upd", "c2": "new",
        })


class TestPerSliceRead:
    """FileGroupReader::read_file_slice(_from_paths) analog
    (docs/reader-spec.md:131-139): per-slice physical reads union back
    to the full snapshot, and explicit-paths reads match slice reads."""

    def test_slice_reads_union_to_snapshot(self, spark, tmp_path):
        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        got: dict = {}
        for sl in t.get_file_slices():
            got.update(_vals(t.read_file_slice(sl)))
        assert got == _vals(t.read())

    def test_from_paths_matches_slice_read(self, spark, tmp_path):
        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        for sl in t.get_file_slices():
            by_paths = t.read_file_slice_from_paths(
                sl.base_file_relative_path(), sl.log_file_relative_paths()
            )
            assert _vals(by_paths) == _vals(t.read_file_slice(sl))

    def test_from_paths_base_only_skips_logs(self, spark, tmp_path):
        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        [based] = [s for s in t.get_file_slices() if s.base_file is not None]
        got = _vals(
            t.read_file_slice_from_paths(based.base_file_relative_path(), [])
        )
        assert got == {"a1": "base"}

    def test_slice_size_bytes(self, spark, tmp_path):
        t = HudiTable(_mixed_table(tmp_path).base_path, spark)
        for sl in t.get_file_slices():
            expect = (sl.base_file.size if sl.base_file else 0) + sum(
                lf.size for lf in sl.log_files
            )
            assert sl.total_size_bytes() == expect > 0


class TestConnectorLogOnly:
    def test_connector_equals_eager(self, spark, tmp_path):
        from hudi_rs_spark.sources.pyds import HudiPyDataSource

        base = _mixed_table(tmp_path).base_path
        spark.dataSource.register(HudiPyDataSource)
        conn = spark.read.format("hudi_py").option("path", base).load()
        eager = HudiTable(base, spark).read()
        assert _vals(conn) == _vals(eager) == {
            "a1": "base", "b1": "upd", "b2": "new"
        }

    def test_connector_pure_log_only(self, spark, tmp_path):
        from hudi_rs_spark.sources.pyds import HudiPyDataSource

        base = _log_only_table(tmp_path).base_path
        spark.dataSource.register(HudiPyDataSource)
        conn = spark.read.format("hudi_py").option("path", base).load()
        assert _vals(conn) == {"k1": "x2", "k2": "y"}

    def test_connector_read_optimized_skips_log_only(self, spark, tmp_path):
        from hudi_rs_spark.sources.pyds import HudiPyDataSource

        base = _mixed_table(tmp_path).base_path
        spark.dataSource.register(HudiPyDataSource)
        conn = (
            spark.read.format("hudi_py")
            .option("path", base)
            .option("readOptimized", "true")
            .load()
        )
        assert _vals(conn) == {"a1": "base"}


class TestPerSliceStream:
    """``read_file_slice_stream(_from_paths)`` analog of the reference's
    FileGroupReader streaming API (python/hudi/_internal.pyi:140-165,
    file_group/reader.rs:317-547): a slice as an iterator of Arrow
    RecordBatches of exactly ``batch_size`` rows."""

    def _wide_mor_table(self, tmp_path) -> SynthTable:
        """One MOR file group: 10-key base at C1, log update at C2."""
        t = SynthTable(os.path.join(str(tmp_path), "wide"))
        keys = [f"k{i:02d}" for i in range(10)]
        t.write_base(
            "g1-0", C1,
            {"id": keys, "ts": [1] * 10, "val": [f"v{i}" for i in range(10)]},
            keys,
        )
        t.commit(C1, schema=SCHEMA)
        rows = t.log_rows(
            C2, {"id": ["k03"], "ts": [2], "val": ["upd"]}, ["k03"], "log"
        )
        t.append_log("g1-0", C1, parquet_data_block(C2, rows), stats_instant=C2)
        t.commit(C2, schema=SCHEMA)
        return t

    def test_stream_equals_eager_slice_read(self, spark, tmp_path):
        import pyarrow as pa

        t = HudiTable(self._wide_mor_table(tmp_path).base_path, spark)
        [sl] = t.get_file_slices()
        assert sl.has_log_files  # the hard (merge) path
        batches = list(t.read_file_slice_stream(sl, batch_size=3))
        streamed = pa.Table.from_batches(batches)
        got = dict(zip(
            streamed.column("id").to_pylist(), streamed.column("val").to_pylist()
        ))
        assert got == _vals(t.read_file_slice(sl))
        assert got["k03"] == "upd"  # merged, not base, contents

    def test_batch_sizes_honored(self, spark, tmp_path):
        t = HudiTable(self._wide_mor_table(tmp_path).base_path, spark)
        [sl] = t.get_file_slices()
        sizes = [b.num_rows for b in t.read_file_slice_stream(sl, batch_size=3)]
        assert sum(sizes) == 10
        assert all(s == 3 for s in sizes[:-1]) and sizes[-1] <= 3

    def test_from_paths_stream_matches_slice_stream(self, spark, tmp_path):
        import pyarrow as pa

        t = HudiTable(self._wide_mor_table(tmp_path).base_path, spark)
        [sl] = t.get_file_slices()
        via_paths = pa.Table.from_batches(list(
            t.read_file_slice_from_paths_stream(
                sl.base_file_relative_path(),
                sl.log_file_relative_paths(),
                batch_size=4,
            )
        ))
        via_slice = pa.Table.from_batches(
            list(t.read_file_slice_stream(sl, batch_size=4))
        )
        key = lambda tbl: sorted(zip(
            tbl.column("id").to_pylist(), tbl.column("val").to_pylist()
        ))
        assert key(via_paths) == key(via_slice)

    def test_log_only_slice_streams(self, spark, tmp_path):
        import pyarrow as pa

        t = HudiTable(_log_only_table(tmp_path).base_path, spark)
        [sl] = t.get_file_slices()
        assert sl.base_file is None
        tbl = pa.Table.from_batches(list(t.read_file_slice_stream(sl, batch_size=1)))
        got = dict(zip(tbl.column("id").to_pylist(), tbl.column("val").to_pylist()))
        assert got == {"k1": "x2", "k2": "y"}

    def test_zero_batch_size_errors(self, spark, tmp_path):
        import pytest

        t = HudiTable(self._wide_mor_table(tmp_path).base_path, spark)
        [sl] = t.get_file_slices()
        with pytest.raises(ValueError, match="batch_size"):
            list(t.read_file_slice_stream(sl, batch_size=0))

# Driver fast lane (r14, VERDICT r13 item 1): slow-lane suite — infra/
# feature matrix whose surfaces the oracle write rows exercise end-to-end;
# the builder runs the full lane each round via `pytest -m "slow or not slow"`.
pytestmark = pytest.mark.slow
