"""Round-6 self-review fixes: storage backend details, derived-feed
replacecommit/no-meta-fields correctness, CDC cleaned-file tolerance.
"""

from __future__ import annotations

import json
import os

import pytest

from hudi_rs_spark.fs.storage import (
    ArrowFSStorage,
    LocalStorage,
    storage_for,
)
from hudi_rs_spark.sources.hudi import HudiTable
from tests.synth import SynthTable, avro_schema, cdc_block, parquet_data_block

C1 = "20240101000000000"
C2 = "20240102000000000"
C3 = "20240103000000000"

SCHEMA = avro_schema([("id", "string"), ("ts", "long"), ("val", "string")])


class TestStorageDetails:
    def test_hdfs_inner_paths_stay_absolute(self):
        """libhdfs resolves relative paths against /user/<user>; inner
        paths for hdfs must keep their leading slash."""
        st = ArrowFSStorage.__new__(ArrowFSStorage)
        st._scheme = "hdfs"
        st._uri_prefix = "hdfs://nn:8020"
        st._inner_prefix = ""
        assert st._inner("hdfs://nn:8020/warehouse/tbl/f") == "/warehouse/tbl/f"

    def test_bucket_inner_paths_have_no_leading_slash(self):
        st = ArrowFSStorage.__new__(ArrowFSStorage)
        st._scheme = "s3"
        st._uri_prefix = "s3://bucket"
        st._inner_prefix = "bucket"
        assert st._inner("s3://bucket/tbl/f") == "bucket/tbl/f"

    def test_list_dir_skips_dangling_symlink(self, tmp_path):
        (tmp_path / "real").write_bytes(b"x")
        os.symlink(str(tmp_path / "gone"), str(tmp_path / "dangling"))
        names = {e.name for e in LocalStorage().list_dir(str(tmp_path))}
        assert names == {"real"}

    def test_storage_cache_reuses_backend_for_same_options(self):
        a = storage_for("memory://cachetest/x")
        assert storage_for("memory://cachetest/y") is a
        b = storage_for("memory://cachetest/x", {"k": "1"})
        assert b is not a  # options changed -> rebuild
        # identical options -> NO rebuild (one handle per scan task)
        assert storage_for("memory://cachetest/z", {"k": "1"}) is b
        assert storage_for("memory://cachetest/w") is b  # None reuses too


class TestDerivedFeedReplaceCommit:
    def _base(self, tmp_path) -> SynthTable:
        t = SynthTable(os.path.join(str(tmp_path), "tbl"))
        t.write_base("g1-0", C1, {"id": ["k1", "k2"], "ts": [1, 1],
                                  "val": ["a", "b"]}, ["k1", "k2"])
        t.commit(C1, schema=SCHEMA)
        return t

    def test_clustering_is_a_noop_in_derived_feed(self, spark, tmp_path):
        """A replacecommit that rewrites identical data into a new group
        (clustering) must emit NO change rows — not re-insert the table."""
        t = self._base(tmp_path)
        t.write_base("g2-0", C2, {"id": ["k1", "k2"], "ts": [1, 1],
                                  "val": ["a", "b"]}, ["k1", "k2"])
        t.commit(C2, action="replacecommit", schema=SCHEMA,
                 replaced={"": ["g1-0"]})
        table = HudiTable(t.base_path, spark)
        feed = table.read_changes_derived(C1, C2).collect()
        assert feed == []

    def test_insert_overwrite_emits_deletes_and_updates(self, spark, tmp_path):
        """insert_overwrite replacing k1 (changed) and dropping k2 must
        emit u(k1) + d(k2), with before-images from the replaced group."""
        t = self._base(tmp_path)
        t.write_base("g2-0", C2, {"id": ["k1"], "ts": [2], "val": ["a2"]},
                     ["k1"])
        t.commit(C2, action="replacecommit", schema=SCHEMA,
                 replaced={"": ["g1-0"]})
        table = HudiTable(t.base_path, spark)
        rows = table.read_changes_derived(C1, C2).collect()
        by_op = {}
        for r in rows:
            by_op.setdefault(r["op"], []).append(r)
        assert sorted(by_op) == ["d", "u"]
        [d] = by_op["d"]
        assert json.loads(d["before"])["id"] == "k2" and d["after"] is None
        [u] = by_op["u"]
        assert json.loads(u["before"])["val"] == "a"
        assert json.loads(u["after"])["val"] == "a2"


class TestDerivedFeedNoMetaFields:
    def test_diffs_on_configured_record_key(self, spark, tmp_path):
        t = SynthTable(
            os.path.join(str(tmp_path), "nometa"),
            extra_props={"hoodie.populate.meta.fields": "false"},
        )
        t.write_base("g1-0", C1, {"id": ["k1"], "ts": [1], "val": ["a"]}, ["k1"])
        t.commit(C1, schema=SCHEMA)
        t.write_base("g1-0", C2, {"id": ["k1"], "ts": [2], "val": ["a2"]}, ["k1"])
        t.commit(C2, schema=SCHEMA)
        table = HudiTable(t.base_path, spark)
        rows = table.read_changes_derived(C1, C2).collect()
        assert [r["op"] for r in rows] == ["u"]
        assert json.loads(rows[0]["after"])["val"] == "a2"


class TestCdcCleanedFileTolerance:
    def _table(self, tmp_path) -> tuple[SynthTable, str]:
        """Two CDC commits, each in its own log file; returns the table
        and the relative path of C2's log file."""
        t = SynthTable(os.path.join(str(tmp_path), "cdc"))
        t.write_base("g1-0", C1, {"id": ["k1"], "ts": [1], "val": ["a"]}, ["k1"])
        t.commit(C1, schema=SCHEMA)
        payload2 = cdc_block(
            C2, [{"op": "u", "ts_ms": "0", "before": "{}", "after": "{}"}]
        )
        name2 = t.append_log("g1-0", C1, payload2, version=1, stats_instant=C2)
        t.commit(C2, schema=SCHEMA)
        payload3 = cdc_block(
            C3, [{"op": "d", "ts_ms": "0", "before": "{}", "after": None}]
        )
        t.append_log("g1-0", C1, payload3, version=2, stats_instant=C3)
        t.commit(C3, schema=SCHEMA)
        return t, name2

    def test_read_changes_skips_cleaned_log(self, spark, tmp_path):
        t, name2 = self._table(tmp_path)
        # the cleaner removed the first log file after its commit and
        # recorded the deletion in its .clean instant (write/clean.py)
        os.remove(os.path.join(t.base_path, name2))
        clean_meta = {
            "earliestCommitToRetain": C3,
            "partitionMetadata": {"": {"deletePathPatterns": [name2]}},
        }
        with open(os.path.join(t.timeline_dir, "20240104000000000.clean"), "w") as f:
            json.dump(clean_meta, f)
        table = HudiTable(t.base_path, spark)
        feed = table.read_changes(C1, C3).collect()
        assert [(r["commit_time"], r["op"]) for r in feed] == [(C3, "d")]

    def test_read_changes_fails_on_lost_log(self, spark, tmp_path):
        """A listed log file no clean instant deleted is lost, not
        cleaned: the feed fails instead of silently dropping its rows."""
        t, name2 = self._table(tmp_path)
        os.remove(os.path.join(t.base_path, name2))
        table = HudiTable(t.base_path, spark)
        with pytest.raises(Exception, match="FileNotFoundError"):
            table.read_changes(C1, C3).collect()
