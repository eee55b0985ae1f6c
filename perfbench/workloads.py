"""The three workloads: table set-up and the closed-loop op mixes.

Every op goes through the package's public API the way a user would call
it, and every op's answer is checked against ``oracle.Oracle``:

- ``mor_scan``: a MOR table with several delta commits of upserts; four
  query types read it (SQL over the ``hudi_py`` connector view,
  ``HudiTable.read()``, time travel to a middle commit, and an
  incremental read of the last three commits);
- ``keyed_lookup``: the same data as base files only plus two small
  delta commits; record-index point lookups and a partition- plus
  column-stats-pruned read of one month;
- ``upsert_ingest``: one fixed compaction cycle of upsert commits
  (updates skewed to recent keys, inserts, deletes), each followed by the
  incremental read of that commit.
"""

from __future__ import annotations

import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa

from datagen import KEY, PARTITION, Batch, Generator
from oracle import DIGEST_SQL, GROUP, Oracle, digest_col, summary_of
from probes import JobCounter

TABLE_OPTIONS = {
    "hoodie.table.name": "lineitem_mor",
    "recordkey.field": KEY,
    "precombine.field": "ts",
    "partitionpath.field": PARTITION,
    "table.type": "MERGE_ON_READ",
    "table.version": "8",
    "metadata.enable": "true",
    "metadata.columnstats.enable": "true",
    "metadata.recordindex.enable": "true",
}
VIEW = "lineitem_hudi"
SNAPSHOT_SQL = (
    f"SELECT {GROUP}, count(1) AS n, count(DISTINCT {KEY}) AS d, "
    f"sum({DIGEST_SQL}) AS c FROM {VIEW} GROUP BY {GROUP}"
)


@dataclass(frozen=True)
class Scale:
    rows: int  # seed-write rows
    months: int  # ship_month partitions
    scan_commits: int  # mor_scan delta commits
    scan_batch: int
    lookup_batch: int  # keyed_lookup: rows in each of its 2 delta commits
    ingest_batch: int
    compact_every: int  # upsert_ingest: compact after every n-th commit


SCALES = {
    "bench": Scale(rows=12_000, months=12, scan_commits=2, scan_batch=1_200,
                   lookup_batch=120, ingest_batch=1_200, compact_every=2),
    # the size of TPC-H sf0.001 lineitem: for the smoke test
    "tiny": Scale(rows=6_000, months=12, scan_commits=2, scan_batch=300,
                  lookup_batch=50, ingest_batch=300, compact_every=2),
}


@dataclass
class OpResult:
    kind: str
    seconds: float
    ok: bool
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    rows: int = 0  # rows written by the op (commit ops only)


@dataclass
class Table:
    """One Hudi table under test plus its generator and oracle."""

    spark: object
    path: str
    gen: Generator
    oracle: Oracle | None = None
    instants: list[str] = field(default_factory=list)  # commit index -> instant

    def latest_instant(self) -> str:
        from hudi_rs_spark.config.table_config import HudiTableConfig
        from hudi_rs_spark.timeline.timeline import Timeline

        tl = Timeline.load(self.path, HudiTableConfig.from_base_path(self.path))
        return tl.instants[-1].timestamp

    def write_seed(self) -> None:
        base = self.gen.base()
        self.oracle = Oracle(base)
        cpus = self.spark.sparkContext.defaultParallelism
        # one file group per partition: each month's rows land in one task
        df = self.spark.createDataFrame(base).repartition(cpus, PARTITION)
        (df.write.format("hudi_py").options(**TABLE_OPTIONS)
         .option("path", self.path).mode("overwrite").save())
        self.instants.append(self.latest_instant())

    def frame(self, batch: Batch):
        """Upserted rows and delete tombstones as one frame."""
        from hudi_rs_spark.write.config import DELETE_COL

        up = batch.upserts
        n = batch.deletes.num_rows
        dels = pa.table({
            f.name: batch.deletes.column(f.name)
            if f.name in batch.deletes.column_names else pa.nulls(n, f.type)
            for f in up.schema
        })
        both = pa.concat_tables([up, dels]).combine_chunks()
        flags = pa.array([False] * up.num_rows + [True] * n)
        # one chunk: createDataFrame drops the chunks after an empty one
        return self.spark.createDataFrame(both.append_column(DELETE_COL, flags))

    def prepare(self, size: int, **shares):
        """The next commit's input batch and its frame (not timed)."""
        batch = self.gen.batch(len(self.instants), size, **shares)
        return batch, self.frame(batch)

    def commit(self, batch: Batch, df, compact: bool = False) -> None:
        from hudi_rs_spark.write import compact as run_compaction
        from hudi_rs_spark.write import upsert

        upsert(df, self.path)
        self.oracle.apply(batch)
        self.instants.append(self.latest_instant())
        if compact:
            run_compaction(self.spark, self.path)

    def hudi(self):
        from hudi_rs_spark import HudiTable

        return HudiTable(self.path, self.spark)


# ---------------------------------------------------------------------------
# ops: each returns True when its answer matches the oracle
# ---------------------------------------------------------------------------

def snapshot_sql(t: Table) -> bool:
    rows = t.spark.sql(SNAPSHOT_SQL).collect()
    got = {r[GROUP]: (int(r["n"]), int(r["d"]), int(r["c"] or 0)) for r in rows}
    return got == t.oracle.snapshot()


def snapshot_api(t: Table) -> bool:
    return summary_of(t.hudi().read()) == t.oracle.snapshot()


def time_travel(t: Table, commit: int) -> bool:
    from hudi_rs_spark import HudiReadOptions

    df = t.hudi().read(HudiReadOptions(as_of_timestamp=t.instants[commit]))
    return summary_of(df) == t.oracle.snapshot(commit)


def incremental(t: Table, after: int) -> bool:
    """Rows changed after commit ``after`` up to the latest commit."""
    df = t.hudi().read_incremental(t.instants[after])
    return summary_of(df) == t.oracle.incremental(after)


def lookup(t: Table, keys: list[str]) -> bool:
    rows = t.hudi().point_lookup(keys).select(KEY, digest_col().alias("c")).collect()
    got = {r[KEY]: int(r["c"]) for r in rows}
    return len(rows) == len(got) and got == t.oracle.lookup(keys)


def pruned_read(t: Table, month: str, min_price: float) -> bool:
    from hudi_rs_spark import HudiReadOptions

    df = t.hudi().read(HudiReadOptions(filters=[
        (PARTITION, "=", month), ("l_extendedprice", ">", str(min_price)),
    ]))
    return summary_of(df) == t.oracle.filtered(month, min_price)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    """Set-up plus an endless, seed-determined sequence of ops.

    ``next_op()`` returns ``(kind, fn)``; ``fn()`` runs the op and returns
    ``(ok, rows_written)``. ``min_ops`` ops always run, so every op kind
    is measured at least once. A ``time_bound`` workload then runs ops
    until ``--seconds`` have passed; any other runs exactly ``min_ops``."""

    kinds: tuple[str, ...] = ()
    min_ops = 1
    time_bound = True

    def __init__(self, table: Table, scale: Scale):
        self.t = table
        self.scale = scale
        self._i = 0

    def setup(self) -> None:
        raise NotImplementedError

    def next_op(self):
        kind = self.kinds[self._i % len(self.kinds)]
        self._i += 1
        return kind, self.op(kind)

    def op(self, kind: str):
        raise NotImplementedError


class MorScan(Workload):
    kinds = ("snapshot_sql", "snapshot_api", "time_travel", "incremental")
    min_ops = 8  # each kind's median rests on at least two samples

    def setup(self):
        self.t.write_seed()
        for _ in range(self.scale.scan_commits):
            # updates and deletes only: inserts would open new file
            # groups, and this workload is about log decode and merge
            self.t.commit(*self.t.prepare(
                self.scale.scan_batch, update_share=0.9, insert_share=0.0))
        self.t.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {VIEW} USING hudi_py "
            f"OPTIONS (path '{self.t.path}')"
        )
        self.middle = (self.t.oracle.commits + 1) // 2
        # the last three commits, or every delta commit when fewer
        self.inc_from = max(0, self.t.oracle.commits - 3)
        # the first read of each path (connector and HudiTable) in a
        # session pays one-off start-up in the Spark Python workers; users
        # of a long-lived session pay it once
        if not (snapshot_sql(self.t) and snapshot_api(self.t)):
            raise RuntimeError("warm-up snapshot read returned a wrong answer")

    def op(self, kind):
        t = self.t
        return {
            "snapshot_sql": lambda: (snapshot_sql(t), 0),
            "snapshot_api": lambda: (snapshot_api(t), 0),
            "time_travel": lambda: (time_travel(t, self.middle), 0),
            "incremental": lambda: (incremental(t, self.inc_from), 0),
        }[kind]


class KeyedLookup(Workload):
    kinds = ("lookup", "pruned_read")
    min_ops = 2

    def setup(self):
        self.t.write_seed()
        for _ in range(2):
            self.t.commit(*self.t.prepare(self.scale.lookup_batch))
        if not lookup(self.t, self.t.gen.lookup_keys()):  # warm-up, as in MorScan
            raise RuntimeError("warm-up lookup returned a wrong answer")

    def op(self, kind):
        t = self.t
        if kind == "lookup":
            keys = t.gen.lookup_keys()
            return lambda: (lookup(t, keys), 0)
        month, price = t.gen.month_filter()
        return lambda: (pruned_read(t, month, price), 0)


class UpsertIngest(Workload):
    kinds = ("commit", "incremental")
    # every commit grows the table (inserts open new file groups), so a
    # time-bound loop would let the program's speed choose how big the
    # table gets and which commits the medians span; instead every run
    # makes the same whole compaction cycle
    time_bound = False

    def __init__(self, table, scale):
        super().__init__(table, scale)
        self.min_ops = 2 * scale.compact_every  # each commit plus its read
        self._commits = 0

    def setup(self):
        self.t.write_seed()
        # first upsert of a session pays one-off JVM/worker warm-up
        self.t.commit(*self.t.prepare(self.scale.ingest_batch))

    def op(self, kind):
        t = self.t
        if kind == "commit":
            self._commits += 1
            due = self._commits % self.scale.compact_every == 0

            batch, df = t.prepare(self.scale.ingest_batch)

            def run():
                t.commit(batch, df, compact=due)
                return True, batch.upserts.num_rows + batch.deletes.num_rows

            return run
        return lambda: (incremental(t, self.inc_from), 0)

    @property
    def inc_from(self) -> int:
        """The downstream consumer reads what the last commit changed."""
        return self.t.oracle.commits - 1


WORKLOADS = {"mor_scan": MorScan, "keyed_lookup": KeyedLookup, "upsert_ingest": UpsertIngest}


def run_closed_loop(w: Workload, counter: JobCounter, seconds: float) -> list[OpResult]:
    """One client: start the next op only after the previous one returned."""
    out: list[OpResult] = []
    deadline = time.perf_counter() + seconds
    while len(out) < w.min_ops or (w.time_bound and time.perf_counter() < deadline):
        kind, fn = w.next_op()
        try:
            (ok, rows), secs, (jobs, stages, tasks) = counter.run(fn)
        except Exception as e:  # a failed op counts, the loop goes on
            print(f"[perfbench] {kind} failed: {type(e).__name__}: {e}", file=sys.stderr)
            ok, rows, secs, jobs, stages, tasks = False, 0, 0.0, 0, 0, 0
        out.append(OpResult(kind, secs, ok, jobs, stages, tasks, rows))
    return out
