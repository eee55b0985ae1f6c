"""Seeded workload inputs: lineitem-shaped base rows and change batches.

Everything the program under test sees is drawn here from one seed: the
base rows, every update / insert / delete, every lookup key and every
filter value. The same seed gives byte-identical inputs.

Rows follow the shape of TPC-H ``lineitem`` (the columns and value ranges
of ``dbgen``), plus three columns the Hudi table needs:

- ``row_id``: the record key, unique per row. ``(l_orderkey,
  l_linenumber)`` is NOT unique in generated lineitem data, so an upsert
  keyed on it would silently merge distinct rows;
- ``ts``: the ordering field, the index of the commit that wrote the row
  (0 for the seed write), so "last write by ts" is "last commit";
- ``ship_month``: ``yyyy-MM`` of ``l_shipdate``, the partition column.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

KEY = "row_id"
TS = "ts"
PARTITION = "ship_month"
FIRST_SHIP_DAY = np.datetime64("1995-01-01")
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["F", "O"])


def key_of(i: int) -> str:
    return f"k{i:09d}"


def _months_span(months: int) -> int:
    """Days from FIRST_SHIP_DAY to the first day after ``months`` months."""
    end = (FIRST_SHIP_DAY.astype("datetime64[M]") + months).astype("datetime64[D]")
    return int((end - FIRST_SHIP_DAY).astype(int))


def _rows(rng: np.random.Generator, ids: np.ndarray, ts: int, months: int) -> pa.Table:
    n = len(ids)
    ship = FIRST_SHIP_DAY + rng.integers(0, _months_span(months), n).astype("timedelta64[D]")
    quantity = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(1, 200_001, n)
    # dbgen: extendedprice = quantity * retailprice(partkey), in cents
    retail_cents = 90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)
    return pa.table({
        KEY: pa.array([key_of(int(i)) for i in ids], pa.string()),
        TS: pa.array(np.full(n, ts, dtype=np.int64)),
        PARTITION: pa.array(np.datetime_as_string(ship.astype("datetime64[M]"))),
        "l_orderkey": pa.array(rng.integers(1, 6_000_001, n)),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(1, 10_001, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(quantity * retail_cents / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(RETURN_FLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(LINE_STATUS[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[D]")),
    })


def check_unique(t: pa.Table) -> None:
    """Every row must carry its own record key, or an upsert keyed on it
    would silently merge distinct rows."""
    if len(set(t.column(KEY).to_pylist())) != t.num_rows:
        raise ValueError(f"{KEY} is not unique in a generated batch")


@dataclass
class Batch:
    """One upsert commit's input: upserted rows plus deleted keys."""

    ts: int
    upserts: pa.Table
    deletes: pa.Table  # key, partition and ts of each deleted row


@dataclass
class Generator:
    """Seeded source of every input of one run.

    Live keys are tracked in insertion order, so "recent" keys (the
    newest inserts) can be favoured by updates."""

    seed: int
    rows: int
    months: int
    rng: np.random.Generator = field(init=False)
    live: list[int] = field(init=False)
    next_id: int = field(init=False)
    # row id -> (partition, ship date): what an update must keep
    _identity: dict[int, tuple] = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        self.live = []
        self.next_id = 0
        self._identity = {}

    def base(self) -> pa.Table:
        t = _rows(self.rng, np.arange(self.rows), 0, self.months)
        check_unique(t)
        self._adopt(t)
        return t

    def _adopt(self, t: pa.Table) -> None:
        ids = [int(k[1:]) for k in t.column(KEY).to_pylist()]
        for i, part, ship in zip(ids, t.column(PARTITION).to_pylist(),
                                 t.column("l_shipdate").to_pylist()):
            self._identity[i] = (part, ship)
        self.live.extend(ids)
        if ids:
            self.next_id = max(self.next_id, ids[-1] + 1)

    def batch(self, ts: int, size: int, update_share: float = 0.80,
              insert_share: float = 0.15) -> Batch:
        """``size`` changes: updates skewed to recent keys, fresh inserts,
        and uniform deletes of live keys; no key appears twice."""
        n_upd = int(round(size * update_share))
        n_ins = int(round(size * insert_share))
        n_del = size - n_upd - n_ins
        live = np.asarray(self.live)
        # rank 0 = newest key; weight ~ 1/(rank + 64): a heavy recent head
        # with a long tail over the whole table
        weights = 1.0 / (np.arange(len(live))[::-1] + 64.0)
        weights /= weights.sum()
        upd = self.rng.choice(live, n_upd, replace=False, p=weights)
        rest = np.setdiff1d(live, upd, assume_unique=True)
        dels = self.rng.choice(rest, n_del, replace=False)

        updated = _rows(self.rng, upd, ts, self.months)
        # an update keeps the row's identity columns (partition, ship date)
        updated = updated.set_column(
            updated.schema.get_field_index(PARTITION), PARTITION,
            pa.array([self._identity[int(i)][0] for i in upd]))
        updated = updated.set_column(
            updated.schema.get_field_index("l_shipdate"), "l_shipdate",
            pa.array([self._identity[int(i)][1] for i in upd], pa.date32()))
        ins_ids = np.arange(self.next_id, self.next_id + n_ins)
        inserted = _rows(self.rng, ins_ids, ts, self.months)
        deletes = pa.table({
            KEY: pa.array([key_of(int(i)) for i in dels], pa.string()),
            TS: pa.array(np.full(n_del, ts, dtype=np.int64)),
            PARTITION: pa.array([self._identity[int(i)][0] for i in dels]),
        })
        gone = set(int(i) for i in dels)
        self.live = [i for i in self.live if i not in gone]
        self._adopt(inserted)
        upserts = pa.concat_tables([updated, inserted])
        check_unique(upserts)
        return Batch(ts, upserts, deletes)

    def lookup_keys(self, count: int = 20, absent: int = 2) -> list[str]:
        """Zipf-skewed live keys (hot keys repeat across ops) plus keys
        that were never written."""
        live = np.asarray(sorted(self.live))
        keys: list[str] = []
        while len(keys) < count - absent:
            r = int(self.rng.zipf(1.3)) - 1
            k = key_of(int(live[r % len(live)]))
            if k not in keys:
                keys.append(k)
        keys += [key_of(self.next_id + 10_000_000 + int(self.rng.integers(0, 10**6)))
                 for _ in range(absent)]
        return keys

    def month_filter(self) -> tuple[str, float]:
        """One partition value and an ``l_extendedprice`` lower bound."""
        m = int(self.rng.integers(0, self.months))
        month = str((FIRST_SHIP_DAY.astype("datetime64[M]") + m))
        return month, float(self.rng.integers(10, 60) * 1000)
