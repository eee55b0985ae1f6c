"""Independent expected answers, computed from the generated inputs only.

The oracle never reads the Hudi table. It replays the generated commits
in pure Python — last write by ``ts`` per key, minus deletes — and keeps
one order-insensitive digest per row, so every read op can be checked on
row count, key uniqueness and a checksum, and every lookup row by row.

The row digest is ``crc32("row_id|ts|cents|l_returnflag|ship_month")``
with ``cents = round(l_extendedprice * 100)``. The same expression runs
inside each Spark query (``digest_col``), so the comparison needs no
row shipping.
"""

from __future__ import annotations

import zlib

import pyarrow as pa

from datagen import KEY, PARTITION, TS, Batch

GROUP = "l_returnflag"


def row_digests(t: pa.Table) -> dict[str, tuple]:
    """key -> (ts, group, crc, partition, price) for every row of ``t``."""
    out = {}
    for k, ts, price, flag, part in zip(
        t.column(KEY).to_pylist(), t.column(TS).to_pylist(),
        t.column("l_extendedprice").to_pylist(), t.column(GROUP).to_pylist(),
        t.column(PARTITION).to_pylist(),
    ):
        s = f"{k}|{ts}|{round(price * 100)}|{flag}|{part}"
        out[k] = (ts, flag, zlib.crc32(s.encode()), part, price)
    return out


DIGEST_SQL = (
    f"crc32(concat_ws('|', {KEY}, CAST({TS} AS STRING), "
    "CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS STRING), "
    f"{GROUP}, {PARTITION}))"
)


def digest_col():
    """The Spark twin of ``row_digests``' crc, as a bigint column."""
    from pyspark.sql import functions as F

    return F.expr(DIGEST_SQL)


# one summary per group: (rows, distinct keys, sum of row crcs)
Summary = dict[str, tuple[int, int, int]]


def summarize(rows) -> Summary:
    out: dict[str, list[int]] = {}
    for _ts, flag, crc, *_ in rows:
        acc = out.setdefault(flag, [0, 0, 0])
        acc[0] += 1
        acc[1] += 1
        acc[2] += crc
    return {k: tuple(v) for k, v in out.items()}


class Oracle:
    """Expected table state after every commit index (0 = seed write)."""

    def __init__(self, base: pa.Table):
        self.state: dict[str, tuple] = row_digests(base)
        self.history: list[Summary] = [summarize(self.state.values())]
        self._row_bytes = base.nbytes / max(base.num_rows, 1)

    def apply(self, batch: Batch) -> None:
        self.state.update(row_digests(batch.upserts))
        for k in batch.deletes.column(KEY).to_pylist():
            self.state.pop(k, None)
        self.history.append(summarize(self.state.values()))

    @property
    def live_bytes(self) -> float:
        """Arrow size of the live rows: the user data the table holds."""
        return len(self.state) * self._row_bytes

    @property
    def commits(self) -> int:
        return len(self.history) - 1

    def snapshot(self, as_of: int | None = None) -> Summary:
        return self.history[self.commits if as_of is None else as_of]

    def incremental(self, after: int) -> Summary:
        """Latest state of the keys last written by a commit > ``after``."""
        return summarize(v for v in self.state.values() if v[0] > after)

    def lookup(self, keys) -> dict[str, int]:
        """key -> crc for the keys that are live now."""
        return {k: self.state[k][2] for k in keys if k in self.state}

    def filtered(self, month: str, min_price: float) -> Summary:
        """Live rows in partition ``month`` priced above ``min_price``."""
        return summarize(
            v for v in self.state.values() if v[3] == month and v[4] > min_price
        )


def summary_of(df) -> Summary:
    """Run the check aggregate over a Spark frame (the op's own query)."""
    from pyspark.sql import functions as F

    rows = (
        df.groupBy(GROUP)
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct(KEY).alias("d"),
             F.sum(digest_col()).alias("c"))
        .collect()
    )
    return {r[GROUP]: (int(r["n"]), int(r["d"]), int(r["c"] or 0)) for r in rows}
