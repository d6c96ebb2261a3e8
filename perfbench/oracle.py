"""Independent correctness checks, in DuckDB.

- `LwwState` folds the generator's own change events into the expected
  table state, batch by batch (last writer wins by the event sequence
  number), and compares it with what the program produced.
- `result_hash` gives an order-insensitive hash of a query result, so a
  Spark result can be matched against its DuckDB oracle SQL.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import duckdb
import pyarrow as pa

# the reader's fixed aggregate, computed the same way on both engines:
# row count, value sum and a per-row checksum sum
CHECK_EXPRS = ("count(*) AS n", "sum(v) AS sum_v",
               "sum((id * 7919 + v * 31 + k * 17 + length(s)) % 1000000007) AS chk")
CHECK_SQL = ", ".join(CHECK_EXPRS)


class LwwState:
    """The expected destination: the snapshot with every generated batch
    folded in, one batch at a time."""

    def __init__(self, snapshot: pa.Table):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.register("snap_in", snapshot)
        self.con.execute("CREATE TABLE state AS SELECT id, k, v, s FROM snap_in")
        self.con.unregister("snap_in")

    def apply(self, events: pa.Table) -> None:
        self.con.register("batch_in", events)
        self.con.execute("""
            CREATE OR REPLACE TEMP TABLE last AS
            SELECT * FROM batch_in
            QUALIFY row_number() OVER (PARTITION BY id ORDER BY seq DESC) = 1
        """)
        self.con.execute("DELETE FROM state WHERE id IN (SELECT id FROM last)")
        self.con.execute(
            "INSERT INTO state SELECT id, k, v, s FROM last WHERE kind <> 'delete'")
        self.con.unregister("batch_in")

    def check_row(self) -> tuple:
        return self.con.execute(f"SELECT {CHECK_SQL} FROM state").fetchone()

    def groups(self) -> list[tuple]:
        return self.con.execute(
            "SELECT k, count(*), sum(v) FROM state GROUP BY k ORDER BY k").fetchall()

    def diff_rows(self, rows: pa.Table) -> int:
        """Rows in `rows` or in the expected state but not in both
        (multiset difference, both directions)."""
        self.con.register("got_in", rows.select(["id", "k", "v", "s"]))
        n = self.con.execute("""
            SELECT (SELECT count(*) FROM (SELECT id, k, v, s FROM got_in
                                          EXCEPT ALL SELECT * FROM state))
                 + (SELECT count(*) FROM (SELECT * FROM state
                                          EXCEPT ALL SELECT id, k, v, s FROM got_in))
        """).fetchone()[0]
        self.con.unregister("got_in")
        return int(n)

    def close(self) -> None:
        self.con.close()


def read_destination(path: str) -> pa.Table:
    """A bucketed destination table read straight from its parquet files."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT id::BIGINT AS id, k::INTEGER AS k, v::BIGINT AS v, s "
            f"FROM read_parquet('{path}/*/*.parquet', hive_partitioning = false)"
        ).arrow()
    finally:
        con.close()


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("n", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        # integral doubles hash like the integer: engines differ on widths
        if v.is_integer() and abs(v) < 2.0**63:
            return ("n", int(v))
        return ("f", v)
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


def oracle_hash(con, sql: str) -> str:
    tbl = con.execute(sql).arrow()
    cols = list(tbl.schema.names)
    return result_hash(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])
