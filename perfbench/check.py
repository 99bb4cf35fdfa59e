"""Independent answers for the benchmark's correctness checks.

Reads are checked against DuckDB over the same generated parquet files;
the write stream is replayed into a DuckDB shadow table. Nothing here goes
through Spark, the gateway or the lake catalog.
"""
import glob
import math
import os

import duckdb
import numpy as np

REL_TOL = 1e-9


def connect(parquet_dirs):
    """A small DuckDB (1 GB, 2 threads) with a view per parquet file."""
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    for d in parquet_dirs:
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            name = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def _null(x):
    return x is None or (isinstance(x, (float, np.floating)) and math.isnan(x))


def same_value(a, b):
    """Equal cells: nulls match nulls, doubles to REL_TOL, lists item by item."""
    if _null(a) or _null(b):
        return _null(a) and _null(b)
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(b, (list, tuple, np.ndarray)):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        try:
            return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return a == b


def same_rows(got, want):
    """got: rows from the MCP reply (list of dicts, column order kept);
    want: list of tuples. Compared in order, doubles to REL_TOL."""
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(same_value(x, y) for x, y in zip(g.values(), w))
               for g, w in zip(got, want))


def rows(con, sql):
    return [tuple(r) for r in con.execute(sql).fetchall()]


# ---------------------------------------------------------------- shadow
class Shadow:
    """The lake_writes tables as DuckDB tables, mutated by the same stream."""

    def __init__(self, con, orders_parquet, stage_parquet):
        self.con = con
        con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{orders_parquet}')")
        con.execute(f"CREATE TABLE stage AS SELECT * FROM read_parquet('{stage_parquet}')")

    def apply(self, op, sql):
        """Apply one acknowledged write given as (op, gateway SQL)."""
        if op == "delete_mor":
            sql = sql.replace("DELETE MOR FROM", "DELETE FROM", 1)
        if op == "merge":
            self.con.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM stage)")
            self.con.execute("INSERT INTO orders SELECT * FROM stage")
            return
        self.con.execute(sql.replace("lake.", ""))

    def query(self, sql):
        return rows(self.con, sql.replace("lake.", ""))
