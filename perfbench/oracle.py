"""Result check: the view's SQL recomputed by DuckDB over the final
source state, with every applied batch merged by primary key.

Every column must match exactly: the workloads' views hold keys,
counts, strings and doubles copied from the source rows, none computed.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

PKS = {"orders": ["o_orderkey"], "customer": ["c_custkey"]}


def _final_state(con, table: str, base: str, batches: list[str]) -> None:
    """Create ``table`` as ``base`` with ``batches`` merged by PK in
    order: the last change per key wins, ``-D`` drops the key."""
    pk = ", ".join(PKS[table])
    con.execute(f"CREATE TABLE {table} AS SELECT * FROM read_parquet('{base}')")
    if not batches:
        return
    files = ", ".join(f"'{p}'" for p in batches)
    cols = ", ".join(c for c in con.table(table).columns)
    con.execute(
        f"""CREATE TEMP TABLE ch AS
            SELECT * EXCLUDE (rk) FROM (
              SELECT *, row_number() OVER (
                PARTITION BY {pk} ORDER BY filename DESC, __seq DESC) AS rk
              FROM read_parquet([{files}], filename = true)) WHERE rk = 1"""
    )
    con.execute(f"DELETE FROM {table} WHERE ({pk}) IN (SELECT {pk} FROM ch)")
    con.execute(f"INSERT INTO {table} SELECT {cols} FROM ch WHERE __op <> '-D'")
    con.execute("DROP TABLE ch")


def check(w, sources: dict, batches: list[dict], got: pd.DataFrame) -> tuple[bool, str]:
    """Compare the engine's view ``got`` with the DuckDB recompute over
    ``sources`` after the applied ``batches`` (``table``/``path``)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        by_table: dict[str, list[str]] = {}
        for b in batches:
            by_table.setdefault(b["table"], []).append(b["path"])
        for name, table in w.sources.items():
            _final_state(con, table, sources[table], by_table.get(table, []))
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {table}")
        want = con.execute(w.sql).df()
    finally:
        con.close()
    return compare(want, got, w.key)


def compare(want: pd.DataFrame, got: pd.DataFrame, key: list):
    if list(want.columns) != list(got.columns):
        return False, f"columns differ: {list(got.columns)} vs {list(want.columns)}"
    if len(want) != len(got):
        return False, f"row count {len(got)} vs {len(want)}"
    want = want.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        # numpy compares across integer widths (row_number is an int in
        # Spark, a bigint in DuckDB) by value
        same = a == b
        if not np.all(same):
            i = int(np.argmin(same))
            return False, f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return True, f"{len(want)} rows match"
