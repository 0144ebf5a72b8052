"""Oracle side of the benchmark's correctness check: run a query's
registered DuckDB SQL over the same input files the engine read and
compare both results in canonical form (columns by name, values
stringified by the comparator tools' ``tools.canon.canon_value``, rows
sorted)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from tools.canon import canon_value


def canon(df: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """``(sorted column names, sorted canonical rows)`` of a result."""
    cols = tuple(sorted(df.columns))
    rows = sorted(
        tuple(canon_value(v) for v in rec)
        for rec in df[list(cols)].astype(object).itertuples(index=False, name=None)
    )
    return cols, rows


def run_oracle(sql: str, table_dir: str) -> pd.DataFrame:
    """Run oracle SQL with one view per table found in ``table_dir``
    (a single parquet file or a directory of parquet shards)."""
    from gostream_spark.io import TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(table_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            elif not os.path.exists(path):
                continue
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def check(got: pd.DataFrame, sql: str, table_dir: str) -> str | None:
    """None when the engine's result equals the oracle's, else a
    one-line description of the first difference."""
    g_cols, g_rows = canon(got)
    w_cols, w_rows = canon(run_oracle(sql, table_dir))
    if g_cols != w_cols:
        return f"columns differ: engine={list(g_cols)} oracle={list(w_cols)}"
    if len(g_rows) != len(w_rows):
        return f"row count differs: engine={len(g_rows)} oracle={len(w_rows)}"
    for a, b in zip(g_rows, w_rows):
        if a != b:
            return f"first differing row: engine={a} oracle={b}"
    return None
