"""Output check against the DuckDB oracles.

The comparison is the engine's driver-mirror rule: columns sorted by
name, every value stringified, rows compared order-insensitively.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from datagen import TABLES


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when the results match, else a one-line reason."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if g.shape != w.shape:
        return f"shape {g.shape} != {w.shape}"
    if not g.equals(w):
        return f"{int((g != w).any(axis=1).sum())} rows differ"
    return None


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con
