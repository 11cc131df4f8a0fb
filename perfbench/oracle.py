"""Result checks: each operation's output against a DuckDB reference.

Batch operations are compared with the registry's oracle SQL
(``Query.oracle``) over the same parquet files; stream outputs with DuckDB
SQL over the landing files. A comparison returns ``None`` when the frames
agree and a one-line reason when they do not.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from pontem_spark.sources.tables import TABLES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64") + 0.0  # fold -0.0 into 0.0
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame, rel_tol: float = 0.0) -> str | None:
    """Order-insensitive equality of two frames: same column names, same row
    count, equal values. Floats must match exactly unless ``rel_tol`` is set
    (stream sums arrive in batch order, so their last bits may differ)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            for i, (a, b) in enumerate(zip(g[c], w[c])):
                if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                    continue
                if not (a == b or math.isclose(a, b, rel_tol=rel_tol, abs_tol=rel_tol)):
                    return f"{c}[{i}]: {a!r} != {b!r}"
        else:
            try:
                pd.testing.assert_series_equal(g[c], w[c], check_dtype=False, check_names=False)
            except AssertionError as e:
                return f"{c}: " + " ".join(str(e).split())[:200]
    return None
