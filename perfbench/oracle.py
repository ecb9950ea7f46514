"""DuckDB oracle check, with the comparison rules of
``scripts/oracle_sweep.py``: same sorted column names, same row count,
rows sorted on every column, a dtype-kind gate (int vs float is a real
mismatch, int32 vs int64 is not), floats within rtol 1e-6 and
everything else exact."""

from __future__ import annotations

import os

import pandas as pd


def _kind(series: pd.Series) -> str:
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    return "obj"


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from ``want``, or None when they match."""
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    sides = []
    for df in (got, want):
        df = df[cols].copy()
        for c in cols:
            # Spark hands back ns, DuckDB us: compare values, not units
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        sides.append(df.sort_values(cols).reset_index(drop=True))
    g, w = sides
    for c in cols:
        if _kind(g[c]) != _kind(w[c]):
            return f"dtype kind of {c}: {_kind(g[c])} vs {_kind(w[c])}"
        is_float = _kind(g[c]) == "float"
        try:
            pd.testing.assert_series_equal(
                g[c], w[c], check_dtype=False, check_names=False,
                check_exact=not is_float, rtol=1e-6, atol=1e-9,
            )
        except AssertionError as ex:
            return f"values of {c}: " + str(ex).replace("\n", " | ")[:200]
    return None


def oracle_results(sf_dir: str, tables: list[str], threads: int,
                   sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle query on DuckDB views over the parquet files Spark
    reads."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {int(threads)}")
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: con.execute(q).df() for name, q in sql.items()}
    finally:
        con.close()
