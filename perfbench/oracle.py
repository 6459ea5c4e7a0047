"""DuckDB oracle check for registry faces.

Runs a face's oracle SQL (``REGISTRY[name].sql``) over the same parquet
tables the face read and compares the two results as order-insensitive
multisets of rows, columns matched by name. Floats are compared to 9
significant digits, so a sum reassociated across engines still matches.
"""

from __future__ import annotations

import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 or math.isinf(v):
            return v
        return round(v, 8 - int(math.floor(math.log10(abs(v)))))
    if hasattr(v, "tolist"):          # numpy scalars and arrays
        return _cell(v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _rows(df) -> tuple[list[str], list[str]]:
    """A pandas frame as (sorted column names, sorted row keys)."""
    cols = sorted(df.columns)
    keys = sorted(repr(tuple(_cell(v) for v in r))
                  for r in df[cols].itertuples(index=False, name=None))
    return cols, keys


def mismatch(spark_pdf, oracle_pdf) -> str | None:
    """None when the two frames hold the same rows, else the reason."""
    s_cols, s_rows = _rows(spark_pdf)
    o_cols, o_rows = _rows(oracle_pdf)
    if s_cols != o_cols:
        return f"columns {s_cols} != {o_cols}"
    if len(s_rows) != len(o_rows):
        return f"{len(s_rows)} rows != {len(o_rows)}"
    bad = sum(a != b for a, b in zip(s_rows, o_rows))
    return f"{bad} of {len(s_rows)} rows differ" if bad else None
