"""Reference results: DuckDB runs the registered oracle SQL over the
same parquet fixture, and both sides are reduced to one canonical,
order-insensitive form before comparison (columns sorted by name,
floats to 12 significant digits, timestamps as ISO strings, rows
sorted).
"""

from __future__ import annotations

import datetime as dt
import math
import time

import duckdb
import numpy as np
import pandas as pd


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def cell(v) -> str:
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return "<null>" if math.isnan(v) else f"{float(v):.12g}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct values)
        return cell(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: list[str], rows) -> list[list[str]]:
    """Rows (sequences ordered like ``columns``) -> sorted canonical
    rows with the columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted([cell(r[i]) for i in order] for r in rows)


def canon_frame(df: pd.DataFrame) -> list[list[str]]:
    return canon_rows(list(df.columns), df.itertuples(index=False))


def _cell_close(a: str, b: str, tol: float) -> bool:
    if a == b:
        return True
    try:
        return math.isclose(float(a), float(b), rel_tol=tol, abs_tol=tol)
    except ValueError:
        return False


def same(got: list[list[str]], want: list[list[str]], tol: float = 1e-9) -> bool:
    """Canonical rows equal, except that a float may differ by ``tol``:
    rounding an exact tie (x.5 in the last kept digit) goes up in Spark
    (decimal HALF_UP) and can go down in DuckDB (binary value), so the
    two engines may disagree by one unit in the last rounded digit."""
    if got == want:
        return True
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_cell_close(x, y, tol) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def observed(df, name: str):
    """``df`` with a row count and an order-insensitive hash attached,
    which Spark computes inside the same job as the action; read them
    from the returned ``Observation`` after it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"{name}-{time.perf_counter_ns()}")
    h = F.xxhash64(*[F.col(c) for c in df.columns]).bitwiseAND(F.lit(0xFFFFFFFF))
    return df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")), obs
