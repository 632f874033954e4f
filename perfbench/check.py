"""Output check: a query's Spark result against its DuckDB oracle.

The comparison is the repository's own (``tests/oracle.py``: same
columns, same row count, same order-insensitive canonical rows). The
oracle SQL runs on a DuckDB connection with bounded threads and memory,
so a check never competes with the machine for all of its RAM.
"""

from __future__ import annotations

import time
from concurrent.futures import Future

import duckdb
import pandas as pd

from recmetrics_pyspark_spark.sources.io import TABLES
from tests.oracle import canonical_rows

DUCKDB_CONFIG = {"threads": "2", "memory_limit": "2GB"}


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect(config=DUCKDB_CONFIG)
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def perturbed(df: pd.DataFrame) -> pd.DataFrame:
    """A result that must fail the check: one row dropped, or one made
    up when there is none."""
    if len(df):
        return df.iloc[1:]
    return pd.DataFrame([{c: 0 for c in df.columns}])


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from ``want``, or None if they agree."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns: spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows: spark={len(got)} oracle={len(want)}"
    g, w = canonical_rows(got), canonical_rows(want)
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return f"value at sorted row {i}: spark={a} oracle={b}"
    return None


def check_query(spark, fn, oracle: Future, sf_dir: str, perturb: bool = False) -> dict:
    """Compare ``fn``'s result with the oracle's (a future from
    ``run_oracle``, so the oracle can run while Spark does)."""
    t0 = time.perf_counter()
    try:
        got = fn(spark, sf_dir).toPandas()
        if perturb:
            got = perturbed(got)
        why = mismatch(got, oracle.result())
    except Exception as exc:
        why = f"{type(exc).__name__}: {exc}"[:500]
    out = {"ok": why is None, "s": time.perf_counter() - t0}
    if why is not None:
        out["why"] = why[:500]
    return out
