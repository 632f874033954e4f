"""Table profiling: per-column stats in one scan.

The data-quality precursor every ingestion pipeline runs before the
operators in this package. One wide aggregate computes every column's
stats simultaneously (single pass, partial-aggregated), then unpivots
to the tall (column, stat) layout with a literal stack — no per-column
scans, no driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame) -> DataFrame:
    """One row per column: nulls, distincts, min/max (as strings so
    heterogeneous column types stack into one result)."""
    cols = df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            # cast AFTER the aggregate: min/max must compare in the
            # column's native type, not lexicographically on strings
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_expr}) AS "
            "(col_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
        )
    )
