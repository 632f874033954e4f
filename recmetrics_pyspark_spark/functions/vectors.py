"""Vector math over ArrayType embedding columns — built-in higher-order
functions only (zip_with / aggregate / transform run inside whole-stage
codegen; no Python UDF, no VectorUDT round-trips).

Embeddings arrive as ``array<float>`` (testdata `embeddings.embedding`);
every kernel first casts to double so accumulation is float64 on both
our side and the DuckDB oracle's.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))
