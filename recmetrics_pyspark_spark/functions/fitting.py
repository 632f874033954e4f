"""Cross-engine-deterministic arithmetic helpers.

``dec9`` is the one DECIMAL(18,9) pre-round: a double rounded to 9
decimals and cast to DECIMAL(18,9), so sums of it are exact and
partition-order independent in any engine (every per-document score
sum, entropy and log-ratio in the text family goes through it).
``md5_prefix`` is the one engine-portable hash integer: the BIGINT of
the first hex digits of an md5 column, which the DuckDB oracles
recompute with the same arithmetic.

``centered_ols_slope`` is the centered-OLS slope used by every log-log fit
(heaps_law_points, degree_distribution): the raw closed form
nΣxy − ΣxΣy subtracts near-equal DECIMAL products that overflow the
38-digit precision cap and truncate differently per engine
(catastrophic cancellation — observed as 5th-decimal slope drift on
tight-spread points). Centering first keeps every product small and
exactly representable after the 9-decimal pre-round, so the one final
double division is computed from identical values on any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dec9(c: Column | str) -> Column:
    """``c`` rounded to 9 decimals and cast to DECIMAL(18,9)."""
    return F.round(c, 9).cast("decimal(18,9)")


def md5_prefix(h: Column, n: int) -> Column:
    """BIGINT of the first ``n`` (at most 15) hex digits of the md5
    column ``h``; a double cast of it is exact for ``n`` <= 13."""
    return F.conv(F.substring(h, 1, n), 16, 10).cast("bigint")


def centered_ols_slope(pts_xy: DataFrame, alias: str) -> DataFrame:
    """One-row OLS slope of ``y`` on ``x`` over a points frame whose
    ``x``/``y`` columns are DECIMAL(18,9) (pre-rounded by the caller):

        slope = Σ(x−x̄)(y−ȳ) / Σ(x−x̄)²

    Means come from exact DECIMAL sums (one double division each);
    centered products are pre-rounded to DECIMAL(18,9) and summed
    exactly; the slope is NULL (try_divide) when all x coincide.
    Constant-size work — intended for fit tables of tens of points."""
    means = pts_xy.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mx"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("my"),
    )
    dx = F.col("x").cast("double") - F.col("mx")
    dy = F.col("y").cast("double") - F.col("my")
    centered = pts_xy.crossJoin(F.broadcast(means)).select(
        dec9(dx * dy).alias("cxy"), dec9(dx * dx).alias("cxx")
    )
    return centered.agg(
        F.round(
            F.try_divide(
                F.sum("cxy").cast("double"),
                F.sum("cxx").cast("double"),
            ),
            6,
        ).alias(alias)
    )
