"""Drop-in API compatibility with camiloakv/recmetrics-pyspark.

Every public function of the reference library
(reference README.md:23-32; recmetrics_pyspark/recmetrics_pyspark.py)
exists here with the same name, signature, and return contract, but
backed by the Spark-first pipelines in ``operators.metrics``:

- ``coverage``                (reference :106-110; col_item bug fixed)
- ``novelty``                 (reference :147-173; returns (float, msis))
- ``novelty_pandas``          (reference :127-145; pandas in/out twin)
- ``novelty_refac``           (reference :113-125; list/dict micro API)
- ``personalization``         (reference :300-412; all three "versions"
                               collapse to one exact DataFrame plan)
- ``personalization_pandas``  (reference :190-193; value-weighted)
- ``intra_list_similarities`` (reference :415-432; pandas in/out)
- ``long_tail_plot``          (reference :27-103; stats in Spark, the
                               matplotlib render optional/import-gated)

The reference's RDD/BlockMatrix scaffolding names
(cosine_similarity_matrix, vertical_vector,
get_symmetrical_matrix_mean, get_upper_triangle_mean,
get_similarities_from_stacked — reference :177-298) resolve too, as
thin migration shims over DataFrame/pandas math: the Gram pipeline
composes as ``1 − get_symmetrical_matrix_mean(
cosine_similarity_matrix(pivot, cols))`` and agrees with
``personalization`` (tests/test_compat_api.py). The BlockMatrix
internals themselves are gone on purpose (SURVEY.md §2.7).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.metrics import (
    coverage_value,
    intra_list_similarity,
    long_tail_stats,
    novelty_per_user,
    personalization_value,
)


def coverage(
    df_recommendations: DataFrame,
    df_ratings: DataFrame,
    col_item: str = "id_product",
) -> float:
    """Catalog coverage ratio ∈ (0, 1]. Honors ``col_item`` (the
    reference hardcodes "id_product" — SURVEY §4.3.1)."""
    return float(coverage_value(df_recommendations, df_ratings, col_item))


def novelty(
    df_sales: DataFrame,
    df_recommendations: DataFrame,
    u: int | None = None,
    col_user: str = "person",
    col_item: str = "product",
) -> tuple[float, list[float]]:
    """Returns (mean MSI, per-user MSIs ordered by user) — the msis
    ordering is part of the reference contract (its final
    orderBy(col_user), reference :168)."""
    per_user = novelty_per_user(
        df_sales, df_recommendations, u, col_user, col_item
    )
    rows = per_user.orderBy(col_user).collect()  # aggregate: one row/user
    msis = [r["msi"] for r in rows]
    # mean over NON-NULL msis, matching operators.metrics.novelty's
    # F.avg semantics (a user whose recommended items never appear in
    # sales contributes no msi, rather than deflating the mean)
    non_null = [m for m in msis if m is not None]
    nov = sum(non_null) / len(non_null) if non_null else float("nan")
    return nov, msis


def novelty_pandas(
    dfp_sales,
    dfp_recommendations,
    u: int | None = None,
    col_user: str = "person",
    col_item: str = "product",
) -> tuple[float, list[float]]:
    """Small-data twin: pandas in, same engine underneath."""
    spark = SparkSession.active()
    return novelty(
        spark.createDataFrame(dfp_sales),
        spark.createDataFrame(dfp_recommendations),
        u,
        col_user,
        col_item,
    )


def novelty_refac(
    recommendations: list[list],
    freqs: dict,
    u: int,
    n: int,
) -> tuple[float, list[float]]:
    """Micro API over plain Python containers. NOTE the reference quirk
    kept for parity: divides by the FIXED list length ``n``, not the
    actual per-user length (SURVEY §4.3.8)."""
    msis = [
        sum(-math.log2(freqs[item] / u) for item in rec_list) / n
        for rec_list in recommendations
    ]
    return (sum(msis) / len(msis) if msis else float("nan")), msis


def personalization(
    df: DataFrame,
    col_index: str = "person",
    col_columns: str = "product",
    version: int = 2,
) -> float:
    """1 − mean pairwise cosine of users' binary item vectors.

    The reference's versions 0/1/2 (BlockMatrix Gram / Coordinate
    Gram / DIMSUM) are documented to return the same value (reference
    :310-312); here there is a single exact plan, so ``version`` is
    accepted and ignored."""
    del version
    v = personalization_value(df, col_index, col_columns)
    return float("nan") if v is None else float(v)


def personalization_pandas(
    df,
    col_index: str = "person",
    col_columns: str = "product",
    col_values: str | None = None,
) -> float:
    """Value-weighted twin (reference :190-193 pivots with
    ``col_values``): P = 1 − mean pairwise cosine of user vectors
    weighted by col_values (binary when col_values is None)."""
    spark = SparkSession.active()
    v = personalization_value(
        spark.createDataFrame(df), col_index, col_columns, col_values
    )
    return float("nan") if v is None else float(v)


def get_similarities_from_stacked(
    dfp,
    col_index: str = "person",
    col_columns: str = "product",
    col_values: str | None = None,
):
    """Pandas: stacked (user, item[, value]) frame → dense pairwise
    cosine matrix between user rows (reference
    recmetrics_pyspark.py:177-181: pivot_table → fillna(0) → cosine).
    Kept as a true pandas helper — it is only ever called on
    driver-sized frames; the distributed twin is ``personalization``'s
    self-join plan."""
    import numpy as np
    import pandas as pd

    if col_values is None:
        pivot = pd.crosstab(dfp[col_index], dfp[col_columns]).astype(float)
    else:
        pivot = dfp.pivot_table(
            index=col_index, columns=col_columns, values=col_values
        ).fillna(0.0)
    m = pivot.to_numpy(dtype=float)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    n = m / norms
    return pd.DataFrame(n @ n.T, index=pivot.index, columns=pivot.index)


def get_upper_triangle_mean(sim_matrix) -> float:
    """Reference recmetrics_pyspark.py:184-188 — NOTE: returns
    1 − mean(off-diagonal), i.e. already the personalization score.
    Keeps the reference's exact ``(ΣS − n)`` form, which assumes
    unit-norm rows (diagonal of ones)."""
    import numpy as np

    s = np.asarray(sim_matrix, dtype=float)
    n = s.shape[0]
    if n < 2:
        return float("nan")
    return float(1.0 - (s.sum() - n) / (n * (n - 1)))


def cosine_similarity_matrix(
    df_pivot: DataFrame,
    columns: list[str],
    index_col: str = "person",
) -> DataFrame:
    """Migration shim for the reference's BlockMatrix Gram pipeline
    (reference recmetrics_pyspark.py:197-246): pairwise cosine between
    ROWS of a pivoted DataFrame, returned LONG-FORM as
    (index_a, index_b, cos_sim) instead of a BlockMatrix — DataFrame
    plans replace the RDD linear algebra (SURVEY.md §2.7). All n² pairs
    materialize, exactly like the reference's Gram matrix; for
    anything bigger than a driver-scale pivot use ``personalization``
    (self-join, only co-occurring pairs)."""
    vec = F.array(
        *[F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in columns]
    )
    base = df_pivot.select(F.col(index_col).alias("idx"), vec.alias("v"))
    base = base.withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "v", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    a = base.select(
        F.col("idx").alias("index_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("idx").alias("index_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return a.crossJoin(b).select(
        "index_a",
        "index_b",
        # coalesce 0.0: the reference path pins zero-row norms to 1.0
        # before dividing, so a zero vector's cells read 0.0 there —
        # match that, not NULL (cell-wise consumers compare against
        # reference output)
        F.coalesce(
            F.try_divide(dot, F.col("na") * F.col("nb")), F.lit(0.0)
        ).alias("cos_sim"),
    )


def get_symmetrical_matrix_mean(sims: DataFrame) -> float:
    """Mean off-diagonal entry of the (symmetric, unit-diagonal)
    similarity matrix — reference recmetrics_pyspark.py:288-298's
    ``(1ᵀS1 − n) / (n(n−1))``, with the 1ᵀS1 BlockMatrix sandwich
    replaced by ``agg(sum)`` over the long-form pairs."""
    n = sims.select("index_a").distinct().count()
    if n < 2:
        return float("nan")
    total = sims.agg(F.sum("cos_sim").alias("s")).head()["s"] or 0.0
    return float((total - n) / (n * (n - 1)))


def vertical_vector(n_rows: int, default_value: float = 1.0) -> DataFrame:
    """Reference recmetrics_pyspark.py:249-285 built an all-ones
    BlockMatrix to sum matrix entries via 1ᵀ·S·1; in DataFrame land
    that reduction is ``agg(sum)`` (see get_symmetrical_matrix_mean).
    Shimmed as a one-column DataFrame for call-site compatibility."""
    spark = SparkSession.active()
    return spark.range(n_rows).select(
        F.lit(float(default_value)).alias("value")
    )


def intra_list_similarities(
    df,
    col_group: str = "person",
    col_index: str = "product",
    col_columns: str = "category",
    col_values: str = "rating",
):
    """Per-group mean pairwise item cosine; pandas Series in/out like
    the reference (named ``intra_list_similarity``)."""
    spark = SparkSession.active()
    sdf = df if isinstance(df, DataFrame) else spark.createDataFrame(df)
    out = intra_list_similarity(
        sdf, col_group, col_index, col_columns, col_values
    ).toPandas()
    return out.set_index(col_group)["intra_list_similarity"].sort_index()


def long_tail_plot(
    df: DataFrame,
    item_id_column: str = "id_product",
    interaction_type: str = "interactions",
    percentage: float = 0.5,
    x_labels: bool = True,
    xticks_rotation: int = 45,
):
    """Long-tail popularity curve. All stats are computed distributed
    (``long_tail_stats``); only the item-level aggregate is collected
    for rendering — the reference's own "aggregate first, then pandas"
    rule (reference :30-32). Without matplotlib installed, returns the
    stats pandas frame instead of rendering."""
    stats = long_tail_stats(df, item_id_column, percentage).orderBy("item_rank")
    pdf = stats.toPandas()
    try:
        import matplotlib.pyplot as plt  # optional, import-gated
    except ImportError:
        return pdf
    fig, ax = plt.subplots()
    head = pdf[pdf["bucket"] == "head"]
    ax.plot(pdf["item_rank"], pdf["volume"], color="black")
    ax.fill_between(pdf["item_rank"], pdf["volume"], alpha=0.2, label="tail")
    if len(head):
        ax.fill_between(
            head["item_rank"], head["volume"], alpha=0.4,
            label=f"head ({percentage:.0%} of {interaction_type})",
        )
        ax.axvline(head["item_rank"].max(), linestyle="--", linewidth=1)
    ax.set_xlabel(item_id_column)
    ax.set_ylabel(interaction_type)
    ax.legend()
    if x_labels:
        plt.xticks(rotation=xticks_rotation)
    return pdf
