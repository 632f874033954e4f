"""Golden-value parity tests against the reference's own fixtures.

- personalization doctest fixture → exactly 2/3
  (reference recmetrics_pyspark.py:321-333)
- novelty notebook cell-64 fixture (ex_preds/pops/u=10), expected value
  recomputed from the reference formula (recmetrics_pyspark.py:127-173)
- coverage micro-fixture (recmetrics_pyspark.py:106-110 semantics with
  the col_item bug fixed per SURVEY §4.3.1)
"""

from __future__ import annotations

import math

import pytest

from recmetrics_pyspark_spark.operators.metrics import (
    coverage_value,
    intra_list_similarity,
    long_tail_stats,
    novelty_value,
    personalization_value,
)


def test_personalization_doctest_fixture(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 2), (2, 1), (3, 3), (3, 4)],
        ["cod_pessoa", "cod_ean"],
    )
    p = personalization_value(df, "cod_pessoa", "cod_ean")
    assert p == pytest.approx(2.0 / 3.0, abs=1e-6)


def test_personalization_identical_users_is_zero(spark):
    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1), (2, 2)], ["u", "i"])
    assert personalization_value(df, "u", "i") == pytest.approx(0.0, abs=1e-6)


def test_personalization_disjoint_users_is_one(spark):
    df = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["u", "i"])
    assert personalization_value(df, "u", "i") == pytest.approx(1.0, abs=1e-6)


NB64_PREDS = [["a", "b", "c"], ["d", "e", "f"], ["a", "b", "f"], ["d", "e", "c"]]
NB64_POPS = {"a": 8, "b": 3, "c": 1, "d": 4, "e": 7, "f": 6, "g": 7}


# users 1-5 with baskets of 1-4 items, some shared, one disjoint
_BASKETS = [
    (1, 1), (1, 2), (1, 3), (2, 2), (2, 3), (2, 4), (2, 5),
    (3, 1), (4, 5), (4, 2), (5, 9),
]


def test_personalization_constant_values_equal_binary(spark):
    # a constant weight c normalizes away: c / sqrt(n·c²) == 1/sqrt(n)
    # (c = 4.0 keeps every step exact in binary floating point)
    df = spark.createDataFrame(
        [(u, i, 4.0) for u, i in _BASKETS], ["u", "i", "c"]
    )
    binary = personalization_value(df, "u", "i")
    assert personalization_value(df, "u", "i", col_values="c") == binary
    assert 0.0 < binary < 1.0


def test_personalization_is_one_minus_intra_list_similarity(spark):
    # one group, index = user, feature = item, weight 1: the same pair
    # sum, divided by the same pair count
    df = spark.createDataFrame(
        [(0, u, i, 1.0) for u, i in _BASKETS], ["g", "u", "i", "v"]
    )
    p = personalization_value(df, "u", "i")
    (ils,) = intra_list_similarity(df, "g", "u", "i", "v").collect()
    assert p == round(1.0 - ils["intra_list_similarity"], 6)


def test_personalization_zero_vector_and_single_user(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    # user 2's only weight is 0.0: a zero vector, cosine 0 with both
    # others (no division-by-zero error). u1 = (1, 2, 0)/√5,
    # u3 = (0, 3, 1)/√10, cos(u1, u3) = 6/√50; P = 1 − cos/3
    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 0.0),
         (3, "b", 3.0), (3, "c", 1.0)],
        ["u", "i", "r"],
    )
    got = personalization_value(df, "u", "i", col_values="r")
    assert got == pytest.approx(1.0 - 6.0 / math.sqrt(50) / 3.0, abs=1e-6)
    # one user: no pairs, the metric is undefined
    one = df.filter("u = 1")
    assert personalization_value(one, "u", "i", col_values="r") is None
    assert personalization_value(one, "u", "i") is None


def _nb64_frames(spark):
    sales_rows = [
        (uid, item) for item, pop in NB64_POPS.items() for uid in range(pop)
    ]
    sales = spark.createDataFrame(sales_rows, ["person", "product"])
    rec_rows = [
        (uid, item) for uid, items in enumerate(NB64_PREDS) for item in items
    ]
    recs = spark.createDataFrame(rec_rows, ["person", "product"])
    return sales, recs


def _nb64_expected(u: float) -> float:
    msis = []
    for items in NB64_PREDS:
        msis.append(
            sum(-math.log2(NB64_POPS[i] / u) for i in items) / len(items)
        )
    return sum(msis) / len(msis)


def test_novelty_notebook_cell64_fixture(spark):
    sales, recs = _nb64_frames(spark)
    got = novelty_value(sales, recs, u=10)
    assert got == pytest.approx(_nb64_expected(10.0), abs=1e-6)


def test_novelty_default_u_is_distinct_users(spark):
    # cell 74/79 path: u defaults to nunique(sales.person) = 8 here
    sales, recs = _nb64_frames(spark)
    got = novelty_value(sales, recs)
    assert got == pytest.approx(_nb64_expected(8.0), abs=1e-6)


def test_novelty_strict_mode_excludes_unknown_items(spark):
    # item 'z' never sold: default mode counts it in the denominator
    # (reference quirk), strict mode drops it from both sides
    from recmetrics_pyspark_spark.operators.metrics import novelty_per_user

    sales, _ = _nb64_frames(spark)
    recs = spark.createDataFrame(
        [(0, "a"), (0, "b"), (0, "z")], ["person", "product"]
    )
    lax = novelty_per_user(sales, recs, u=10).head()["msi"]
    strict = novelty_per_user(sales, recs, u=10, strict=True).head()["msi"]
    known_sum = -math.log2(8 / 10) - math.log2(3 / 10)
    assert lax == pytest.approx(known_sum / 3)
    assert strict == pytest.approx(known_sum / 2)


def test_coverage_fixture(spark):
    recs = spark.createDataFrame([(1, 10), (1, 11), (2, 10)], ["u", "id_product"])
    ratings = spark.createDataFrame(
        [(1, 10), (2, 11), (3, 12), (4, 13)], ["u", "id_product"]
    )
    assert coverage_value(recs, ratings) == pytest.approx(0.5, abs=1e-6)


def test_coverage_respects_col_item_param(spark):
    # the reference hardcodes "id_product" (recmetrics_pyspark.py:109-110);
    # ours must honor the parameter
    recs = spark.createDataFrame([(1, 10)], ["u", "item"])
    ratings = spark.createDataFrame([(1, 10), (2, 11)], ["u", "item"])
    assert coverage_value(recs, ratings, col_item="item") == pytest.approx(0.5)


def test_intra_list_similarity_hand_computed(spark):
    # user 1: items A=(f1:1, f2:1), B=(f1:1) → cos = 1/√2
    # user 2: items C=(f1:2), D=(f2:3) → cos = 0
    rows = [
        (1, "A", "f1", 1.0),
        (1, "A", "f2", 1.0),
        (1, "B", "f1", 1.0),
        (2, "C", "f1", 2.0),
        (2, "D", "f2", 3.0),
    ]
    df = spark.createDataFrame(rows, ["person", "product", "category", "rating"])
    got = {
        r["person"]: r["intra_list_similarity"]
        for r in intra_list_similarity(df).collect()
    }
    assert got[1] == pytest.approx(1.0 / math.sqrt(2), abs=1e-6)
    assert got[2] == pytest.approx(0.0, abs=1e-6)


def test_intra_list_single_item_group_is_null(spark):
    df = spark.createDataFrame([(1, "A", "f1", 1.0)], ["person", "product", "category", "rating"])
    rows = intra_list_similarity(df).collect()
    assert rows[0]["intra_list_similarity"] is None


def test_long_tail_stats(spark):
    # item 1 appears 3x, item 2 2x, item 3 1x → total 6
    df = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (2,), (3,)], ["id_product"]
    )
    rows = {r["id_product"]: r for r in long_tail_stats(df).collect()}
    assert rows[1]["volume"] == 3 and rows[1]["item_rank"] == 1
    assert rows[1]["cumulative_volume"] == 3
    assert rows[1]["pct_cumulative"] == pytest.approx(0.5)
    assert rows[1]["bucket"] == "head"
    assert rows[3]["cumulative_volume"] == 6
    assert rows[3]["bucket"] == "tail"
    # permutation invariance: row order must not change the curve
    df2 = spark.createDataFrame(
        [(3,), (2,), (1,), (2,), (1,), (1,)], ["id_product"]
    )
    rows2 = {r["id_product"]: r for r in long_tail_stats(df2).collect()}
    assert rows == rows2
