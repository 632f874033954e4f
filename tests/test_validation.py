"""Friendly fail-fast errors for the string-parameterized column API."""

from __future__ import annotations

import pytest

from recmetrics_pyspark_spark.operators.metrics import (
    coverage,
    long_tail_stats,
    novelty,
    personalization,
)


def test_metrics_raise_valueerror_on_missing_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["u", "i"])
    with pytest.raises(ValueError, match="coverage.*id_product.*available"):
        coverage(df, df)
    with pytest.raises(ValueError, match="novelty.*person"):
        novelty(df, df)
    with pytest.raises(ValueError, match="personalization"):
        personalization(df, col_index="nope", col_columns="i")
    with pytest.raises(ValueError, match="long_tail_stats"):
        long_tail_stats(df, col_item="missing")


def test_check_columns_names_are_data_not_sql(spark):
    # names with quotes/backticks/spaces/leading digits must pass
    # through untouched (they are map keys, never parsed SQL)
    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.operators.quality import check_columns

    df = spark.createDataFrame([(1, None), (2, "x")], ["a", "b"])
    weird = {
        "1st check's \"name\" `here`": F.col("b").isNull(),
        "all good": F.lit(False),
    }
    rows = {r["check"]: r for r in check_columns(df, weird).collect()}
    assert set(rows) == set(weird)
    assert rows["1st check's \"name\" `here`"]["n_violations"] == 1
    assert rows["all good"]["pass"] is True
    with pytest.raises(ValueError, match="non-empty"):
        check_columns(df, {})


def test_rollup_merge_chained_no_per_merge_rounding(spark):
    # three chained merges with drift-prone decimal values: the default
    # un-rounded path must match a direct recompute to float precision
    # (the old per-merge round(2) accumulated a visible quantization)
    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.operators.cdc import (
        rollup_merge,
        snapshot_diff,
    )

    snaps = []
    for day in range(4):
        snaps.append(
            spark.createDataFrame(
                [
                    (pk, "g", (pk + 1) * 0.001 + day * 0.0007)
                    for pk in range(6 + day)
                ],
                "pk long, g string, v double",
            )
        )
    rollup = snaps[0].groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_value")
    )
    for old, new in zip(snaps, snaps[1:]):
        diff = snapshot_diff(old, new, ["pk"], ["g", "v"])
        rollup = rollup_merge(rollup, diff, ["g"], "v")
    got = rollup.collect()[0]
    want = snaps[-1].groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("sum_value")
    ).collect()[0]
    assert got["n_rows"] == want["n_rows"]
    assert got["sum_value"] == pytest.approx(want["sum_value"], abs=1e-9)


def test_psi_drift_detects_planted_shift(spark):
    import datetime as dt

    from recmetrics_pyspark_spark.operators.quality import psi_drift

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # group "stable": same uniform value pattern in both halves
    # group "shifted": values move from ~[0,10) to ~[90,100)
    for i in range(200):
        ts = t0 + dt.timedelta(minutes=i)
        early = i < 100
        rows.append((ts, "stable", float(i % 10)))
        rows.append(
            (ts, "shifted", float(i % 10) if early else 90.0 + i % 10)
        )
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = {r["event_type"]: r for r in psi_drift(df).collect()}
    assert out["stable"]["psi"] < 0.1
    assert not out["stable"]["drift_alert"]
    assert out["shifted"]["psi"] > 0.2
    assert out["shifted"]["drift_alert"]
    assert out["shifted"]["n_ref"] == 100 and out["shifted"]["n_cur"] == 100


def test_cluster_eval_perfect_and_degenerate(spark):
    from recmetrics_pyspark_spark import release_shared
    from recmetrics_pyspark_spark.operators.similarity import (
        cluster_eval,
    )

    release_shared(spark)
    # two tight, well-separated groups whose labels match the geometry:
    # k=2 must recover them -> purity 1, NMI 1
    vecs = [
        (0, [1.0, 0.0], 0), (1, [0.99, 0.01], 0), (2, [0.98, 0.02], 0),
        (10, [0.0, 1.0], 1), (11, [0.01, 0.99], 1), (12, [0.02, 0.98], 1),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding", "label"])
    row = cluster_eval(df, k=2, iters=2).collect()[0]
    assert row["n_points"] == 6
    assert row["purity"] == 1.0
    assert row["nmi"] == 1.0
    # labels independent of geometry -> purity = majority share, NMI ~ 0
    shuffled = [
        (i, v, (0, 1, 0, 1, 0, 1)[j])
        for j, (i, v, _) in enumerate(vecs)
    ]
    df2 = spark.createDataFrame(shuffled, ["vec_id", "embedding", "label"])
    row2 = cluster_eval(df2, k=2, iters=2).collect()[0]
    assert row2["nmi"] < 0.2
