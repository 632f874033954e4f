"""Experimentation analytics: deterministic A/B assignment + Welch
test, and Kaplan-Meier survival/retention curves.

Both operators follow the engine's portability rules — md5-prefix
hashing for assignment (the balanced_sample trick), DECIMAL
accumulation for big-group sums, and identical double expression trees
on the oracle side so values hash-match across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.fitting import md5_prefix


def _per_arm_stats(
    df: DataFrame, col_unit: str, col_value: str, salt: str
) -> DataFrame:
    """Shared two-arm reduction for ab_test_analysis / ab_power_mde:
    salted-md5 parity assignment over per-unit DECIMAL value sums,
    reduced to one (n, Σv, Σv²) row per arm — the
    determinism-sensitive core (hash, decimal widths) lives ONCE."""
    unit = (
        df.groupBy(F.col(col_unit).alias("unit"))
        .agg(
            F.sum(F.col(col_value).cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("v")
        )
        .select(
            (
                md5_prefix(F.md5(F.concat_ws(
                    "|", F.lit(salt), F.col("unit").cast("string")
                )), 8)
                % 2
            ).alias("arm"),
            "v",
        )
    )
    return unit.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("decimal(38,12)").alias("sv"),
        F.sum(
            (F.col("v") * F.col("v")).cast("decimal(38,12)")
        ).cast("decimal(38,12)").alias("svv"),
    )


def ab_test_analysis(
    df: DataFrame,
    col_unit: str,
    col_value: str,
    salt: str = "exp1",
) -> DataFrame:
    """Two-arm A/B readout with deterministic hash assignment and a
    Welch t statistic — the experiment-analysis query every event
    pipeline serves.

    Units land in arm A/B by the parity of their 32-bit md5-prefix
    hash salted with the experiment name (stable across runs and
    engines; re-salting = a fresh randomization). Per-unit values
    aggregate first (one shuffle at UNIT scale), then each arm reduces
    to (n, Σv, Σv²) in one aggregate — sums carried in DECIMAL so the
    result is independent of partitioning/aggregation order. The Welch
    statistic t = (m_b − m_a)/√(s²_a/n_a + s²_b/n_b) and the
    two-sided z≈1.96 significance flag come out of the final ONE-ROW
    frame; nothing wider than the unit table ever shuffles.

    Caveat at extreme scale: Σv² is carried as DECIMAL(38,12); for
    values |v| > ~1e8 per unit, pre-scale the metric (the t statistic
    is scale-invariant)."""
    per_arm = _per_arm_stats(df, col_unit, col_value, salt)
    a = per_arm.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"),
        F.col("sv").alias("sv_a"),
        F.col("svv").alias("svv_a"),
    )
    b = per_arm.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"),
        F.col("sv").alias("sv_b"),
        F.col("svv").alias("svv_b"),
    )

    def _mean(sv, n):
        return sv.cast("double") / n

    def _var(svv, sv, n):
        # try_divide: a single-unit arm has n - 1 = 0 — its sample
        # variance is undefined (NULL, flowing into a NULL t), not an
        # ANSI crash (oracle twin: nullif(n - 1, 0))
        return F.try_divide(
            svv.cast("double") - sv.cast("double") * sv.cast("double") / n,
            n - 1,
        )

    joined = a.crossJoin(F.broadcast(b))
    mean_a = _mean(F.col("sv_a"), F.col("n_a"))
    mean_b = _mean(F.col("sv_b"), F.col("n_b"))
    var_a = _var(F.col("svv_a"), F.col("sv_a"), F.col("n_a"))
    var_b = _var(F.col("svv_b"), F.col("sv_b"), F.col("n_b"))
    # try_divide: two zero-variance arms (a metric that never moved)
    # make the standard error 0 — t is undefined (NULL on both
    # engines, significant_95 NULL with it), not an ANSI crash
    t = F.try_divide(
        mean_b - mean_a,
        F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")),
    )
    return joined.select(
        F.col("n_a"),
        F.col("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        (F.abs(t) > 1.96).alias("significant_95"),
    )


def km_survival(
    events: DataFrame,
    col_unit: str = "user_id",
    col_ts: str = "ts",
    censor_horizon_days: int = 14,
) -> DataFrame:
    """Kaplan-Meier survival curve over per-unit activity lifetimes —
    the churn/retention estimator that handles right-censoring
    correctly (units still active near the observation end must not
    count as churned).

    lifetime = days between a unit's first and last event; a unit is
    censored when its last event falls within ``censor_horizon_days``
    of the corpus' last timestamp. The KM product Π(1 − d_i/n_i) runs
    as exp(Σ ln ·) over a DAY-scale table (distinct lifetimes), so the
    running-product window sorts at most the date range — never units.
    Unit lifetimes reduce in one groupBy; everything after is
    day-scale. Output: (t_days, n_risk, n_events, survival).

    A unit whose every observation is one event has lifetime 0 and
    participates normally (dies or is censored at 0). When the last
    at-risk set all dies (d = n) the log term is pinned to −∞
    explicitly (Spark's ``log(0)`` is NULL, not −∞), so survival hits
    exactly 0 and stays there."""
    bounds = events.agg(F.max(F.col(col_ts)).alias("__tmax"))
    life = (
        events.groupBy(F.col(col_unit).alias("unit"))
        .agg(
            F.min(col_ts).alias("t0"),
            F.max(col_ts).alias("t1"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            F.datediff("t1", "t0").alias("lifetime"),
            (
                F.datediff("__tmax", "t1") < censor_horizon_days
            ).alias("censored"),
        )
    )
    day = life.groupBy("lifetime").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("ends"),
    )
    w = Window.orderBy("lifetime").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcum = Window.orderBy("lifetime").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = life.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return (
        day.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total") - F.coalesce(F.sum("ends").over(w), F.lit(0)),
        )
        .filter(F.col("d") > 0)
        .withColumn(
            "survival",
            F.round(
                F.exp(
                    F.sum(
                        F.when(
                            F.col("d") >= F.col("n_risk"),
                            F.lit(float("-inf")),
                        ).otherwise(
                            F.log(
                                1.0
                                - F.col("d")
                                / F.col("n_risk").cast("double")
                            )
                        )
                    ).over(wcum)
                ),
                6,
            ),
        )
        .select(
            F.col("lifetime").alias("t_days"),
            "n_risk",
            F.col("d").alias("n_events"),
            "survival",
        )
    )


def ucb_arm_stats(
    df: DataFrame,
    col_unit: str,
    col_value: str,
    salt: str = "bandit1",
    n_arms: int = 4,
) -> DataFrame:
    """Batch UCB1 readout for an n-armed experiment: per arm, pulls,
    mean reward, and the UCB1 index mean + √(2·ln N / n) (Auer et al.
    2002) — the score a batch bandit scheduler would rank arms by for
    the next allocation round.

    Arm assignment is the same deterministic salted md5-prefix hash as
    ``ab_test_analysis`` (stable across runs and engines), mod
    ``n_arms``. Every event is one pull; rewards sum in DECIMAL(18,6)
    so the per-arm means are partial-aggregation-order independent,
    and BOTH halves of the index are pre-rounded to 9 decimals before
    the final 6-decimal round — the mean, and the √(2·ln N/n) bonus
    (libm vs JVM log may differ by 1 ulp; pre-rounding the
    transcendental term is the repo's standard drift guard).

    Scale shape: ONE corpus-scale aggregate (arm-keyed, n_arms rows);
    N enters via a window over the arm-scale frame — no driver
    actions, no second pass over the events."""
    from pyspark.sql.window import Window

    armed = df.select(
        (
            md5_prefix(F.md5(F.concat_ws(
                "|", F.lit(salt), F.col(col_unit).cast("string")
            )), 8)
            % n_arms
        ).alias("arm"),
        F.col(col_value).cast("decimal(18,6)").alias("r"),
    )
    per_arm = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pulls"),
        F.sum("r").cast("decimal(38,12)").alias("sr"),
    )
    w_all = Window.partitionBy(F.lit(1))
    return (
        per_arm.withColumn(
            "n_total", F.sum("n_pulls").over(w_all).cast("bigint")
        )
        .select(
            "arm",
            "n_pulls",
            "n_total",
            F.round(
                F.col("sr").cast("double") / F.col("n_pulls"), 9
            ).alias("mean_r9"),
        )
        .select(
            "arm",
            "n_pulls",
            "n_total",
            F.round("mean_r9", 6).alias("mean_reward"),
            F.round(
                F.col("mean_r9")
                + F.round(
                    F.sqrt(
                        2.0 * F.log(F.col("n_total").cast("double"))
                        / F.col("n_pulls")
                    ),
                    9,
                ),
                6,
            ).alias("ucb1"),
        )
        .orderBy("arm")
    )


def ab_power_mde(
    df: DataFrame,
    col_unit: str,
    col_value: str,
    salt: str = "exp1",
    z_alpha: float = 1.96,
    z_beta: float = 0.841621234,
) -> DataFrame:
    """Minimum detectable effect for the running A/B experiment: with
    the observed arm sizes and variances, the smallest absolute (and
    relative-to-control) mean difference the test could declare
    significant at two-sided α=5% with 80% power:

        MDE = (z_α/2 + z_β) · √(s²_a/n_a + s²_b/n_b)

    — the readout that answers "is this experiment big enough yet"
    BEFORE peeking at the effect itself. Shares ``_per_arm_stats``
    (the salted-md5 assignment and DECIMAL (n, Σv, Σv²) reduction)
    with ``ab_test_analysis``, so the determinism-sensitive core
    cannot desynchronize between the two readouts. The standard error
    is pre-rounded to 9 decimals before the constant multiplier, the
    z constant itself is pre-rounded (1.96 + z_β in binary is 1 ulp
    off the decimal literal an oracle would parse), and every
    denominator that can legitimately be 0 (single-unit arm's n−1,
    a zero control mean) goes through try_divide so both engines
    agree on NULL. A completely empty arm yields an EMPTY result (the
    cross join has no build side) — by design, the "experiment not
    randomized yet" signal.

    Scale shape: one unit-scale aggregate, one 2-row arm aggregate,
    a ONE-ROW output; nothing wider than the unit table shuffles."""
    per_arm = _per_arm_stats(df, col_unit, col_value, salt)
    a = per_arm.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"),
        F.col("sv").alias("sv_a"),
        F.col("svv").alias("svv_a"),
    )
    b = per_arm.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"),
        F.col("sv").alias("sv_b"),
        F.col("svv").alias("svv_b"),
    )
    mean_a = F.col("sv_a").cast("double") / F.col("n_a")
    var_a = F.try_divide(
        F.col("svv_a").cast("double")
        - F.col("sv_a").cast("double") * F.col("sv_a").cast("double")
        / F.col("n_a"),
        (F.col("n_a") - 1).cast("double"),
    )
    var_b = F.try_divide(
        F.col("svv_b").cast("double")
        - F.col("sv_b").cast("double") * F.col("sv_b").cast("double")
        / F.col("n_b"),
        (F.col("n_b") - 1).cast("double"),
    )
    se9 = F.round(
        F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b")), 9
    )
    z_tot = round(float(z_alpha) + float(z_beta), 9)
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        F.round(se9, 6).alias("std_error"),
        F.round(F.lit(z_tot) * se9, 6).alias("mde_abs"),
        F.round(
            F.try_divide(
                F.lit(z_tot) * se9, F.abs(F.round(mean_a, 9))
            ),
            6,
        ).alias("mde_rel_control"),
    )
