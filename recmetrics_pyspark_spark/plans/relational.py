"""Relational query plans over the testdata star schema.

The reference exposes no general query surface (SURVEY.md §2.2: no
filters/WHERE on the Spark path at all) — it gets select/join/groupBy
implicitly through PySpark. Our engine makes the full relational surface
first-class: scan → filter (pushed to parquet) → project (pruned) →
join (broadcast dims) → aggregate (partial+final) → window → sort/limit,
all declarative so Catalyst + AQE choose the physical plan.

Sections, in file order: the TPC-H core; the advanced surface (rollup/
cube, set operations, anti/semi joins, multi-distinct aggregates,
date/string/JSON/variant expressions); further TPC-H shapes and
event/window plans; and the TPC-H correlation patterns (groupwise-min
join-back, outer-join count distribution, correlated scalar and
exists / not-exists subqueries). The testdata schema lacks partsupp,
shipmode, commitdate, receiptdate and comment, so the classic queries
are re-expressed over the columns that exist while keeping each
query's *shape*: the join topology, correlation pattern or predicate
structure that exercises the optimizer.

Each function takes (spark, sf_dir) and returns a lazy DataFrame; the
matching DuckDB oracle SQL is declared beside its registration in
``__spark_entry__.py``. Aggregate outputs are rounded to 6 decimals so
engine/oracle float summation-order differences cannot flip the value
hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..sources.io import load_table


def _r6(c):
    return F.round(c, 6)


def dsum(c):
    """Order-independent big sum: cast each addend to DECIMAL(18,6)
    (per-row, deterministic IEEE→decimal rounding), sum in DECIMAL
    (associative — partial-aggregation order can't change the result),
    return DOUBLE. Plain double sums over ~10⁶ rows differ between
    engines in the last ulp, which at 10⁹-scale totals IS the 6th
    decimal — measured: q1's sf0.1 sum_disc_price hash-diverged from
    the DuckDB oracle by 1e-6 until this. At 100 TB this is the only
    reproducible way to aggregate currency."""
    return F.sum(c.cast("decimal(18,6)")).cast("double")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy on lineitem.

    Filter + the 4 sums/3 avgs all stay in whole-stage codegen; partial
    aggregation makes the shuffle carry only |returnflag × linestatus|
    rows per task regardless of input size. Sums and averages run in
    DECIMAL (see dsum) so the result is identical under any partial-
    aggregation order — TPC-H money is decimal semantics anyway."""
    li = load_table(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r6(dsum(F.col("l_quantity"))).alias("sum_qty"),
            _r6(dsum(F.col("l_extendedprice"))).alias("sum_base_price"),
            _r6(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_price"
            ),
            _r6(
                dsum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )
            ).alias("sum_charge"),
            _r6(dsum(F.col("l_quantity")) / n).alias("avg_qty"),
            _r6(dsum(F.col("l_extendedprice")) / n).alias("avg_price"),
            _r6(dsum(F.col("l_discount")) / n).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered 3-way join + top-N by revenue.

    customer is small relative to lineitem → broadcast; orders×lineitem
    is the one real shuffle, on l_orderkey.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join through nation/region.

    region/nation/customer/supplier are all dimension-sized → broadcast
    chain; only orders⋈lineitem shuffles.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01"))
        & (F.col("o_orderdate") < F.lit("1995-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            _r6(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate must
    appear in the parquet PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_r6(dsum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-items revenue per customer, top 20."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1993-10-01"))
        & (F.col("o_orderdate") < F.lit("1994-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: having-filter on an aggregate, then join back.

    The inner aggregate keyed on l_orderkey reuses the same hash
    partitioning as the subsequent join — no extra shuffle under AQE.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            _r6(F.col("sum_qty")).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking: top-3 parts by revenue within each brand.

    Per-group top-k via row_number over a partitioned window — the same
    pattern the reference needs ALS's recommendForAllUsers for
    (usage_examples.ipynb cells 34-35); partitionBy keeps it parallel.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .join(broadcast(part), F.col("l_partkey") == part.p_partkey)
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("brand_rank", F.row_number().over(w))
        .filter(F.col("brand_rank") <= 3)
        .select("p_brand", "p_partkey", "revenue", "brand_rank")
        .orderBy("p_brand", "brand_rank")
    )


def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — orders with at least one
    returned lineitem, counted per priority. left_semi never
    duplicates or widens rows, so no distinct needed afterwards."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1993-07-01"))
        & (F.col("o_orderdate") < F.lit("1993-10-01"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Advanced relational surface: rollup/cube, set operations, anti/semi
# joins, multi-distinct aggregates, date/string/JSON/variant expressions.
# ---------------------------------------------------------------------------


def q_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): per-group, per-flag
    subtotals and a grand total in one pass (partial aggregation covers
    all grouping sets; no extra scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _r6(dsum(F.col("l_quantity"))).alias("sum_qty"),
        )
    )


def q_cube_brand_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (brand, linestatus): all 4 grouping sets."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(broadcast(part), li.l_partkey == part.p_partkey)
    # decimal sum: order-independent at any scale (see relational.dsum)
    return joined.cube("p_brand", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _r6(dsum(F.col("l_extendedprice"))).alias("sum_price"),
    )


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: customers active in 1994 ∩ 1995, plus those
    active in 1994 but not 1995 (EXCEPT), labeled and unioned."""
    orders = load_table(spark, sf_dir, "orders")

    def active(year: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01"))
            )
            .select("o_custkey")
            .distinct()
        )

    y94, y95 = active(1994), active(1995)
    both = y94.intersect(y95).select("o_custkey", F.lit("both").alias("cohort"))
    only94 = y94.exceptAll(y95).select(
        "o_custkey", F.lit("only_1994").alias("cohort")
    )
    return both.unionByName(only94)


def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left_anti: customers with no orders at all,
    counted per market segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


def q_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several exact distinct aggregates in one GROUP BY (Spark expands
    to a single multi-distinct aggregate, not N scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part aggregation: orders and revenue per calendar month."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _r6(dsum(F.col("o_totalprice"))).alias("revenue"),
        )
        .orderBy("o_year", "o_month")
    )


def q_string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression surface: LIKE filter, upper/substring/length
    projections, aggregated per brand."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").like("%BRASS%"))
        .select(
            "p_brand",
            F.upper(F.substring("p_name", 1, 5)).alias("name_prefix"),
            F.length("p_name").alias("name_len"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            _r6(F.avg("name_len")).alias("avg_name_len"),
            F.min("name_prefix").alias("first_prefix"),
        )
        .orderBy("p_brand")
    )


def q_quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group — the sort-
    based exact aggregate; see quantiles_approx for the sketch twin.
    ARRAY-form percentile: the three quantiles share ONE aggregation
    buffer instead of three independent sorted collections (measured
    4.9s -> ~2s at sf0.1, same trick as quantiles_approx)."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.25, 0.5, 0.75))"
        ).alias("ps"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
    )
    return g.select(
        "l_returnflag",
        _r6(F.col("ps")[0]).alias("p25"),
        _r6(F.col("ps")[1]).alias("p50"),
        _r6(F.col("ps")[2]).alias("p75"),
        _r6(F.col("mn")).alias("min_price"),
        _r6(F.col("mx")).alias("max_price"),
    ).orderBy("l_returnflag")


def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same engine through its SQL front door: temp views +
    spark.sql text (free via Catalyst; proves the SQL surface works for
    every registered table)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT n_name,
               count(*) AS n_lineitems,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        FROM v_lineitem
        JOIN v_supplier ON l_suppkey = s_suppkey
        JOIN v_nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
        """
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: extract a JSON field from the events
    props payload (JVM-side JsonPath, no Python) and aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            _r6(F.avg("k")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_case_null_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/null-handling surface: bucketed account balances with an
    explicit null bucket and conditional aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal").isNull(), "unknown")
        .when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        cust.groupBy(bucket.alias("balance_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)
            ).cast("long").alias("n_building"),
        )
        .orderBy("balance_bucket")
    )


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT twin of q_json_props: parse the props payload
    once into the binary VARIANT encoding, then extract typed fields
    with ``variant_get`` path expressions. At 100 TB this is the path
    that beats per-access JsonPath string parsing — the payload is
    decoded once per row, every extraction after that is a cheap
    binary traversal, and shredded-variant storage lets the scan prune
    paths. Output contract is the value histogram of the extracted
    field per event type (distinct from q_json_props' sums, so both
    surfaces stay independently witnessed)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    bucket = F.floor(k / 10).cast("bigint")
    return (
        ev.select("event_type", bucket.alias("k_decade"))
        .groupBy("event_type", "k_decade")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "k_decade")
    )


def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the built-in unpivot/melt operator (the
    inverse of q_pivot_static): lineitem's four measure columns become
    (metric, value) rows, then a per-flag/per-metric aggregate. The
    unpivot is a zero-shuffle projection (each input row emits 4
    typed rows JVM-side); only the final group-by exchanges, and at
    vocabulary scale (flags × metrics)."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return (
        long.groupBy("l_returnflag", "metric")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r6(dsum(F.col("value"))).alias("sum_value"),
            _r6(dsum(F.col("value")) / F.count(F.lit(1))).alias("avg_value"),
        )
        .orderBy("l_returnflag", "metric")
    )


# ---------------------------------------------------------------------------
# Further TPC-H shapes, statistics, string matching and event/window
# plans.
# ---------------------------------------------------------------------------


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: supplier-nation × customer-nation trade volume
    per year (two independent dim paths onto the same fact rows)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            _r6(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "volume"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp → profit ≈ discounted revenue minus
    a retail-price cost proxy), grouped by supplier nation and year."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("ol")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(
            _r6(
                dsum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    - F.col("p_retailprice") * F.col("l_quantity") * 0.1
                )
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


def q12_priority_by_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts (high/low priority) over a
    date-windowed fact join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio (share of revenue from
    'PROMO%'-typed parts) in one aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            _r6(
                F.lit(100.0)
                * dsum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0)))
                / dsum(rev)
            ).alias("promo_revenue_pct")
        )
    )


def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of conjunctive brand/size/quantity clauses —
    the disjunctive-predicate pushdown stress test."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(broadcast(part), li.l_partkey == part.p_partkey)
    clause1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    clause2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(10, 40))
    )
    # decimal sum: order-independent at any scale (see relational.dsum)
    return j.filter(clause1 | clause2).agg(
        _r6(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window surface (lag/lead): per event, seconds since the
    user's previous event and until the next one. Ties broken by
    event_id so both engines sequence identically."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    return ev.select(
        "user_id",
        "event_id",
        (sec - F.lag(sec).over(w)).alias("gap_prev_s"),
        (F.lead(sec).over(w) - sec).alias("gap_next_s"),
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than rollup/cube): flag
    totals and status totals in one pass, no cross terms."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _r6(dsum(F.col("l_extendedprice"))).alias("sum_price"),
        )
    )


def q_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: the distinct event types each user produced,
    as a canonical sorted comma-joined string (portable across engines,
    unlike raw array stringification)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("event_type")), ","
            ).alias("event_types"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode tokens, count, rank top 50 — the
    text-pipeline token-frequency primitive (map-side partial counts
    keep the shuffle at |vocab|)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 50)
    )


def q_correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: Pearson correlation and sample
    covariance between quantity and price per return flag."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            _r6(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
            _r6(F.covar_samp("l_quantity", "l_extendedprice")).alias(
                "covar_qty_price"
            ),
            _r6(F.stddev_samp("l_extendedprice")).alias("std_price"),
            _r6(F.var_samp("l_quantity")).alias("var_qty"),
        )
        .orderBy("l_returnflag")
    )


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier trimming (winsorize-by-filter): per-group [p05, p95]
    bounds from an exact percentile aggregate, broadcast back to filter
    the fact rows, then stats over the surviving mass — the data-
    cleaning prefilter pattern, two aggregates and one broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    # array-form percentile: one sort buffer for both bounds (the same
    # measured ~2x as q_quantiles_by_flag / quantiles_approx)
    bounds = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(l_extendedprice, array(0.05, 0.95))"
        ).alias("ps")
    ).select(
        "l_returnflag",
        F.col("ps")[0].alias("p05"),
        F.col("ps")[1].alias("p95"),
    )
    trimmed = li.join(broadcast(bounds), "l_returnflag").filter(
        (F.col("l_extendedprice") >= F.col("p05"))
        & (F.col("l_extendedprice") <= F.col("p95"))
    )
    return (
        trimmed.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            _r6(F.avg("l_extendedprice")).alias("trimmed_mean"),
            _r6(F.min("l_extendedprice")).alias("trimmed_min"),
            _r6(F.max("l_extendedprice")).alias("trimmed_max"),
        )
        .orderBy("l_returnflag")
    )


def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: close part-name pairs (edit distance ≤ 4)
    within (brand, size) blocks — the blocked-levenshtein entity-
    resolution pattern; blocking keeps the candidate set at cell
    occupancy, never catalog²."""
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_brand"), F.col("p_size"),
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_brand"), F.col("p_size"),
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b"),
    )
    pairs = (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 4)
    )
    return (
        pairs.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_close_pairs"),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
            F.min("dist").alias("min_dist"),
        )
        .orderBy("p_brand")
    )


def q_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex group extraction (portable subset): pull the numeric id out
    of c_name, verify it round-trips to the key, bucket by last digit."""
    cust = load_table(spark, sf_dir, "customer")
    extracted = cust.select(
        "c_custkey",
        F.regexp_extract("c_name", r"Customer#(\d+)", 1)
        .cast("long")
        .alias("name_id"),
    )
    return (
        extracted.withColumn(
            "id_matches", F.col("name_id") == F.col("c_custkey")
        )
        .groupBy((F.col("c_custkey") % 10).alias("last_digit"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("id_matches").cast("long")).alias("n_matching"),
        )
        .orderBy("last_digit")
    )


def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-frame window: per order day, revenue summed over a 3-day
    trailing RANGE (value-based frame over the day number — includes
    absent days implicitly, unlike a rows frame)."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
    ).agg(F.round(dsum(F.col("o_totalprice")), 6).alias("revenue"))
    daily = daily.withColumn(
        "day_num", (F.unix_timestamp("day") / 86400).cast("long")
    )
    w = Window.orderBy("day_num").rangeBetween(-2, 0)
    return daily.select(
        "day",
        "revenue",
        F.round(F.sum("revenue").over(w), 6).alias("rolling_3d_revenue"),
    )


def q_pivot_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static pivot: explicit value list, so no driver-side distinct
    scan and no column-explosion cliff — the scale-safe form of the
    reference's dynamic groupBy().pivot() (SURVEY §4.3.6). Quantity
    totals per nation × returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 6))
        .select(
            "n_name",
            F.col("A").alias("qty_a"),
            F.col("N").alias("qty_n"),
            F.col("R").alias("qty_r"),
        )
        .orderBy("n_name")
    )


def q_customer_spend_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-analytics surface: rank / percent_rank / cume_dist /
    ntile over per-customer total spend. One aggregate then one
    global-ordered window over the (customer-sized) aggregate."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 6).alias("total_spend")
    )
    w = Window.orderBy(F.desc("total_spend"), F.asc("o_custkey"))
    return spend.select(
        "o_custkey",
        "total_spend",
        F.rank().over(w).cast("long").alias("spend_rank"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def q_events_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap filling: hourly event counts per
    type over the DENSE calendar (empty hours present with 0) —
    the downsample-then-densify op dashboards and models need.

    The dense axis is generated (sequence over the observed bound, a
    2-row aggregate), cross-joined with the type dimension, then
    left-joined with the sparse counts: no driver-side calendar, and
    the generated side is |hours| × |types| — bounded by time range,
    not data volume."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_start")
    )
    types = ev.select("event_type").distinct()
    dense = hours.crossJoin(broadcast(types))
    return dense.join(counts, ["hour_start", "event_type"], "left").select(
        "hour_start",
        "event_type",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    per week-offset of later activity — two aggregates and one
    broadcast join (the cohort table is user-sized)."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        active.join(broadcast(first), "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(F.col("act_week"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel over the event stream: users who signed
    up, then clicked at or after their first signup, then purchased at
    or after that first click. Three chained min-aggregates, each
    broadcast back onto the (filtered) events — no sessionization state,
    no window over the full stream."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(broadcast(s), "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(broadcast(c), "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(broadcast(c.agg(F.count(F.lit(1)).alias("n_click_after"))))
        .crossJoin(
            broadcast(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
        )
    )


def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar correlated aggregate (above-average
    balance) + NOT EXISTS, grouped by a derived key. The scalar avg is
    a broadcast 1-row cross join, the NOT EXISTS a left_anti."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 18, 1).alias("name_digit"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            _r6(dsum(F.col("c_acctbal"))).alias("total_bal"),
        )
        .orderBy("name_digit")
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence mining: per user (ordered by ts with
    event_id tiebreak), count each (event_type → next event_type)
    transition and its conditional probability — the Markov-matrix view
    of the event stream. One window pass + one aggregate; the
    transition table is |types|² (broadcast-scale) at any corpus size."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wf), 6).alias("p"),
    )


def q_first_last_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-history frame: first/last order date and the
    price of those orders, via first_value/last_value over an
    UNBOUNDED-to-UNBOUNDED frame (the default last_value frame stops at
    CURRENT ROW — a classic silent-wrong-answer; the explicit frame is
    the point of this query). Window partitions by customer, so state
    is per-customer and the plan is one shuffle at any scale."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.first("o_orderdate").over(w).alias("first_date"),
            F.last("o_orderdate").over(w).alias("last_date"),
            F.round(F.first("o_totalprice").over(w), 6).alias("first_price"),
            F.round(F.last("o_totalprice").over(w), 6).alias("last_price"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("n_orders"),
        )
        .distinct()
    )


def q_revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE calendar days whose
    daily revenue beats the all-time daily median; top-10 streaks by
    length. The island key is the classic date − row_number trick; both
    windows run over the DAY-level aggregate (calendar-bounded, a few
    thousand rows at any SF), never the order table. Daily revenue is
    rounded before the median compare so the above/below classification
    is bit-stable across engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    daily = orders.groupBy("o_orderdate").agg(
        F.round(F.sum("o_totalprice"), 6).alias("rev")
    )
    med = daily.agg(F.percentile("rev", F.lit(0.5)).alias("m"))
    hot = daily.crossJoin(broadcast(med)).filter(F.col("rev") > F.col("m"))
    w = Window.orderBy("o_orderdate")
    isl = hot.withColumn("rn", F.row_number().over(w)).withColumn(
        "grp", F.expr("date_sub(o_orderdate, rn)")
    )
    streaks = isl.groupBy("grp").agg(
        F.min("o_orderdate").alias("streak_start"),
        F.max("o_orderdate").alias("streak_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.sum("rev"), 6).alias("total_rev"),
    )
    wtop = Window.orderBy(F.desc("n_days"), F.asc("streak_start"))
    return (
        streaks.withColumn("rnk", F.row_number().over(wtop).cast("bigint"))
        .filter(F.col("rnk") <= 10)
        .select("streak_start", "streak_end", "n_days", "total_rev", "rnk")
    )


# ---------------------------------------------------------------------------
# TPC-H correlation patterns: groupwise-min join-back (Q2), outer-join
# count distribution (Q13), avg-correlated scalar subquery (Q17),
# exists / not-exists double correlation (Q21).
# ---------------------------------------------------------------------------


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — groupwise minimum with join-back: for each
    small part, the supplier rows achieving the part's minimum
    extended price (the correlated scalar-min subquery, decorrelated
    into a grouped aggregate + equi-join, which is exactly what an
    optimizer should do with Q2).

    Scale: the per-part min is a fact-scale aggregate onto part scale;
    the join-back is fact ⋈ broadcast(part-scale min table); dims
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 3)
    sup = load_table(spark, sf_dir, "supplier")
    costs = li.join(
        broadcast(part.select("p_partkey", "p_name")),
        li.l_partkey == F.col("p_partkey"),
    )
    min_cost = costs.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        costs.join(
            broadcast(min_cost),
            (F.col("p_partkey") == F.col("mk"))
            & (F.col("l_extendedprice") == F.col("min_price")),
        )
        .join(broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("s_name").alias("supplier"),
            F.col("s_acctbal").alias("acctbal"),
            _r6(F.col("min_price")).alias("min_price"),
        )
        .orderBy(F.asc("p_partkey"), F.asc("supplier"))
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — outer join + double aggregation: count
    non-urgent orders per customer INCLUDING zero-order customers
    (left join), then the distribution of customers per order count.

    Scale: one customer⋈orders shuffle (orders filtered at the scan),
    then two key-scale aggregates."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — avg-correlated scalar subquery: yearly-ized
    revenue of Brand#1 lineitems whose quantity is below 20% of that
    part's average quantity. The correlation decorrelates into a
    per-part avg + broadcast join back onto the fact.

    Scale: per-part avg is fact→part-scale; the brand filter prunes the
    join-back side to a broadcastable slice."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    )
    branded = li.join(
        broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
    )
    avg_qty = branded.groupBy(F.col("p_partkey").alias("ak")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        branded.join(broadcast(avg_qty), F.col("p_partkey") == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            _r6(dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — conditional-aggregate market share: one
    nation's revenue fraction of the total per year (sum(CASE)/sum —
    the two-level aggregate over one join tree)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _r6(
                dsum(F.when(F.col("n_name") == "FRANCE", vol).otherwise(F.lit(0.0)))
                / dsum(vol)
            ).alias("mkt_share"),
            _r6(dsum(vol)).alias("total_volume"),
        )
        .orderBy("o_year")
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — group total vs a GLOBAL-fraction threshold
    (correlated HAVING decorrelated into a one-row broadcast): parts
    whose revenue exceeds 0.01% of all revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.sum(vol).alias("part_value"))
    total = per_part.agg(
        (F.sum("part_value") * 0.0001).alias("cutoff")
    )
    return (
        per_part.crossJoin(broadcast(total))
        .filter(F.col("part_value") > F.col("cutoff"))
        .select("l_partkey", _r6(F.col("part_value")).alias("part_value"))
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — view + scalar-max join-back: the supplier(s)
    achieving the maximum quarterly revenue (the revenue 'view' is a
    grouped aggregate; the max is a one-row broadcast; equality
    join-back returns all argmax rows)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    sup = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        _r6(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_revenue"
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .select(
            "l_suppkey",
            F.col("s_name").alias("supplier"),
            "total_revenue",
        )
        .orderBy("l_suppkey")
    )


def q16_supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct-count after an anti join: suppliers
    per (brand, type-prefix, size) over small parts, EXCLUDING
    below-average-balance suppliers (the NOT IN decorrelated into a
    broadcast left-anti join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    sup = load_table(spark, sf_dir, "supplier")
    bal_cut = sup.agg(F.avg("s_acctbal").alias("cut"))
    excluded = sup.crossJoin(broadcast(bal_cut)).filter(
        F.col("s_acctbal") < F.col("cut")
    )
    kept = li.join(
        excluded.select("s_suppkey"),
        li.l_suppkey == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        kept.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            F.substring("p_type", 1, 6).alias("p_type_prefix"),
            "p_size",
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"),
            "p_brand",
            "p_type_prefix",
            "p_size",
        )
    )


def q20_candidate_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested semi-join chain: suppliers who shipped
    a high-quantity line (≥ 45) of a small part in 1996 (part-filter →
    lineitem-filter → supplier semi join, each leg pruning the next)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_quantity") >= 45)
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    sup = load_table(spark, sf_dir, "supplier")
    qualifying = li.join(
        broadcast(part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    return (
        sup.join(
            qualifying.select(F.col("l_suppkey").alias("qk")).distinct(),
            sup.s_suppkey == F.col("qk"),
            "left_semi",
        )
        .select(
            "s_suppkey", F.col("s_name").alias("supplier"), "s_acctbal"
        )
        .orderBy("s_suppkey")
    )


def q21_sole_latest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — exists + not-exists double correlation: in
    finalized multi-supplier orders, suppliers whose line ships
    strictly last (another supplier EXISTS on the order; NO OTHER
    supplier shipped later). Expressed as a left-semi join (exists)
    plus a left-anti join (not exists) — the decorrelation Spark plans
    as two shuffled semi/anti joins on the order key.

    Scale: all three join legs are fact-on-orderkey shuffles; no
    nested-loop correlation survives."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    sup = load_table(spark, sf_dir, "supplier")
    l1 = li.join(
        orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).select("l_orderkey", "l_suppkey", "l_shipdate")
    l2 = l1.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    exists_other = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("o2"))
        & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("o3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    sole_latest = exists_other.join(
        l3,
        (F.col("l_orderkey") == F.col("o3"))
        & (F.col("l_suppkey") != F.col("s3"))
        & (F.col("d3") > F.col("l_shipdate")),
        "left_anti",
    )
    return (
        sole_latest.join(broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("supplier"))
    )
