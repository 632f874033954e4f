"""Recommender metrics as single-pass DataFrame pipelines.

Re-expresses the reference's public API (SURVEY.md §2.8) Spark-first:

- ``coverage``       ← reference recmetrics_pyspark.py:106-110 (fixing the
  hardcoded ``id_product`` bug noted in SURVEY §4.3.1)
- ``novelty``        ← reference recmetrics_pyspark.py:147-173
- ``long_tail_stats``← reference recmetrics_pyspark.py:27-103 (stats only;
  plotting stays a thin optional adapter)
- ``personalization``← reference recmetrics_pyspark.py:300-412 — the
  pivot/BlockMatrix/DIMSUM paths replaced by an exact closed-form
  pairwise-cosine sum (SURVEY §2.7 "golden operator" plan)
- ``intra_list_similarity`` ← reference recmetrics_pyspark.py:415-432
  (the same pairwise-cosine sum, per group)

Every function composes lazy transformations and returns a DataFrame;
``*_value`` helpers trigger the single action and return the scalar.
No collect of unaggregated data, no dynamic pivot, no RDDs, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.fitting import md5_prefix


def _require_cols(df: DataFrame, fn: str, *cols: str) -> None:
    """Fail fast with the available schema instead of a deep Catalyst
    UNRESOLVED_COLUMN error — these functions take column names as
    string parameters (the reference's API style), so typos are the
    common user error."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"{fn}: column(s) {missing} not in DataFrame; "
            f"available: {df.columns}"
        )


# ---------------------------------------------------------------------------
# coverage
# ---------------------------------------------------------------------------

def coverage(
    df_recommendations: DataFrame,
    df_ratings: DataFrame,
    col_item: str = "id_product",
) -> DataFrame:
    """|distinct items recommended| / |distinct items rated| as a 1-row DF.

    Reference semantics (recmetrics_pyspark.py:106-110) but distributed:
    the reference collects both item columns to the driver and builds
    Python sets — O(N) driver memory; here both sides are
    ``countDistinct`` aggregates (partial-agg'd, exact) combined with a
    broadcast cross join of two 1-row frames.
    """
    _require_cols(df_recommendations, "coverage", col_item)
    _require_cols(df_ratings, "coverage", col_item)
    rec = df_recommendations.agg(
        F.countDistinct(col_item).alias("rec_items")
    )
    cat = df_ratings.agg(F.countDistinct(col_item).alias("catalog_items"))
    return rec.crossJoin(broadcast(cat)).select(
        F.col("rec_items"),
        F.col("catalog_items"),
        F.round(F.col("rec_items") / F.col("catalog_items"), 6).alias("coverage"),
    )


def coverage_value(df_recommendations, df_ratings, col_item="id_product") -> float:
    return coverage(df_recommendations, df_ratings, col_item).head()["coverage"]


# ---------------------------------------------------------------------------
# novelty
# ---------------------------------------------------------------------------

def novelty_per_user(
    df_sales: DataFrame,
    df_recommendations: DataFrame,
    u: int | None = None,
    col_user: str = "person",
    col_item: str = "product",
    strict: bool = False,
) -> DataFrame:
    """Per-user mean self-information (MSI) of recommended items.

    Exact reference semantics (recmetrics_pyspark.py:147-173):
    pop(item) = row count in sales; log2 = −log₂(pop/u);
    MSI(user) = Σ log2 / |rec list| where the sum SKIPS items never seen
    in sales (null from the left join) while the count still counts them
    — the reference's quirk documented in SURVEY §4.3.7, kept
    deliberately for parity (default ``strict=False``). With
    ``strict=True`` never-sold items are excluded from BOTH numerator
    and denominator (MSI over known items only; a user with no known
    items gets null instead of a silently-deflated score).

    Plan: item-popularity is vocabulary-sized → broadcast to the recs
    join; one shuffle for the popularity agg, one for the per-user agg.
    """
    _require_cols(df_sales, "novelty", col_user, col_item)
    _require_cols(df_recommendations, "novelty", col_user, col_item)
    if u is None:
        u_df = df_sales.agg(F.countDistinct(col_user).cast("double").alias("u"))
    else:
        u_df = df_sales.sparkSession.range(1).select(
            F.lit(float(u)).alias("u")
        )
    pop = (
        df_sales.groupBy(col_item)
        .agg(F.count(F.lit(1)).alias("pop"))
        .crossJoin(broadcast(u_df))
        .select(
            col_item,
            (-F.log2(F.col("pop") / F.col("u"))).alias("log2_si"),
        )
    )
    joined = df_recommendations.select(col_user, col_item).join(
        broadcast(pop), on=col_item, how="left"
    )
    denom = (
        F.count("log2_si") if strict else F.count(F.lit(1))
    )  # count(col) skips nulls; count(1) counts every rec row
    return (
        joined.groupBy(col_user)
        .agg(
            (F.sum("log2_si") / denom).alias("msi"),
        )
    )


def novelty(
    df_sales: DataFrame,
    df_recommendations: DataFrame,
    u: int | None = None,
    col_user: str = "person",
    col_item: str = "product",
) -> DataFrame:
    """Mean MSI over users as a 1-row DF (column ``novelty``)."""
    per_user = novelty_per_user(df_sales, df_recommendations, u, col_user, col_item)
    return per_user.agg(F.round(F.avg("msi"), 6).alias("novelty"))


def novelty_value(df_sales, df_recommendations, u=None, col_user="person",
                  col_item="product") -> float:
    return novelty(df_sales, df_recommendations, u, col_user, col_item).head()[
        "novelty"
    ]


# ---------------------------------------------------------------------------
# long tail
# ---------------------------------------------------------------------------

def long_tail_stats(
    df: DataFrame,
    col_item: str = "id_product",
    percentage: float | None = 0.5,
    tie_buckets: int | None = None,
) -> DataFrame:
    """Popularity curve stats: per-item volume, rank, cumulative share.

    Reference recmetrics_pyspark.py:27-103 computes volume in Spark then
    does cumsum/percent/split in driver pandas; here the whole curve is
    computed distributed and only the (vocabulary-sized) result would
    ever be collected by a plotting adapter — the reference's own
    "aggregate first" rule (:30-32) taken to its conclusion.

    Scale: NO global-ordered catalog window. Items tied at the same
    volume v occupy consecutive ranks and each adds exactly v to the
    running sum, so rank and cumsum decompose onto the DISTINCT-VOLUME
    grain: per tie-group offsets (items above, volume above) come from
    one window over distinct volume VALUES (≤ √(2·Σvol) rows — ~4.5e5
    at 100 TB, one light task), then item_rank = offset + j and
    cumulative_volume = vol_offset + j·v with j a row_number
    partitioned BY volume — a distributed hash-partitioned window, not
    a single-task global sort. Residual bound: the largest tie-group
    (typically the volume=1 tail, a constant fraction of the catalog)
    ranks inside one task with the default ``tie_buckets=None``.
    ``tie_buckets=B`` applies the same trick one level down: items
    salt into B md5 buckets and the offsets window runs on the
    (volume, bucket) grain, so the largest single-task sort shrinks
    by ~B×. Within a tie group every rank position carries the same
    cumulative value, so the CURVE — the (item_rank,
    cumulative_volume, pct) point set — is IDENTICAL under any
    tie_buckets; only which tied item gets which tied rank changes
    (ties break by (bucket, id) instead of (id); property-pinned in
    tests/test_round7_ops.py). Exact integers throughout.
    """
    _require_cols(df, "long_tail_stats", col_item)
    vol = df.groupBy(col_item).agg(F.count(F.lit(1)).alias("volume"))
    total = vol.agg(F.sum("volume").cast("double").alias("total_volume"))
    if tie_buckets is not None:
        # deterministic md5 bucket (the domain_cap_sample hash rule:
        # 15 hex digits → bigint, engine-portable)
        vol = vol.withColumn(
            "tb",
            (
                md5_prefix(F.md5(F.col(col_item).cast("string")), 15)
                % tie_buckets
            ).cast("int"),
        )
    else:
        vol = vol.withColumn("tb", F.lit(0))
    grp = vol.groupBy("volume", "tb").agg(F.count(F.lit(1)).alias("k"))
    wg = Window.orderBy(F.desc("volume"), F.asc("tb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = grp.select(
        "volume",
        "tb",
        F.coalesce(F.sum("k").over(wg), F.lit(0)).alias("rank_off"),
        F.coalesce(
            F.sum(F.col("k") * F.col("volume")).over(wg), F.lit(0)
        ).alias("vol_off"),
    )
    wt = Window.partitionBy("volume", "tb").orderBy(F.asc(col_item))
    out = (
        vol.join(broadcast(offs), ["volume", "tb"])
        .crossJoin(broadcast(total))
        .withColumn("j", F.row_number().over(wt))
        .select(
            F.col(col_item),
            "volume",
            # BIGINT: int32 ranks overflow past ~2.1e9 catalog items,
            # and every consumer (wrappers, oracles) wants long anyway
            (F.col("rank_off") + F.col("j")).cast("bigint").alias(
                "item_rank"
            ),
            (F.col("vol_off") + F.col("j") * F.col("volume")).alias(
                "cumulative_volume"
            ),
            F.round(
                (F.col("vol_off") + F.col("j") * F.col("volume"))
                / F.col("total_volume"),
                6,
            ).alias("pct_cumulative"),
        )
    )
    if percentage is not None:
        out = out.withColumn(
            "bucket",
            F.when(F.col("pct_cumulative") <= F.lit(percentage), "head").otherwise(
                "tail"
            ),
        )
    return out


# ---------------------------------------------------------------------------
# pairwise cosine sums (personalization, intra-list similarity)
# ---------------------------------------------------------------------------

def _pairwise_cosine_sum(
    df: DataFrame,
    keys: list[str],
    col_index: str,
    col_columns: str,
    col_values: str | None = None,
) -> DataFrame:
    """Per group of ``keys`` (one row when there are none): ``n``, the
    number of distinct ``col_index`` values, and ``s``, the sum of the
    cosines of all unordered pairs of their vectors over
    ``col_columns``. A cell's value is ``avg(col_values)``, or 1.0
    when ``col_values`` is None (binary vectors).

    The pair sum needs no self-join: with unit-normalized vectors,
    Σ_{a<b} cos(a, b) = Σ over features of Σ_{a<b} w_a·w_b, and within
    one feature Σ_{a<b} w_a·w_b = ((Σw)² − Σw²)/2. The whole sum is a
    per-feature aggregate of (Σw, Σw²) — O(nnz) work, no quadratic
    blow-up on the hottest feature. Pairs sharing no feature add 0.

    One exchange on (keys, index) serves the cell aggregate, the
    per-index norms and the cells⋈norms join; ``cells`` fans out to
    the last two and is persisted (lazily). try_divide: an all-zero
    vector has norm 0, its weights go NULL and the feature sums skip
    them — it adds 0 to every pair (sklearn's ``normalize()`` leaves a
    zero row zero) while still counting in ``n``; plain division would
    raise under ANSI."""
    vals = [] if col_values is None else [col_values]
    cells = df.select(
        *keys,
        F.col(col_index).alias("_ix"),
        F.col(col_columns).alias("_f"),
        *vals,
    ).repartition(*keys, "_ix")
    # binary cells are the distinct (index, feature) pairs. Over the
    # interactions frame that is the plan of recommend.distinct_pairs,
    # so a session that built it reads its cached rows; a groupBy with
    # a constant column would build a second copy
    if col_values is None:
        cells, v = cells.distinct(), F.lit(1.0)
    else:
        cells = cells.groupBy(*keys, "_ix", "_f").agg(
            F.avg(col_values).alias("_v")
        )
        v = F.col("_v")
    cells = cells.persist()
    norms = cells.groupBy(*keys, "_ix").agg(
        F.sqrt(F.sum(v * v)).alias("_nrm")
    )
    n = norms.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    w = F.try_divide(v, F.col("_nrm")).alias("w")
    s = (
        cells.join(norms, [*keys, "_ix"])
        .select(*keys, "_f", w)
        .groupBy(*keys, "_f")
        .agg(
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("w")).alias("sww"),
        )
        .groupBy(*keys)
        .agg(
            F.sum(
                (F.col("sw") * F.col("sw") - F.col("sww")) / F.lit(2.0)
            ).alias("s")
        )
    )
    both = n.join(s, keys, "left") if keys else s.crossJoin(broadcast(n))
    return both.select(
        *keys, "n", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
    )


# ---------------------------------------------------------------------------
# personalization
# ---------------------------------------------------------------------------

def personalization(
    df: DataFrame,
    col_index: str = "person",
    col_columns: str = "product",
    col_values: str | None = None,
) -> DataFrame:
    """P = 1 − mean pairwise cosine of users' item vectors; 1-row DF.
    Vectors are binary, or weighted by ``avg(col_values)`` per (user,
    item) when ``col_values`` is given (reference :190-193).

    The reference builds a dynamic pivot → user×item matrix → Gram
    product via BlockMatrix or DIMSUM (recmetrics_pyspark.py:300-412,
    three versions, all equal). Those paths need a dense index, a global
    single-partition window, and RDD matrix ops. The exact
    DataFrame-native equivalent (SURVEY §2.7) is the closed-form pair
    sum of ``_pairwise_cosine_sum`` with users as the index and items
    as the features: no self-join, so the hottest-item quadratic
    blow-up (the classic personalization scale killer; the round-1
    plan's self-join had it) does not exist. Doctest fixture
    (:321-333) gives exactly 2/3.
    """
    _require_cols(df, "personalization", col_index, col_columns,
                  *([col_values] if col_values is not None else []))
    sums = _pairwise_cosine_sum(df, [], col_index, col_columns, col_values)
    # n < 2 users -> no pairs -> metric undefined: null, not a div-0 error
    return sums.select(
        F.when(
            F.col("n") >= 2,
            F.round(
                F.lit(1.0)
                - F.lit(2.0) * F.col("s") / (F.col("n") * (F.col("n") - 1)),
                6,
            ),
        ).alias("personalization")
    )


def personalization_value(
    df, col_index="person", col_columns="product", col_values=None
) -> float:
    return personalization(
        df, col_index, col_columns, col_values
    ).head()["personalization"]


# ---------------------------------------------------------------------------
# item-item similarity (item2item collaborative filtering)
# ---------------------------------------------------------------------------

def user_baskets(
    df: DataFrame,
    col_user: str = "person",
    col_item: str = "product",
) -> DataFrame:
    """Per-user distinct item arrays (u, items) — persisted and
    materialized. The ONE basket shuffle every item-space consumer
    shares: the pair pipeline double-explodes it, recommenders explode
    it back to (user, item) rows without re-shuffling (collect_set
    already deduplicates), and the session cache dedupes the plan
    across operators."""
    blists = (
        df.groupBy(F.col(col_user).alias("u"))
        .agg(F.collect_set(F.col(col_item)).alias("items"))
        .persist()
    )
    # materialize before any fan-out: sibling branches of one job
    # would race the unfilled cache
    blists.count()
    return blists


def item_cooccurrence_pairs(
    df: DataFrame,
    col_user: str = "person",
    col_item: str = "product",
    min_common: int = 2,
    max_basket: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared pair pipeline behind item_item_topk and pagerank_items:
    returns (pairs, sizes) where pairs = (ia, ib, n_common) with
    ia < ib and co-occurrence support ≥ ``min_common``, and sizes =
    (i, sz) distinct-user counts per item.

    One ``collect_set`` shuffle builds the distinct baskets (map-side
    partial set subsumes a separate distinct); pairs are emitted by a
    codegen'd double explode (x < y) and counted on a packed BIGINT
    key — see item_item_topk's docstring for the measured numbers.

    ``max_basket`` is the OPT-IN heavy-basket cap — per-user pair
    count is QUADRATIC in basket size, so one bot/crawler user with a
    1e5-item basket would contribute 5e9 pairs from a single row at
    100 TB. The cap slices each basket to its ``max_basket`` smallest
    item ids (``slice(sort_array(items), 1, cap)`` — a deterministic,
    oracle-mirrorable cut; a projection over the cached basket table,
    no extra shuffle) BEFORE the double explode, bounding any user's
    contribution at C(cap, 2) pairs. Capped pairs are a subset of the
    uncapped pairs with per-pair support ≤ the uncapped support
    (property-tested in tests/test_basket_cap.py). ``sizes`` stays
    UNCAPPED: item popularity |users(i)| is linear-cost and exact —
    only the quadratic pair emission needs bounding. The DEFAULT is
    ``None`` — exact co-occurrence, the reference's semantics — so a
    caller on real power-user data never gets silently truncated
    counts; production pipelines opt in (1000 is inert on TPC-H-ish
    baskets, ≤ ~40 items/user at any SF, and bounds the adversarial
    tail — the value every declared engine query passes explicitly,
    mirrored by its oracle's ``bcapped`` cut)."""
    item_type = dict(df.dtypes)[col_item]
    blists = user_baskets(df, col_user, col_item)
    sizes = blists.select(F.explode("items").alias("i")).groupBy("i").agg(
        F.count(F.lit(1)).alias("sz")
    )
    pair_src = blists
    if max_basket is not None:
        pair_src = blists.select(
            F.slice(F.sort_array("items"), 1, max_basket).alias("items")
        )
    # pure-integer pair stream: the cosine numerator is just the
    # co-occurrence COUNT, so no per-pair weight rides the shuffle;
    # sizes attach to the aggregated pairs (catalog-scale, broadcast)
    pairs = (
        pair_src.select(F.col("items"), F.explode("items").alias("x"))
        .select(F.col("x"), F.explode("items").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            (F.col("x").cast("bigint") * F.lit(4294967296).cast("bigint")
             + F.col("y").cast("bigint")).alias("pk")
        )
    )
    # Skip the map-side combine: 13.1M pairs hold ~10M DISTINCT keys at
    # sf0.1 (reduction factor ~1.3), so the partial aggregate builds a
    # multi-GB hash table only to emit nearly every row anyway. An
    # explicit repartition on the key shuffles the raw packed longs and
    # aggregates once on the reduce side — measured ~3s vs ~8s at sf0.1
    # on local[32]. Column-form repartition (no number) keeps AQE free
    # to size the exchange. The same rule holds at 100 TB: pre-shuffle
    # combine only pays when keys repeat within a map partition.
    counts = (
        pairs.repartition("pk")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .select(
            F.expr("pk div 4294967296").cast(item_type).alias("ia"),
            (F.col("pk") % F.lit(4294967296)).cast(item_type).alias("ib"),
            "n_common",
        )
    )
    # NOT persisted: materializing the pair table through the cache
    # builder costs ~5x the flowing aggregate (measured 22s vs ~4s at
    # sf0.1) — consumers that want cached pairs read the persisted
    # `item_similarity_pairs` output and recover n_common exactly as
    # rint(sim * sqrt(sza * szb)) (sim is stored unrounded).
    return counts, sizes


def item_similarity_pairs(
    df: DataFrame,
    col_user: str = "person",
    col_item: str = "product",
    min_common: int = 2,
    max_basket: int | None = None,
) -> DataFrame:
    """All co-occurrence pairs (ia < ib) with their cosine similarity —
    the persisted intermediate behind item_item_topk, exposed for graph
    consumers (the declared queries read it through one named shared
    build, ``__spark_entry__._item_sims``). Persisted and materialized
    before return: every caller fans out to at least two consumers.
    ``max_basket`` is the opt-in heavy-basket cap (default None =
    exact; see item_cooccurrence_pairs). Plan matching in the session
    cache still links the library-internal callers (item_item_topk,
    item_based_recommendations, association_rules) to that build, so
    they must pass the same ``min_common`` and ``max_basket``."""
    counts, sizes = item_cooccurrence_pairs(
        df, col_user, col_item, min_common, max_basket
    )
    sza = sizes.select(F.col("i").alias("ia"), F.col("sz").alias("sza"))
    szb = sizes.select(F.col("i").alias("ib"), F.col("sz").alias("szb"))
    sims = (
        counts.join(F.broadcast(sza), "ia")
        .join(F.broadcast(szb), "ib")
        # count form n/sqrt(sza*szb): same value as summing
        # 1/sqrt(sza*szb) per co-occurrence, but one FP op per pair
        # and bit-identical arithmetic in any engine
        .select(
            "ia",
            "ib",
            (F.col("n_common") / F.sqrt(F.col("sza") * F.col("szb"))).alias(
                "sim"
            ),
        )
    ).persist()
    # materialize ONCE before the two-way union fan-out: sibling
    # branches of a single job can otherwise race the unfilled cache
    # and evaluate the pair pipeline twice
    sims.count()
    return sims


def item_item_topk(
    df: DataFrame,
    col_user: str = "person",
    col_item: str = "product",
    k: int = 5,
    min_common: int = 2,
    max_basket: int | None = None,
) -> DataFrame:
    """Top-k most-similar items per item by co-occurrence cosine — the
    transpose of ``personalization``'s plan: binary item vectors over
    the user dimension, cos(i,j) = |users(i)∩users(j)| / √(|i|·|j|).

    Pair generation is done INSIDE the per-user aggregation: one
    ``collect_set`` shuffle by user builds the distinct baskets (the
    map-side partial collect_set subsumes a separate ``distinct``),
    then a double ``explode`` with an ``x < y`` filter emits each
    unordered pair once — a codegen'd Generate pipeline, measured ~1s
    for 13.1M pairs at sf0.1 vs ~3s for the equivalent nested
    ``transform``/``flatten`` lambda (higher-order functions are
    interpreted per row) and 17-19s for a user-key self-join.

    The pair COUNT aggregation is the real cost (13.1M rows,
    ~10M mostly-unique keys): the two item ids are packed into one
    BIGINT key (``ia * 2^32 + ib``) so the hash aggregate runs on its
    single-primitive-key fast path (measured ~1.5x vs the struct key),
    and the map-side combine is SKIPPED via an explicit repartition on
    the key — with a reduction factor near 1 the partial hash table is
    pure overhead (measured ~3s vs ~8s at sf0.1 on local[32]; see
    item_cooccurrence_pairs). Packing assumes item ids fit in 32 bits
    (4.3B distinct items — beyond any real catalog); ANSI mode
    overflows loudly, not silently, if that's ever violated.

    Per-user pair generation is quadratic in basket size —
    ``max_basket`` (opt-in, default None = exact) IS the heavy-basket
    cap: ``slice(sort_array(items), 1, max_basket)`` before the double
    explode bounds any user's contribution at C(cap, 2) pairs (power
    users contribute little signal per pair and all of the skew; see
    item_cooccurrence_pairs for the subset/support laws, property-
    tested in tests/test_basket_cap.py). ``min_common`` is the
    support threshold: pairs sharing
    fewer users are noise, and dropping them before the ranking window
    cuts its input ~30x on this data (measured: 12.7M → 413k pairs at
    sf0.1 with min_common=2). Output is symmetric: both (i,j)
    directions are ranked so every item gets its own neighbour list."""
    _require_cols(df, "item_item_topk", col_user, col_item)
    sims = item_similarity_pairs(
        df, col_user, col_item, min_common, max_basket
    )
    both = sims.unionByName(
        sims.select(
            F.col("ib").alias("ia"), F.col("ia").alias("ib"), "sim"
        )
    )
    # rank on the ROUNDED similarity: raw float sums can differ at 1 ulp
    # across summation orders, which would make near-ties rank-unstable
    w = Window.partitionBy("ia").orderBy(
        F.desc(F.round("sim", 6)), F.asc("ib")
    )
    out = (
        both.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("ia").alias("item_id"),
            F.col("ib").alias("neighbor_id"),
            F.round("sim", 6).alias("sim"),
            "rnk",
        )
    )
    # persist the RANKED neighbour list too (vocabulary × k rows):
    # downstream consumers (item_based_recommendations) reuse the
    # ranking window's output instead of re-ranking 827k pairs
    return out.persist()


# ---------------------------------------------------------------------------
# intra-list similarity
# ---------------------------------------------------------------------------

def intra_list_similarity(
    df: DataFrame,
    col_group: str = "person",
    col_index: str = "product",
    col_columns: str = "category",
    col_values: str = "rating",
) -> DataFrame:
    """Per-group mean pairwise cosine of the items in the group's list,
    items featurized over ``col_columns`` with ``col_values`` weights.

    Reference semantics (recmetrics_pyspark.py:415-432): per group,
    pandas pivot_table (aggfunc=mean) → item×feature matrix → cosine →
    mean of off-diagonal entries. Driver-side per group in the
    reference; here one distributed pipeline: the closed-form pair sum
    of ``_pairwise_cosine_sum`` per group, divided by the full pair
    count — no item-pair self-join, no C(n_items, 2) blow-up for big
    lists. An all-zero item vector has cosine 0 with every item.

    Groups with a single item return null (pandas yields NaN there too).
    """
    _require_cols(df, "intra_list_similarity", col_group, col_index,
                  col_columns, col_values)
    sums = _pairwise_cosine_sum(
        df, [col_group], col_index, col_columns, col_values
    )
    return sums.select(
        col_group,
        F.when(
            F.col("n") >= 2,
            F.round(F.col("s") / (F.col("n") * (F.col("n") - 1) / 2.0), 6),
        ).alias("intra_list_similarity"),
    )


def popularity_concentration(
    df: DataFrame,
    col_user: str = "person",
    col_item: str = "product",
) -> DataFrame:
    """Catalog-concentration scorecard in one row: the Gini coefficient
    of the item-popularity distribution, its Shannon entropy, and the
    effective catalog size ECS = exp(H) — the "how long is the long
    tail really" numbers read next to coverage/novelty (a Gini near 1
    or an ECS far below the catalog count means a few blockbusters
    carry the traffic).

    Gini uses the sorted-share closed form over shares ascending
    (ties broken by item id): G = (2·Σ_i i·p_(i) − (n+1)) / n with
    Σp = 1.

    Scale: NO catalog-scale window. Items with equal popularity share
    the same p, and their (tie-broken) ranks are consecutive — so the
    rank-weighted sum collapses onto the DISTINCT-COUNT grain:
    a tie-group with k items at count c starting after offset o
    contributes c·(k·o + k(k+1)/2) to Σ rnk·cnt, an exact BIGINT.
    The only window runs over distinct popularity VALUES (≤ √(2·Σcnt)
    rows mathematically — ~4.5e5 at 100 TB, one light task), and the
    whole statistic is three integer sums plus one pre-rounded
    DECIMAL(18,9) entropy sum (order-independent, engine-exact) and
    two final double divisions. The former per-item rank window
    (single-partition over the catalog) is gone."""
    pops = df.groupBy(F.col(col_item).alias("i")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    grp = pops.groupBy("cnt").agg(F.count(F.lit(1)).alias("k"))
    wg = Window.orderBy(F.asc("cnt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    grp = grp.select(
        "cnt",
        "k",
        F.coalesce(F.sum("k").over(wg), F.lit(0)).alias("o"),
    )
    tot = grp.agg(
        F.sum(F.col("cnt") * F.col("k")).alias("tot_l"),
        F.sum("k").alias("n_l"),
    )
    scored = grp.crossJoin(F.broadcast(tot)).select(
        "cnt",
        "k",
        # Σ_{i in group} rnk_i · cnt — exact integer. EVERY product
        # runs in DECIMAL(38,0): k·o and k·(k+1) exceed BIGINT once a
        # tie group passes ~3e9 items (ANSI would throw), and
        # Σ rnk·cnt ~ 1e19 at 100 TB exceeds it always. The
        # triangular term branches on parity so the halving stays in
        # integer arithmetic (no cross-engine decimal-division scale).
        (
            F.col("cnt").cast("decimal(38,0)")
            * (
                F.col("k").cast("decimal(38,0)")
                * F.col("o").cast("decimal(38,0)")
                + F.when(
                    F.col("k") % 2 == 0,
                    F.expr("k div 2").cast("decimal(38,0)")
                    * (F.col("k") + 1).cast("decimal(38,0)"),
                ).otherwise(
                    F.col("k").cast("decimal(38,0)")
                    * F.expr("(k + 1) div 2").cast("decimal(38,0)")
                )
            )
        ).cast("decimal(38,0)").alias("rnk_cnt"),
        # group entropy contribution −k·p·ln p, pre-rounded to 9
        # decimals into DECIMAL(18,9): |k·p| ≤ 1 so the sum is exact
        # and order-independent on both engines
        F.round(
            -(F.col("k") * F.col("cnt") / F.col("tot_l"))
            * F.log(F.col("cnt") / F.col("tot_l")),
            9,
        ).cast("decimal(18,9)").alias("h_dec"),
        "tot_l",
        "n_l",
    )
    return scored.agg(
        F.max("n_l").cast("bigint").alias("n_items"),
        F.round(
            (
                2.0 * F.sum("rnk_cnt") / F.max("tot_l")
                - (F.max("n_l") + 1)
            )
            / F.max("n_l"),
            6,
        ).alias("gini"),
        F.round(F.sum("h_dec").cast("double"), 6).alias("entropy"),
        F.round(
            F.round(F.exp(F.sum("h_dec").cast("double")), 9), 6
        ).alias("effective_catalog_size"),
    )


def user_behavior_entropy(
    df: DataFrame,
    k: int = 20,
    col_user: str = "user",
    col_item: str = "item",
) -> DataFrame:
    """Per-user Shannon entropy of the item-interaction distribution —
    the user-side diversity twin of the catalog-side
    ``popularity_concentration`` entropy: H(u) = -Σ_i p_ui·log2(p_ui)
    with p_ui the share of user u's events on item i, plus the
    normalized variant H/log2(n_items) in [0, 1] (NULL for
    single-item users, where it is 0/0).

    Returns the ``k`` highest-entropy users (most diverse baskets),
    ties broken by user id: user, n_events, n_items, entropy,
    norm_entropy, rnk.

    Determinism across engines: each item's contribution
    -p·log2(p) is pre-rounded to DECIMAL(18,9) and summed EXACTLY
    (associative), so partial-aggregation order can never move the
    ranking — the same rule as the Adamic-Adar wedge sums. Scale
    shape: one (user, item) aggregate, one user-scale aggregate,
    global top-k via orderBy+limit (TakeOrderedAndProject) — nothing
    wider than the interaction table ever shuffles."""
    ui = df.groupBy(
        F.col(col_user).alias("u"), F.col(col_item).alias("i")
    ).agg(F.count(F.lit(1)).alias("n_ui"))
    w_tot = Window.partitionBy("u")
    contrib = F.expr(
        "CAST(round(-(n_ui / n_u) * log2(n_ui / n_u), 9)"
        " AS DECIMAL(18,9))"
    )
    per_user = (
        ui.withColumn("n_u", F.sum("n_ui").over(w_tot))
        .select("u", "n_ui", "n_u", contrib.alias("c"))
        .groupBy("u")
        .agg(
            F.max("n_u").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("c").alias("h_dec"),
        )
    )
    from .ranking import ranked_topk

    return (
        ranked_topk(per_user, [F.desc("h_dec"), F.asc("u")], k)
        .select(
            F.col("u").alias("user"),
            "n_events",
            "n_items",
            F.round(F.col("h_dec").cast("double"), 6).alias("entropy"),
            F.when(
                F.col("n_items") > 1,
                # log2 pre-rounded to 9 decimals: the repo's standard
                # guard against 1-ulp libm-vs-JVM transcendental drift
                F.round(
                    F.col("h_dec").cast("double")
                    / F.round(
                        F.log2(F.col("n_items").cast("double")), 9
                    ),
                    6,
                ),
            ).alias("norm_entropy"),
            "rnk",
        )
    )
