"""Interactions + recommendations derivation over the testdata schema.

The reference's inputs are an interactions (sales/ratings) table and a
top-k recommendations table produced by ALS
(reference usage_examples.ipynb cells 32-39). The driver testdata has no
recommender, so we derive both deterministically from orders×lineitem
(FIXTURES.md §B mapping): user = o_custkey, item = l_partkey. The
"recommendations" are a seeded pseudo-random top-10 per user — the exact
same arithmetic is reproducible in ANSI SQL, which is what makes the
DuckDB oracle able to re-derive identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import shared
from ..sources.io import load_table
from .ranking import ranked_topk, top_k_per_group

# Knuth-style multiplicative constants; small enough that
# user*A + item*B stays far from int64 overflow at any realistic SF.
_HASH_A = 2654435761
_HASH_B = 40503
_HASH_MOD = 1000003


def interactions(
    spark: SparkSession, sf_dir: str, with_rating: bool = False
) -> DataFrame:
    """Long-form (user, item[, rating]) interactions.

    Mirrors the reference's tall/stacked data model (SURVEY.md §1.1):
    one row per purchase event; rating = l_quantity.

    The (rated) frame is a persisted shared build per (application,
    sf_dir) (session.py::shared): it is the shared input of the entire
    recommender-metric family, and without materialization every
    consumer re-runs the orders⋈lineitem join from the parquet scans
    (MEMORY_AND_DISK, same as the dedup family's shared
    intermediates). The un-rated projection derives from the cached
    frame, so both variants share one materialization."""

    def build():
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity"
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                F.col("o_custkey").alias("user"),
                F.col("l_partkey").alias("item"),
                F.col("l_quantity").alias("rating"),
            )
            .persist()
        )

    out = shared(spark, "interactions", sf_dir.rstrip("/"), build)
    if not with_rating:
        return out.select("user", "item")
    return out


def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct purchased (user, item) pairs, a lazily persisted shared
    build per (application, sf_dir). repartition("user") BEFORE the
    distinct: one user-keyed exchange serves the distinct AND the
    recs' ranking window (round 13)."""
    return shared(
        spark,
        "distinct_pairs",
        sf_dir.rstrip("/"),
        lambda: interactions(spark, sf_dir)
        .repartition("user")
        .distinct()
        .persist(),
    )


def pseudo_score(user_col, item_col):
    """Deterministic engine-portable pseudo-random score in [0, 1000003)."""
    return (user_col * F.lit(_HASH_A) + item_col * F.lit(_HASH_B)) % F.lit(_HASH_MOD)


def item_based_recommendations(
    interactions_df: DataFrame,
    col_user: str = "person",
    col_item: str = "product",
    k: int = 10,
    n_neighbors: int = 5,
    min_common: int = 2,
    max_basket: int | None = None,
) -> DataFrame:
    """Training-free item-based collaborative recommender: score each
    candidate item by the summed similarity of its top-``n_neighbors``
    co-occurrence neighbours present in the user's basket, drop items
    the user already has (anti-join), rank top-k per user.

    Composition of item_item_topk + one broadcast neighbour join — the
    candidate set per user is |basket| × n_neighbors, never the
    catalog; this is the plan shape production item2item recommenders
    ship (neighbour lists precomputed, scoring is a bounded join).

    The neighbour list is persisted and materialized BEFORE the fan-out
    (it feeds the candidate join while ``baskets`` feeds two branches):
    without the count(), sibling branches of one job race the unfilled
    cache and re-evaluate the quadratic pair pipeline — the round-1
    bench measured that race at 28s vs ~5s for the materialized plan.
    Top-``n_neighbors`` per item is catalog-bounded (KB-MB at any SF),
    so it broadcasts."""
    from .metrics import item_item_topk, user_baskets

    # the ranked neighbour list is itself persisted by item_item_topk
    # (vocabulary × k rows), so a session that already ran the item
    # query reuses the RANKED output — not just the raw pair table
    sims = item_item_topk(
        interactions_df, col_user, col_item, k=n_neighbors,
        min_common=min_common, max_basket=max_basket
    ).select("item_id", "neighbor_id", "sim").persist()
    sims.count()
    # explode the SHARED persisted basket arrays back to (user, item)
    # rows: collect_set already deduplicated, so this reuses the pair
    # pipeline's one basket shuffle instead of re-running a distinct
    # over the interaction table
    baskets = user_baskets(interactions_df, col_user, col_item).select(
        F.col("u").alias("buser"), F.explode("items").alias("bitem")
    )
    candidates = baskets.join(
        F.broadcast(sims), baskets.bitem == sims.item_id
    ).groupBy(
        F.col("buser"), F.col("neighbor_id")
    ).agg(F.sum("sim").alias("score"))
    owned = baskets.select("buser", F.col("bitem").alias("neighbor_id"))
    fresh = candidates.join(owned, ["buser", "neighbor_id"], "left_anti")
    return (
        top_k_per_group(
            fresh, "buser",
            [F.desc(F.round("score", 6)), F.asc("neighbor_id")], k,
        )
        .select(
            F.col("buser").alias("user_id"),
            F.col("neighbor_id").alias("item_id"),
            F.round("score", 6).alias("score"),
            "rnk",
        )
    )


def synthetic_recommendations(
    spark: SparkSession, sf_dir: str, k: int = 10, pairs: DataFrame | None = None
) -> DataFrame:
    """Deterministic top-k recs per user: (user, item, rnk).

    Distinct purchased pairs ranked by a portable hash and no
    data-dependent randomness. ONE user-keyed shuffle serves both the
    distinct and the ranking window (round 13): HashPartitioning(user)
    satisfies the (user, item) distinct's clustered distribution AND
    the window's partitionBy(user), so the explicit repartition
    replaces what were two exchanges (the distinct hashed on BOTH
    columns, then the window re-shuffled back to user). ``pairs``
    defaults to the session's :func:`distinct_pairs` build, so metric
    queries that derive both sales and recs from interactions scan
    the input once."""
    if pairs is None:
        pairs = distinct_pairs(spark, sf_dir)
    scored = pairs.withColumn("score", pseudo_score(F.col("user"), F.col("item")))
    return top_k_per_group(
        scored, "user", [F.asc("score"), F.asc("item")], k
    ).select("user", "item", "rnk")


def ranking_metrics_at_k(
    recs: DataFrame,
    truth: DataFrame,
    k: int = 10,
    col_user: str = "user",
    col_item: str = "item",
    col_rank: str = "rnk",
) -> DataFrame:
    """Offline ranking evaluation — precision@k, recall@k, NDCG@k macro-
    averaged over users with a non-empty truth set. The eval loop every
    recommender ships next to the reference's coverage/novelty/
    personalization metrics.

    All set math is joins + aggregates: hits = recs ⋈ truth (one
    shuffle on (user, item)), DCG sums 1/log2(rank+1) over hits, IDCG
    over the user's first min(|truth|, k) slots. Every intermediate is
    USER-scale; the macro average is a 1-row aggregate. No per-user
    python, no collect — the evaluation scales with the rec table."""
    from pyspark.sql.window import Window

    r = recs.select(
        F.col(col_user).alias("u"),
        F.col(col_item).alias("i"),
        F.col(col_rank).alias("rnk"),
    ).filter(F.col("rnk") <= k)
    t = truth.select(
        F.col(col_user).alias("u"), F.col(col_item).alias("i")
    ).distinct()
    sizes = t.groupBy("u").agg(F.count(F.lit(1)).alias("n_truth"))
    wt = Window.partitionBy("u").orderBy("i")
    idcg = (
        t.withColumn("pos", F.row_number().over(wt))
        .filter(F.col("pos") <= k)
        .groupBy("u")
        .agg(F.sum(1.0 / F.log2(F.col("pos") + 1)).alias("idcg"))
    )
    hits = r.join(t, ["u", "i"]).groupBy("u").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum(1.0 / F.log2(F.col("rnk") + 1)).alias("dcg"),
    )
    per_user = (
        sizes.join(idcg, "u")
        .join(hits, "u", "left")
        .select(
            "u",
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k))).alias(
                "precision"
            ),
            (
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_truth").cast("double")
            ).alias("recall"),
            (
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg")
            ).alias("ndcg"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("precision"), 6).alias("precision_at_k"),
        F.round(F.avg("recall"), 6).alias("recall_at_k"),
        F.round(F.avg("ndcg"), 6).alias("ndcg_at_k"),
    )


def negative_sampling(
    interactions_df: DataFrame,
    k: int = 5,
    oversample: int = 3,
    col_user: str = "user",
    col_item: str = "item",
) -> DataFrame:
    """Deterministic per-user negative sampling — the candidate
    generator for implicit-feedback training (BPR / sampled-softmax
    batches pair every positive with k items the user has NOT touched).

    Per user, ``k·oversample`` pseudo-random draws over the item-id
    domain [1, max_item] (the same engine-portable multiplicative hash
    as :func:`pseudo_score`, indexed by draw number), then one
    left-anti join removes accidental positives and a duplicate-draw
    pass keeps each item's earliest draw. Both windows partition on
    (user[, item]) with group size bounded by ``k·oversample`` — no
    global sort, no per-user driver loop, so the plan is user-scale
    shuffles all the way down. The item-domain max arrives via a
    broadcast one-row cross join (no driver action, fully lazy)."""
    m = k * oversample
    nmax = interactions_df.agg(
        F.max(F.col(col_item)).cast("long").alias("n_max")
    )
    users = interactions_df.select(F.col(col_user).alias("u")).distinct()
    cand = (
        users.crossJoin(F.broadcast(nmax))
        .select(
            "u",
            F.explode(F.sequence(F.lit(1), F.lit(m))).alias("j"),
            "n_max",
        )
        .select(
            "u",
            "j",
            (
                (
                    (
                        F.col("u") * F.lit(_HASH_A)
                        + F.col("j") * F.lit(_HASH_B)
                    )
                    % F.lit(_HASH_MOD)
                )
                % F.col("n_max")
                + 1
            ).alias("neg_item"),
        )
    )
    pos = interactions_df.select(
        F.col(col_user).alias("u"), F.col(col_item).alias("neg_item")
    ).distinct()
    neg = cand.join(pos, ["u", "neg_item"], "left_anti")
    w_dup = Window.partitionBy("u", "neg_item").orderBy("j")
    first = (
        neg.withColumn("first_draw", F.row_number().over(w_dup))
        .filter(F.col("first_draw") == 1)
        .drop("first_draw")
    )
    return (
        top_k_per_group(first, "u", [F.col("j")], k)
        .select(
            F.col("u").alias(col_user),
            F.col("neg_item"),
            "rnk",
        )
    )


def association_rules(
    df: DataFrame,
    col_user: str = "user",
    col_item: str = "item",
    min_common: int = 2,
    min_confidence: float = 0.0,
    top_k: int = 50,
    max_basket: int | None = None,
) -> DataFrame:
    """Pairwise association rules A→B over co-purchase baskets:

        support(A,B)    = n(A∧B) / N
        confidence(A→B) = n(A∧B) / n(A)
        lift(A→B)       = confidence / (n(B) / N)

    (the market-basket classic — FP-Growth's 2-itemset output, which is
    where most production rule mining stops anyway). Both directions of
    every unordered pair are emitted, filtered by confidence, ranked by
    lift with deterministic tie-breaks.

    Scale: rides the SAME persisted similarity table as item_item_topk
    and pagerank_items (`operators/metrics.py::item_similarity_pairs`),
    recovering the co-occurrence count exactly as
    rint(sim · √(sza·szb)) — sim is stored unrounded as n/√(sza·szb),
    so the product is an integer up to ~1e-10 float error and rint is
    exact. Everything after is pair-scale arithmetic with
    catalog-scale broadcasts; global top-k via ``ranked_topk``
    (orderBy + limit, then a k-row rank window). N enters
    declaratively as a one-row crossJoin(broadcast(·)) frame over the
    persisted basket table (the sequential_rules pattern) — the
    former N formula scalar is gone; the only build-time action left
    is ``user_baskets``' own documented cache-fill count, which the
    sims path above has already executed, so it is a cache read, not
    a scan."""
    from .metrics import (
        item_cooccurrence_pairs,
        item_similarity_pairs,
        user_baskets,
    )

    sims = item_similarity_pairs(df, col_user, col_item, min_common, max_basket)
    _, sizes = item_cooccurrence_pairs(
        df, col_user, col_item, min_common, max_basket
    )
    sa = sizes.select(F.col("i").alias("ia"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("i").alias("ib"), F.col("sz").alias("szb"))
    pairs = (
        sims.join(F.broadcast(sa), "ia")
        .join(F.broadcast(sb), "ib")
        .select(
            "ia",
            "ib",
            F.rint(
                F.col("sim") * F.sqrt(F.col("sza") * F.col("szb"))
            ).cast("bigint").alias("n_common"),
        )
    )
    # one row, double-typed to mirror the oracle's CAST(... AS DOUBLE);
    # user_baskets is the session-cached basket table the sims above
    # already filled, so this aggregate is a cache read, not a re-scan
    nu = user_baskets(df, col_user, col_item).agg(
        F.count(F.lit(1)).cast("double").alias("n_users")
    )
    both = pairs.select(
        F.col("ia").alias("a"), F.col("ib").alias("b"), "n_common"
    ).unionByName(
        pairs.select(
            F.col("ib").alias("a"), F.col("ia").alias("b"), "n_common"
        )
    )
    sza = sizes.select(F.col("i").alias("a"), F.col("sz").alias("n_a"))
    szb = sizes.select(F.col("i").alias("b"), F.col("sz").alias("n_b"))
    rules = (
        both.join(F.broadcast(sza), "a")
        .join(F.broadcast(szb), "b")
        .crossJoin(F.broadcast(nu))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            "n_common",
            F.round(F.col("n_common") / F.col("n_users"), 6).alias(
                "support"
            ),
            F.round(F.col("n_common") / F.col("n_a"), 6).alias("confidence"),
            F.round(
                F.col("n_common") * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .filter(F.col("confidence") >= min_confidence)
    )
    return (
        ranked_topk(
            rules,
            [F.desc("lift"), F.asc("antecedent"), F.asc("consequent")],
            top_k,
        )
        .select(
            "rnk", "antecedent", "consequent", "n_common",
            "support", "confidence", "lift",
        )
    )


def baseline_predictor_rmse(
    ratings: DataFrame,
    col_user: str = "user",
    col_item: str = "item",
    col_rating: str = "rating",
) -> DataFrame:
    """The classic bias baseline predictor (the floor every factor
    model must beat): r̂(u,i) = μ + b_u + b_i with μ the global mean,
    b_u the user's mean residual over μ, and b_i the item's mean
    residual over μ + b_u — then the model's RMSE/MAE against the
    observed ratings, next to the predict-the-mean RMSE for reference.

    Scale: three sequential aggregates (one global row, user-scale,
    item-scale) whose outputs broadcast back over the ratings scan;
    the error metrics are one more aggregate. Nothing wider than the
    ratings table ever shuffles — at 100 TB this is four passes, each
    reduction-only."""
    r = ratings.select(
        F.col(col_user).alias("u"),
        F.col(col_item).alias("i"),
        F.col(col_rating).cast("double").alias("r"),
    )
    mu = r.agg(F.avg("r").alias("mu"))
    bu = (
        r.crossJoin(F.broadcast(mu))
        .groupBy("u")
        .agg(F.avg(F.col("r") - F.col("mu")).alias("bu"))
    )
    bi = (
        r.crossJoin(F.broadcast(mu))
        .join(bu, "u")
        .groupBy("i")
        .agg(F.avg(F.col("r") - F.col("mu") - F.col("bu")).alias("bi"))
    )
    scored = (
        r.crossJoin(F.broadcast(mu))
        .join(bu, "u")
        .join(F.broadcast(bi), "i")
        .select(
            "r",
            "mu",
            (F.col("mu") + F.col("bu") + F.col("bi")).alias("pred"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_ratings"),
        F.round(
            F.sqrt(F.avg(F.pow(F.col("r") - F.col("pred"), 2))), 6
        ).alias("rmse"),
        F.round(F.avg(F.abs(F.col("r") - F.col("pred"))), 6).alias("mae"),
        F.round(
            F.sqrt(F.avg(F.pow(F.col("r") - F.col("mu"), 2))), 6
        ).alias("rmse_mean_only"),
    )


def item_exposure(
    recs: DataFrame,
    col_item: str = "item",
    col_rank: str = "rnk",
    top_k: int = 20,
) -> DataFrame:
    """Rank-discounted exposure audit: each list slot contributes
    1/log2(rank+1) (the NDCG discount) to its item, and an item's
    exposure share is its fraction of the total — the table a fairness
    or payout audit reads to see who the ranker is actually showing
    (position bias included, unlike raw impression counts).

    Scale: one item-keyed aggregate (catalog-scale result), a one-row
    total broadcast, and a global top-k (``ranked_topk``: map-side
    partial top-k, never a one-partition sort of the catalog)."""
    per_item = recs.groupBy(F.col(col_item).alias("item")).agg(
        F.sum(1.0 / F.log2(F.col(col_rank) + 1)).alias("exposure"),
        F.count(F.lit(1)).alias("n_impressions"),
    )
    total = per_item.agg(F.sum("exposure").alias("tot"))
    shares = per_item.crossJoin(F.broadcast(total)).select(
        "item",
        "n_impressions",
        F.round("exposure", 6).alias("exposure"),
        F.round(F.col("exposure") / F.col("tot"), 6).alias("exposure_share"),
    )
    return ranked_topk(
        shares, [F.desc("exposure"), F.asc("item")], top_k
    ).select("rnk", "item", "n_impressions", "exposure", "exposure_share")


def calibration_kl(
    history: DataFrame,
    recs: DataFrame,
    categories: DataFrame,
    col_user: str = "user",
    col_item: str = "item",
    col_cat: str = "category",
) -> DataFrame:
    """Calibrated-recommendation audit (Steck 2018): per user, the KL
    divergence KL(p_rec ‖ p_hist) between the category mix the user is
    SHOWN and the mix they historically consumed — high mean KL means
    the ranker collapses users onto crowd-pleaser categories. History
    shares are Laplace-smoothed over the global category count so a
    recommended category the user never touched stays finite.

    Scale: two (user, category)-keyed aggregates, a categories
    broadcast onto each, and a user-scale KL aggregate — nothing wider
    than the interaction tables shuffles; output is one row."""
    cats = categories.select(
        F.col(col_item).alias("i"), F.col(col_cat).alias("cat")
    )
    n_cats = cats.select(
        F.countDistinct("cat").cast("double").alias("n_cats")
    )

    def mix(df):
        return (
            df.select(F.col(col_user).alias("u"), F.col(col_item).alias("i"))
            .join(F.broadcast(cats), "i")
            .groupBy("u", "cat")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    hist = mix(history)
    hist_tot = hist.groupBy("u").agg(F.sum("n").alias("h_tot"))
    rec = mix(recs)
    rec_tot = rec.groupBy("u").agg(F.sum("n").alias("r_tot"))
    per_user = (
        rec.join(rec_tot, "u")
        .join(
            hist.select("u", "cat", F.col("n").alias("h_n")),
            ["u", "cat"],
            "left",
        )
        .join(hist_tot, "u")
        .crossJoin(F.broadcast(n_cats))
        .select(
            "u",
            (F.col("n") / F.col("r_tot")).alias("p_rec"),
            (
                (F.coalesce(F.col("h_n"), F.lit(0)) + 0.5)
                / (F.col("h_tot") + 0.5 * F.col("n_cats"))
            ).alias("p_hist"),
        )
        .groupBy("u")
        .agg(
            F.sum(
                F.col("p_rec") * F.log(F.col("p_rec") / F.col("p_hist"))
            ).alias("kl")
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("kl"), 6).alias("mean_kl"),
        F.round(F.max("kl"), 6).alias("max_kl"),
    )


def serendipity_at_k(
    recs: DataFrame,
    truth: DataFrame,
    k: int = 10,
    baseline_k: int = 100,
    col_user: str = "user",
    col_item: str = "item",
    col_rank: str = "rnk",
) -> DataFrame:
    """Serendipity@k (Ge et al. 2010 shape): how much of the lists'
    VALUE comes from outside the obvious baseline. The baseline is the
    global top-``baseline_k`` most-popular items (the recommender any
    business already has); a rec is *unexpected* if it's not in it, and
    *serendipitous* if it's unexpected AND a hit in the user's truth
    set. Returns one row: mean unexpectedness (share of recs outside
    the baseline) and mean serendipity (unexpected hits / k), macro-
    averaged over users.

    Scale: popularity is one item-keyed aggregate; the baseline is
    baseline_k rows (broadcast); hits are one (user, item) join —
    everything else is user-scale."""
    from pyspark.sql.window import Window

    r = recs.select(
        F.col(col_user).alias("u"),
        F.col(col_item).alias("i"),
        F.col(col_rank).alias("rnk"),
    ).filter(F.col("rnk") <= k)
    t = truth.select(
        F.col(col_user).alias("u"), F.col(col_item).alias("i")
    ).distinct()
    pop = t.groupBy("i").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.orderBy(F.desc("cnt"), F.asc("i"))
    baseline = (
        pop.withColumn("brnk", F.row_number().over(wb))
        .filter(F.col("brnk") <= baseline_k)
        .select("i", F.lit(1).alias("in_baseline"))
    )
    hits = t.select("u", "i", F.lit(1).alias("is_hit"))
    scored = (
        r.join(F.broadcast(baseline), "i", "left")
        .join(hits, ["u", "i"], "left")
        .groupBy("u")
        .agg(
            F.sum(
                F.when(F.col("in_baseline").isNull(), 1).otherwise(0)
            ).alias("n_unexpected"),
            F.sum(
                F.when(
                    F.col("in_baseline").isNull()
                    & F.col("is_hit").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("n_serendip"),
            F.count(F.lit(1)).alias("n_recs"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(
            F.avg(F.col("n_unexpected") / F.col("n_recs")), 6
        ).alias("unexpectedness"),
        F.round(F.avg(F.col("n_serendip") / F.lit(float(k))), 6).alias(
            "serendipity"
        ),
    )


def mmr_rerank(
    candidates: DataFrame,
    sims: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    col_user: str = "user_id",
    col_item: str = "item_id",
    col_rel: str = "score",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell &
    Goldstein 1998): greedily pick ``k`` items per user where each
    step maximizes  λ·relevance − (1−λ)·max_sim_to_already_selected —
    the standard retrieve-then-diversify re-rank that stops a list
    collapsing onto near-duplicates of one interest.

    Greedy selection is inherently sequential in k, so the plan unrolls
    k steps; each step's work is CANDIDATE × SELECTED scale per user
    (≤ |pool|·k rows — the pool is a bounded top-N retrieval, never the
    catalog), with the pairwise similarity looked up in ``sims``
    (ia, ib, sim — missing pair = 0). ``sims`` is a canonical table:
    each unordered pair stored ONCE as ia < ib, with sim(i,j) ==
    sim(j,i) — item_similarity_pairs' shape.

    Determinism note: the MMR combination λ·rel − (1−λ)·msim runs in
    exact DECIMAL arithmetic (λ as a decimal literal over 6-decimal
    inputs). A double version rounds values that sit EXACTLY on
    decimal boundaries (a 1-decimal λ times a 6-decimal rel is a
    7-decimal value, so ~10% of products end in the digit 5) and the
    engines' round() disagree there — measured 9/750 last-digit
    mismatches before the decimal form. Tie-breaks by item id.

    Physical shape: greedy selection is sequential in k but
    INDEPENDENT per user, so the k steps run as array-local higher-
    order functions (`aggregate` over `sequence(2, k)`) inside one
    projection over user-packed pools — three bounded shuffles total
    (pair-sim join, per-candidate map agg, per-user pool agg) and
    ZERO per-step jobs. The previous formulation re-joined
    candidates × selected per step (4 shuffle+window+checkpoint
    rounds: 20 s at sf0.1); this one runs the identical arithmetic
    scan-locally in ~3 s, and at 100 TB keeps selection embarrassingly
    parallel — no step barrier, no user-keyed traffic after the pack.

    Returns (user, item, step, mmr_score) for step = 1..k; lam must be
    exactly representable at 2 decimal places."""
    from decimal import Decimal

    lam_d = Decimal(str(lam))
    if lam_d != lam_d.quantize(Decimal("0.01")):
        raise ValueError(f"lam must have <= 2 decimal places: {lam}")
    one_minus = Decimal("1") - lam_d
    # the candidate frame fans out three ways (both pair-join sides +
    # the pool agg); without materialization the upstream retrieval
    # pipeline re-evaluates per consumer (measured 3×3.1 s of the
    # 9.6 s total at sf0.1). pool×users rows — persisting is cheap at
    # any scale, same session-lifetime contract as the dedup family
    cand = (
        candidates.select(
            F.col(col_user).alias("u"),
            F.col(col_item).alias("i"),
            F.round(col_rel, 6).cast("decimal(18,6)").alias("rel"),
        )
        .persist()
    )
    cand.count()
    simsr = sims.select(
        F.col("ia"),
        F.col("ib"),
        F.round("sim", 6).cast("decimal(18,6)").alias("s"),
    )
    # per-candidate similarity maps, restricted to co-candidate pairs:
    # pool² rows per user flow through ONE equi-join against the big
    # similarity table, then collapse to a map<neighbor, sim> per
    # (user, candidate) — absent pairs are looked up as 0 at selection
    # time, so the maps carry only REAL sims (sparse, bounded by pool²).
    # Each unordered candidate pair is generated once (i < j) and probes
    # the canonical table directly; the MATCHED rows are mirrored by a
    # 2-way explode (join output scale, bounded by real sims) so each
    # candidate's map holds both lookup directions
    entries = (
        cand.select("u", "i")
        .join(cand.select("u", F.col("i").alias("j")), "u")
        .filter(F.col("i") < F.col("j"))
        .join(
            simsr,
            (F.col("i") == simsr.ia) & (F.col("j") == simsr.ib),
        )
        .select(
            "u",
            F.explode(
                F.array(
                    F.struct(
                        F.col("i").alias("i"),
                        F.col("j").alias("jj"),
                        F.col("s").alias("s"),
                    ),
                    F.struct(
                        F.col("j").alias("i"),
                        F.col("i").alias("jj"),
                        F.col("s").alias("s"),
                    ),
                )
            ).alias("e"),
        )
        .select(
            "u",
            F.col("e.i").alias("i"),
            F.col("e.jj").alias("j"),
            F.col("e.s").alias("s"),
        )
    )
    pair_maps = entries.groupBy("u", "i").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("j"), F.col("s")))
        ).alias("sims")
    )
    pooled = (
        cand.join(pair_maps, ["u", "i"], "left")
        .groupBy("u")
        .agg(
            F.collect_list(F.struct("i", "rel", "sims")).alias("pool")
        )
        # deterministic candidate order regardless of shuffle arrival:
        # (rel desc, i asc) — element 1 is step-1's pick
        .withColumn(
            "spool",
            F.expr(
                "array_sort(pool, (a, b) -> CASE"
                " WHEN a.rel > b.rel THEN -1 WHEN a.rel < b.rel THEN 1"
                " WHEN a.i < b.i THEN -1 ELSE 1 END)"
            ),
        )
    )
    lam_sql = f"CAST({lam_d} AS DECIMAL(4,2))"
    om_sql = f"CAST({one_minus} AS DECIMAL(4,2))"
    zero6 = "CAST(0 AS DECIMAL(18,6))"
    # the k-step greedy loop, array-local: state = (selected ids,
    # emitted picks); each step scores the remaining candidates by
    # λ·rel − (1−λ)·max-sim-to-selected in exact DECIMAL, takes the
    # (mmr desc, i asc) argmax, and appends it. Users whose pool runs
    # dry keep their state (IF guard) and simply emit fewer steps.
    first_sql = (
        "array(struct(element_at(spool, 1).i AS i, 1 AS step,"
        " CAST(element_at(spool, 1).rel AS DOUBLE) AS mmr))"
    )
    if k < 2:
        # sequence(2, 1) would DESCEND ([2, 1]); short-circuit to the
        # pure-relevance first pick
        return (
            pooled.filter(F.size("spool") > 0)
            .select("u", F.explode(F.expr(first_sql)).alias("p"))
            .select(
                F.col("u").alias(col_user),
                F.col("p.i").alias(col_item),
                F.col("p.step").cast("bigint").alias("step"),
                F.col("p.mmr").alias("mmr_score"),
            )
        )
    # state = the emitted picks; the selected-id set is derived from it
    # (transform(st, o -> o.i)), and the per-step argmax is built ONCE:
    # slice(sorted, 1, 1) + transform wraps the winner in a lambda
    # binding, so its fields are referenced without re-inlining the
    # scoring expression. A dry pool yields an empty slice and the
    # concat is a no-op — no IF guard needed.
    sel_expr = f"""
aggregate(
  sequence(2, {k}),
  transform(slice(spool, 1, 1),
            b0 -> struct(b0.i AS i, 1 AS step,
                         CAST(b0.rel AS DOUBLE) AS mmr)),
  (st, t) -> concat(st, transform(
    slice(
      array_sort(
        transform(
          filter(spool,
                 c2 -> NOT array_contains(transform(st, o -> o.i), c2.i)),
          c -> struct(
            c.i AS i,
            {lam_sql} * c.rel - {om_sql} * coalesce(
              array_max(transform(transform(st, o2 -> o2.i),
                sl -> coalesce(element_at(c.sims, sl), {zero6}))),
              {zero6}) AS mmr)),
        (a, b) -> CASE
          WHEN a.mmr > b.mmr THEN -1 WHEN a.mmr < b.mmr THEN 1
          WHEN a.i < b.i THEN -1 ELSE 1 END),
      1, 1),
    bst -> struct(bst.i AS i, t AS step,
                  CAST(bst.mmr AS DOUBLE) AS mmr)))
)
"""
    return (
        pooled.filter(F.size("spool") > 0)
        .select("u", F.explode(F.expr(sel_expr)).alias("p"))
        .select(
            F.col("u").alias(col_user),
            F.col("p.i").alias(col_item),
            F.col("p.step").cast("bigint").alias("step"),
            F.col("p.mmr").alias("mmr_score"),
        )
    )


def sequence_examples(
    timed: DataFrame,
    max_len: int = 8,
    col_user: str = "user",
    col_time: str = "dt",
    col_order: str = "ok",
    col_item: str = "item",
) -> DataFrame:
    """Sequential-recommendation training examples (SASRec/GRU4Rec
    input shape): per user, order interactions by (time, order-key,
    item) and emit one (context, label) pair per position ≥ 2, where
    context is the up-to-``max_len`` most recent PRIOR items joined
    with '>' (string-serialized so downstream sinks and the oracle
    compare stay schema-simple).

    (time, order-key, item) must be a total order within each user —
    dedupe the input to that grain first; ties would otherwise make
    the emitted contexts nondeterministic.

    Scale shape: ONE user-partitioned window with a BOUNDED frame
    (``rowsBetween(-max_len, -1)``) — no global sort, no self-join,
    state per task capped by the hottest user's history (the same
    bound as any per-user sequence model's data prep). Output is
    linear in interactions with ≤ max_len items carried per row."""
    w = Window.partitionBy(col_user).orderBy(col_time, col_order, col_item)
    # collect as strings so concat_ws applies directly (concat_ws
    # rejects array<bigint>); frame rows arrive in window order
    ctx = F.collect_list(F.col(col_item).cast("string")).over(
        w.rowsBetween(-max_len, -1)
    )
    return (
        timed.select(
            F.col(col_user).alias("user_id"),
            F.row_number().over(w).cast("bigint").alias("pos"),
            F.concat_ws(">", ctx).alias("context"),
            F.col(col_item).cast("bigint").alias("label"),
        )
        .filter(F.col("pos") >= 2)
    )


def ips_offline_eval(
    logs: DataFrame,
    recs: DataFrame,
    k: int,
    col_user: str = "user",
    col_item: str = "item",
    col_reward: str = "rating",
) -> DataFrame:
    """Counterfactual offline evaluation of a new recommendation
    policy from logged interactions via inverse propensity scoring
    (IPS) with its self-normalized variant (SNIPS, Swaminathan &
    Joachims 2015):

        w    = 1{item ∈ rec_k(user)} / (k · p̂(item))
        IPS  = Σ w·r / n_logs          SNIPS = Σ w·r / Σ w

    where the logging propensity p̂(item) is the empirical popularity
    share of the item among the logs (the standard approximation when
    the logger's true probabilities weren't recorded) and the new
    policy is treated as uniform over its top-k slate. r is the
    logged reward (``col_reward``).

    Scale shape: one catalog-scale popularity aggregate joined back
    item-keyed (broadcastable), one (user, item) equi-join against the
    slate, then a ONE-ROW reduction — rewards and weights are summed
    in DECIMAL so the estimate is partial-aggregation-order
    independent. Nothing wider than the logs ever shuffles. Fully
    declarative: the log total enters as a one-row broadcast frame
    (the rfm_segments / churn_training_set pattern), never a
    build-time driver action."""
    n_pop = logs.groupBy(col_item).agg(F.count(F.lit(1)).alias("n_i"))
    tot = logs.agg(F.count(F.lit(1)).alias("n_all"))
    hit = recs.select(
        F.col(col_user).alias("u"), F.col(col_item).alias("i")
    ).withColumn("hit", F.lit(1))
    # w pre-rounded to DECIMAL(18,9), rewards to DECIMAL(9,3): their
    # product is DECIMAL(28,12) — exact in BOTH engines (a wider pair
    # would cross Spark's 38-digit cap and scale-reduce differently
    # than DuckDB) — and the sums are associative, so the one-row
    # estimates cannot drift with partition order
    w_dec = (
        "CAST(round(hit / (CAST(k AS DOUBLE) * (n_i / n_all)), 9)"
        " AS DECIMAL(18,9))"
    )
    joined = (
        logs.select(
            F.col(col_user).alias("u"),
            F.col(col_item).alias("i"),
            F.col(col_reward).cast("decimal(9,3)").alias("r"),
        )
        .join(F.broadcast(n_pop.withColumnRenamed(col_item, "i")), "i")
        .join(hit, ["u", "i"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.coalesce("hit", F.lit(0)).alias("hit"),
            "r",
            "n_i",
            "n_all",
            F.lit(k).alias("k"),
        )
        .select("r", F.expr(w_dec).alias("w"))
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_logs"),
        F.round(F.avg(F.when(F.col("w") > 0, 1.0).otherwise(0.0)), 6).alias(
            "match_rate"
        ),
        F.round(
            F.sum(F.col("w") * F.col("r")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("ips_value"),
        # SNIPS is UNDEFINED when the policy slate overlaps no logged
        # interaction (Σw = 0): return an explicit NULL rather than
        # the double-division artifact (NaN/Infinity); match_rate=0.0
        # in the same row is the signal for why.
        F.when(
            F.sum("w") > 0,
            F.round(
                F.sum(F.col("w") * F.col("r")).cast("double")
                / F.sum("w").cast("double"),
                6,
            ),
        ).alias("snips_value"),
    )


def skipgram_pairs(
    timed: DataFrame,
    window: int = 2,
    top_k: int = 200,
    col_user: str = "user",
    col_time: str = "dt",
    col_order: str = "ok",
    col_item: str = "item",
) -> DataFrame:
    """word2vec/item2vec training-pair preparation over per-user item
    sequences: directed (center, context) co-occurrence counts for
    all positions within ±``window`` of each other, ranked by count —
    the input distribution an SGNS embedding trainer consumes (pair
    counts, not raw pairs: the trainer samples from the distribution,
    so the aggregate IS the artifact).

    (time, order-key, item) must totally order each user's history —
    same contract as sequence_examples.

    Scale shape: ONE bounded-frame user window (rowsBetween(-window,
    -1)) collects each position's backward neighbors — no positional
    self-join over the corpus. The merged directed distribution is
    SYMMETRIC by construction (n(a→b) = backward(a,b) + backward(b,a)
    = n(b→a)), so the counts are aggregated ONCE on the canonical
    (least, greatest) key and both directions are emitted afterwards
    — a self-pair (center == context) folds its two directed copies
    into 2·n on the single emitted row. The previous form unioned the
    backward counts with their reversal and re-aggregated: one more
    full exchange plus the backward aggregate evaluated twice (plan
    ops above the reused exchange run per union branch). Identical
    row multiset (round 13, guide §2.4). Global top-k via
    orderBy+limit (TakeOrderedAndProject). Exact integer counts
    throughout."""
    w = Window.partitionBy(col_user).orderBy(
        col_time, col_order, col_item
    )
    ctx = F.collect_list(F.col(col_item)).over(
        w.rowsBetween(-window, -1)
    )
    canon = (
        timed.select(F.col(col_item).alias("center"), ctx.alias("ctx"))
        .select("center", F.explode("ctx").alias("context"))
        .groupBy(
            F.least("center", "context").alias("a"),
            F.greatest("center", "context").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    directed = canon.select(
        F.explode(
            F.when(
                F.col("a") == F.col("b"),
                F.array(
                    F.struct(
                        F.col("a").alias("center"),
                        F.col("b").alias("context"),
                        (F.lit(2) * F.col("n")).alias("n_cooc"),
                    )
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("a").alias("center"),
                        F.col("b").alias("context"),
                        F.col("n").alias("n_cooc"),
                    ),
                    F.struct(
                        F.col("b").alias("center"),
                        F.col("a").alias("context"),
                        F.col("n").alias("n_cooc"),
                    ),
                )
            )
        ).alias("p")
    ).select("p.center", "p.context", F.col("p.n_cooc").cast("bigint").alias("n_cooc"))
    return (
        ranked_topk(
            directed,
            [F.desc("n_cooc"), F.asc("center"), F.asc("context")],
            top_k,
        )
        .select(
            F.col("center").cast("bigint").alias("center"),
            F.col("context").cast("bigint").alias("context"),
            "n_cooc",
            "rnk",
        )
    )


def sequential_rules(
    timed: DataFrame,
    max_items_per_user: int = 20,
    min_common: int = 2,
    top_k: int = 50,
    col_user: str = "user",
    col_time: str = "dt",
    col_item: str = "item",
) -> DataFrame:
    """Directed sequential rules A→B: among users who adopted item A,
    how many later adopted item B — the time-ordered counterpart of
    association_rules (co-occurrence is symmetric; "bought A then B"
    is not). Per user, each item enters at its FIRST adoption time;
    pairs require strictly increasing time (same-day ties carry no
    direction and are dropped — deterministic on both engines).

        confidence(A→B) = n_AB / n_A        (adopters of A who later took B)
        lift(A→B)       = n_AB·N / (n_A·n_B)

    computed as pure integer ratios (one double division, rounded).

    Scale shape: ONE user-keyed corpus shuffle serves the whole
    pipeline — HashPartitioning(user) satisfies the clustered
    distribution of the (user, item) first-adoption aggregate, the
    per-user capping window, AND the user-keyed pair self-join of the
    persisted capped table (the gopher one-exchange rule, round 13;
    previously the aggregate hashed on (u, it) and the window paid a
    second full shuffle back to u). Each user's sequence is capped at
    their ``max_items_per_user`` EARLIEST adoptions (bounded-group
    window), so the per-user pair fan-out is ≤ cap²/2 regardless of
    the heaviest user — the same hot-entity rule as the wedge caps.
    Item adopter counts are catalog-scale broadcasts; global top-k
    via orderBy+limit."""
    firsts = (
        timed.repartition(F.col(col_user))
        .groupBy(F.col(col_user).alias("u"), F.col(col_item).alias("it"))
        .agg(F.min(col_time).alias("t"))
    )
    w = Window.partitionBy("u").orderBy("t", "it")
    capped = (
        firsts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= max_items_per_user)
        .select("u", "it", "t")
        .persist()
    )
    # N enters declaratively as a one-row broadcast (the rfm_segments
    # pattern) — no build-time driver action, one returned plan. The
    # persist above is LAZY by the same rule; on the first action the
    # nu/na/nb broadcast subtrees and the pair join race the unfilled
    # cache, but BlockInfoManager's get-or-compute computes each
    # cached partition once (racers block on the lock rather than
    # duplicating the aggregate), and every later action hits the
    # filled cache.
    nu = capped.agg(F.countDistinct("u").alias("n_users"))
    adopters = capped.groupBy("it").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_adopt")
    )
    a = capped.select("u", F.col("it").alias("ant"), F.col("t").alias("ta"))
    b = capped.select("u", F.col("it").alias("cons"), F.col("t").alias("tb"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ant", "cons")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= min_common)
    )
    na = adopters.select(
        F.col("it").alias("ant"), F.col("n_adopt").alias("n_a")
    )
    nb = adopters.select(
        F.col("it").alias("cons"), F.col("n_adopt").alias("n_b")
    )
    rules = (
        pairs.join(F.broadcast(na), "ant")
        .join(F.broadcast(nb), "cons")
        .crossJoin(F.broadcast(nu))
        .select(
            F.col("ant").cast("bigint").alias("antecedent"),
            F.col("cons").cast("bigint").alias("consequent"),
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_a").cast("double"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("n_ab") * F.col("n_users"))
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )
    return ranked_topk(
        rules,
        [F.desc("n_ab"), F.asc("antecedent"), F.asc("consequent")],
        top_k,
    )


def catalog_freshness(
    timed: DataFrame,
    col_item: str = "item",
    col_time: str = "dt",
) -> DataFrame:
    """Weekly catalog-freshness report: per calendar week, total
    interactions, interactions on items FIRST seen that week, and the
    new-item share — the cold-start pressure gauge (how much of demand
    lands on items the recommender has no history for).

    The item's introduction week is one vocabulary-scale min
    aggregate; the weekly rollup joins item-keyed (catalog-scale,
    broadcastable). Exact integer counts, one double division.

    Scale shape: one (item) min aggregate, one (week, is-new)
    aggregate over the interaction scan, output rows = observed
    weeks."""
    wk = F.date_trunc("week", F.col(col_time)).cast("date")
    ev = timed.select(F.col(col_item).alias("i"), wk.alias("wk"))
    first_wk = ev.groupBy("i").agg(F.min("wk").alias("first_wk"))
    return (
        ev.join(first_wk, "i")
        .groupBy("wk")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_interactions"),
            F.sum(
                F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0)
            ).cast("bigint").alias("n_new_item_interactions"),
        )
        .select(
            F.col("wk").cast("string").alias("week"),
            "n_interactions",
            "n_new_item_interactions",
            F.round(
                F.col("n_new_item_interactions")
                / F.col("n_interactions").cast("double"),
                6,
            ).alias("new_item_share"),
        )
        .orderBy("week")
    )
