"""Shared top-k idioms.

Every globally ranked operator in the engine uses the same two-step
shape: ``orderBy(spec).limit(k)`` — which Spark plans as
TakeOrderedAndProject, a map-side partial top-k where every task keeps
only k rows (a global row_number window instead would sort the full
table in ONE partition) — followed by numbering the k-row result with
``row_number`` over the SAME ordering. Keeping both sort specs in one
place guarantees the invariant that the limit's ordering and the rank
column's ordering agree, and makes a tie-break change a one-line edit
per operator instead of two. The per-group twin, ``top_k_per_group``,
ranks inside a partitioned window instead (per-query retrievers,
per-user recommendation lists).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def ranked_topk(
    df: DataFrame,
    order_cols: list[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Global top-``k`` of ``df`` under ``order_cols`` (pass fully
    tie-broken columns, e.g. ``[F.desc("score"), F.asc("id")]``), with
    a BIGINT ``rank_col`` numbered 1..k under the same ordering.

    Plans as TakeOrderedAndProject + a k-row window — constant-memory
    per task at any input scale."""
    wk = Window.orderBy(*order_cols)
    return (
        df.orderBy(*order_cols)
        .limit(k)
        .withColumn(rank_col, F.row_number().over(wk).cast("bigint"))
    )


def top_k_per_group(
    df: DataFrame,
    col_group: str | list[str],
    order_cols: list,
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Generic per-group top-k: a BIGINT ``rank_col`` numbered by
    row_number over a window partitioned by ``col_group`` (a name or a
    list of names) under ``order_cols``, keeping ranks ≤ ``k``.

    This is the scalable idiom for the reference's recommendForAllUsers
    pattern — partitionBy keeps every group's ranking local to its
    shuffle partition (no global sort), and Spark plans the rank
    filter as a per-partition WindowGroupLimit ahead of the window."""
    w = Window.partitionBy(col_group).orderBy(*order_cols)
    return df.withColumn(
        rank_col, F.row_number().over(w).cast("bigint")
    ).filter(F.col(rank_col) <= k)


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    k: int = 10,
    col_query: str = "query_id",
    col_item: str = "neighbor_id",
    col_rank: str = "rnk",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009) — the standard
    hybrid-retrieval combiner: each input ranking contributes
    1/(k0 + rank) per (query, item), the fused score is the sum, and
    the fused top-k re-ranks on it. Items missing from a list simply
    contribute nothing (no imputation), which is what makes RRF
    robust to retrievers with disjoint candidate pools.

    Each per-list contribution is rounded to 9 decimals into
    DECIMAL(18,9) BEFORE the sum (the house cross-engine rule), and
    the fused ordering compares the EXACT decimal sum with an id
    tiebreak — so fusion is deterministic under any partitioning and
    engine. Output: (query_id, neighbor_id, n_lists, rrf_score,
    rnk).

    Scale shape: one union of list-scale inputs (each already
    k-bounded per query), ONE (query, item) aggregate, one bounded
    per-query window — the fusion layer adds no corpus-scale work on
    top of its retrievers."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = (
        F.round(F.lit(1.0) / (F.lit(k0) + F.col(col_rank)), 9)
        .cast("decimal(18,9)")
        .alias("c9")
    )
    parts = [
        r.select(
            F.col(col_query).alias("query_id"),
            F.col(col_item).alias("neighbor_id"),
            contrib,
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = u.groupBy("query_id", "neighbor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.sum("c9").alias("s"),
    )
    return (
        top_k_per_group(
            agg, "query_id", [F.desc("s"), F.asc("neighbor_id")], k
        ).select(
            "query_id",
            "neighbor_id",
            "n_lists",
            F.round(F.col("s").cast("double"), 6).alias("rrf_score"),
            "rnk",
        )
    )


def _bt_fit(
    games: DataFrame,
    col_winner: str,
    col_loser: str,
    iters: int,
    small_pair_limit: int,
    marks: tuple[int, ...] = (),
) -> tuple[DataFrame, DataFrame, dict[int, "DataFrame"]]:
    """The shared Bradley-Terry MM chain (see
    :func:`bradley_terry_ratings` for semantics and scale shape):
    returns (base [item, wins], n_games, snaps) where ``snaps``
    maps each requested mark round (plus ``iters`` itself) to its
    normalized rating table — an earlier-round fit is a PREFIX of
    a later one, so sensitivity comparisons snapshot one chain
    instead of paying two."""
    g1 = (
        games.select(
            F.col(col_winner).alias("wi"), F.col(col_loser).alias("li")
        )
        .filter(F.col("wi").isNotNull() & F.col("li").isNotNull())
        # a self-game is not a pairwise outcome: counting it injects
        # an n_ii/(2*r_i) self-term into every MM denominator AND a
        # phantom win — drop it at the gate (mirrored in the oracle)
        .filter(F.col("wi") != F.col("li"))
        .localCheckpoint(eager=True)
    )
    pair = (
        g1.select(
            F.least("wi", "li").alias("a"),
            F.greatest("wi", "li").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    # The pair table is scanned every MM round, so its partitioning is
    # the per-round join grain. Size-guarded (the house
    # broadcast_pair_limit pattern): a leaderboard-scale pair table
    # collapses to ONE partition (8 rounds of single-task joins beat 8
    # rounds of 32-task scheduling overhead — measured on the sf0.1
    # arena fit), while an arena with a huge item universe
    # hash-distributes on i so no round runs single-task. The deciding
    # count scans the already-checkpointed pair RDD.
    n_pairs = pair.count()
    sym = pair.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "n"
    ).unionByName(
        pair.select(
            F.col("b").alias("i"), F.col("a").alias("j"), "n"
        )
    )
    sym = (
        sym.coalesce(1)
        if n_pairs <= small_pair_limit
        else sym.repartition("i")
    ).localCheckpoint(eager=True)
    wins = g1.groupBy(F.col("wi").alias("i")).agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    items = (
        g1.select(F.col("wi").alias("i"))
        .unionByName(g1.select(F.col("li").alias("i")))
        .distinct()
    )
    base = (
        items.join(wins, "i", "left")
        .select("i", F.coalesce("w", F.lit(0)).cast("bigint").alias("w"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    n_games = sym.groupBy("i").agg(
        F.sum("n").cast("bigint").alias("n_games")
    )
    r = base.select("i", F.lit(1.0).alias("r"))
    snaps: dict[int, DataFrame] = {}
    for k in range(1, int(iters) + 1):
        terms = (
            sym.join(r.select(F.col("i"), F.col("r").alias("ri")), "i")
            .join(
                r.select(
                    F.col("i").alias("j"), F.col("r").alias("rj")
                ),
                "j",
            )
            .select(
                "i",
                F.round(
                    F.col("n") / (F.col("ri") + F.col("rj")), 9
                )
                .cast("decimal(18,9)")
                .alias("t9"),
            )
            .groupBy("i")
            .agg(F.sum("t9").alias("s"))
        )
        raw = base.join(terms, "i").select(
            "i",
            F.round(
                (F.col("w") + F.lit(0.5)) / F.col("s").cast("double"),
                9,
            ).alias("r0"),
        ).coalesce(1)
        # normalizer via an unpartitioned window over the ONE-partition
        # item-grain state: the same exact DECIMAL total as a separate
        # agg + broadcast, without paying a per-round broadcast job
        # (8 driver-blocking jobs measured before the rewrite)
        wall = Window.partitionBy()
        z = (
            F.sum(F.round("r0", 9).cast("decimal(18,9)"))
            .over(wall)
            .cast("double")
        )
        r = (
            raw.select(
                "i",
                F.round(F.col("r0") / z, 9).alias("r"),
            )
            # LAZY checkpoint: the plan collapses to a LogicalRDD
            # immediately (shallow re-analysis, the _lloyd
            # motivation) but all rounds evaluate inside the
            # consumer's single action instead of paying 8 eager
            # per-round job round-trips
            .localCheckpoint(eager=False)
        )
        if k in marks:
            snaps[k] = r
    snaps[int(iters)] = r
    return base, n_games, snaps


def bt_fit_chain(
    games: DataFrame,
    col_winner: str = "winner",
    col_loser: str = "loser",
    iters: int = 8,
    small_pair_limit: int = 1_000_000,
    marks: tuple[int, ...] = (),
) -> tuple[DataFrame, DataFrame, dict[int, "DataFrame"]]:
    """Public handle on the shared MM chain for callers that fan
    several outputs off ONE fit (the ratings leaderboard and the
    iteration-sensitivity row consume the same 8-round chain —
    marking extra rounds only records snapshots, it never changes
    the chain, so snaps[k] is bit-identical for any marks superset).
    Pass the returned tuple to :func:`bradley_terry_ratings` /
    :func:`bradley_terry_rank_sensitivity` via ``fit=``."""
    return _bt_fit(
        games, col_winner, col_loser, int(iters), small_pair_limit,
        marks=marks,
    )


def bradley_terry_ratings(
    games: DataFrame,
    col_winner: str = "winner",
    col_loser: str = "loser",
    iters: int = 8,
    small_pair_limit: int = 1_000_000,
    fit: tuple | None = None,
) -> DataFrame:
    """Bradley–Terry ratings from pairwise outcomes — the arena /
    preference-leaderboard model (Chatbot-Arena-style eval): item i
    beats j with probability r_i / (r_i + r_j), fitted by the classic
    minorization-maximization update (Hunter 2004)

        r_i  <-  (W_i + 0.5) / Σ_j n_ij / (r_i + r_j)

    run for a FIXED ``iters`` rounds from uniform ratings, with a
    normalization (Σ r = 1) after every round — fixed-iteration
    semantics exactly like the k-core peel, so the output is a
    deterministic function of the game table, not of a convergence
    tolerance. The +0.5 pseudo-win (half a game) keeps zero-win items
    at a small positive rating instead of collapsing to 0 and
    poisoning later denominators — the standard regularization.

    Cross-engine determinism (the house rules, applied per round):
    each pairwise term n_ij / (r_i + r_j) is rounded to 9 decimals
    into DECIMAL(18,9) and summed exactly (partition-order
    independent); the MM division is double over that exact sum,
    re-rounded to 9; the normalizer is another exact DECIMAL sum. So
    every round's rating vector is bit-identical in any engine — the
    SQL oracle replays the same ``iters`` chained (materialized)
    iterations.

    Scale shape: games MATERIALIZE once at the game grain (the
    caller's mining pipeline — windows over the raw interaction
    table in the declared query — must run exactly once, not once
    per round: an un-truncated input lineage re-evaluated from all
    three derived tables plus every round's pair join, measured
    59.5 s -> 4.4 s at sf0.1 for the 8-round fit), then aggregate to
    the (i, j) PAIR grain (n_ij, also checkpointed — it is scanned
    every round; single-partition at leaderboard scale, hash-
    distributed on i above ``small_pair_limit`` pairs so no MM round
    runs single-task on a large item universe) plus an item-grain
    win table. Self-games (winner == loser) are dropped at the gate.
    The chain itself lives in :func:`_bt_fit` so
    :func:`bradley_terry_rank_sensitivity` can snapshot intermediate
    rounds off ONE chain instead of fitting twice. After that, every
    round is two broadcast-scale hash joins + one item-grain
    aggregate over the pair table, nothing row-scale. Each round's
    rating table is item-grain and localCheckpointed (the _lloyd
    rule: Catalyst re-analyzes the whole tree per action, so an
    un-truncated 8-round lineage re-plans quadratically). Output:
    one row per item — (item, n_wins, n_games, rating, rnk), ranked
    by rating desc with id tiebreak.

    ``fit``: a precomputed :func:`bt_fit_chain` tuple over the SAME
    games (must contain round ``iters``) — lets sibling queries
    share one chain; omitted, the chain is fitted here."""
    base, n_games, snaps = (
        fit
        if fit is not None
        else _bt_fit(games, col_winner, col_loser, iters, small_pair_limit)
    )
    r = snaps[int(iters)]
    wk = Window.orderBy(F.desc("rating"), F.asc("item"))
    return (
        base.join(r, "i")
        .join(n_games, "i")
        .select(
            F.col("i").alias("item"),
            F.col("w").alias("n_wins"),
            "n_games",
            F.round(F.col("r"), 6).alias("rating"),
        )
        .withColumn("rnk", F.row_number().over(wk).cast("bigint"))
    )


def bradley_terry_rank_sensitivity(
    games: DataFrame,
    col_winner: str = "winner",
    col_loser: str = "loser",
    iters_a: int = 4,
    iters_b: int = 8,
    top_k: int = 10,
    small_pair_limit: int = 1_000_000,
    fit: tuple | None = None,
) -> DataFrame:
    """Fixed-iteration sensitivity witness for
    :func:`bradley_terry_ratings`: the SAME game table fitted at
    ``iters_a`` and ``iters_b`` rounds, compared at the leaderboard
    grain — one row with the item count, how many items changed rank,
    the largest rank move, and the top-``top_k`` overlap. All-integer
    output (ranks), so the row is exact cross-engine.

    Because an earlier-round MM fit is a strict PREFIX of a later one
    (fixed iteration, deterministic rounding), both rating tables are
    snapshots of ONE :func:`_bt_fit` chain — the games mining, the
    pair/win tables, and rounds 1..iters_a are all shared, so the
    sensitivity row costs only iters_b - iters_a extra item-grain
    rounds on top of the plain fit (measured: two independent fits
    18.5 s -> one marked chain ~14 s at sf0.1). Rank semantics are
    identical to the rating operator's output: row_number over
    (round(r, 6) DESC, item ASC).

    ``fit``: a precomputed :func:`bt_fit_chain` tuple over the SAME
    games (must contain rounds ``iters_a`` and ``iters_b``) — lets
    sibling queries share one chain; omitted, fitted here."""
    if not (0 < int(iters_a) < int(iters_b)):
        raise ValueError("need 0 < iters_a < iters_b")
    base, _n_games, snaps = (
        fit
        if fit is not None
        else _bt_fit(
            games,
            col_winner,
            col_loser,
            int(iters_b),
            small_pair_limit,
            marks=(int(iters_a),),
        )
    )

    def _ranked(r: DataFrame, name: str) -> DataFrame:
        wk = Window.orderBy(F.desc("rating"), F.asc("item"))
        return (
            base.join(r, "i")
            .select(
                F.col("i").alias("item"),
                F.round(F.col("r"), 6).alias("rating"),
            )
            .withColumn(name, F.row_number().over(wk).cast("bigint"))
            .select("item", name)
        )

    ra = _ranked(snaps[int(iters_a)], "rnk_a")
    rb = _ranked(snaps[int(iters_b)], "rnk_b")
    return ra.join(rb, "item").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            F.when(F.col("rnk_b") != F.col("rnk_a"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_rank_moves"),
        F.max(F.abs(F.col("rnk_b") - F.col("rnk_a")))
        .cast("bigint")
        .alias("max_rank_delta"),
        F.sum(
            F.when(
                (F.col("rnk_b") <= top_k) & (F.col("rnk_a") <= top_k),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("top10_overlap"),
    )
