"""Graph analytics over co-occurrence edge tables: fixed-iteration
PageRank. Complements ``operators.dedup.neardup_components`` (min-label
propagation) as the second iterative-algorithm pattern in the engine.

Fixed iteration count (not convergence-tested) keeps the computation
deterministic and exactly mirrorable as chained SQL CTEs for the DuckDB
oracle — the same contract as neardup_components and the k-means
operators. Each round is one join + one aggregate at EDGE scale, with
``localCheckpoint(eager=True)`` truncating the lineage so planning cost
stays O(1) per round (measured pattern: see neardup_components'
docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import shared_plan


def _node_broadcast_hint(df: DataFrame, limit: int):
    """Shared size guard for NODE-scale tables (degree/label tables —
    the item vocabulary): eagerly localCheckpoint the frame
    (materialized at construction; checkpoint-backed plans carry no
    size statistics, so Catalyst will never broadcast them alone),
    count the cached result (cheap — reads the checkpoint blocks) to
    decide the join strategy, and return (df, n, hint) where hint is
    ``F.broadcast`` at or below ``limit`` and identity above it — a
    10⁸⁺-node table must never be hint-forced onto the driver. One
    definition for pagerank_from_edges / adamic_adar_links /
    common_neighbor_links; min_label_components keeps its own variant
    (per-round decision over a fixed node set)."""
    df = df.localCheckpoint(eager=True)
    n = df.count()
    hint = F.broadcast if n <= limit else (lambda d: d)
    return df, n, hint


def pagerank_from_edges(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    col_src: str = "src",
    col_dst: str = "dst",
    on_asymmetric: str = "error",
    broadcast_node_limit: int = 2_000_000,
) -> DataFrame:
    """PageRank on a directed edge table, ``iters`` synchronous rounds:

        pr(v) ← (1-d)/N + d · Σ_{u→v} pr(u) / outdeg(u)

    The edge table shuffles once per round (join on src, aggregate on
    dst) — never the node × node matrix. N is a driver-side scalar
    (one count of a node-scale table, same class as k-means' centroid
    collect).

    ``on_asymmetric`` pins the input contract (symmetric edge sets —
    every node has outbound edges, so no dangling-mass correction is
    needed — is what the co-occurrence callers produce):

    - ``"error"`` (default): one anti-join count on entry; raises
      ``ValueError`` if any dst node has no outbound edges, so
      asymmetric callers fail loudly instead of silently losing nodes.
    - ``"keep"``: nodes = src ∪ dst; each round rebuilds pr with a
      left join against the node list so inbound-less nodes keep the
      base score (1-d)/N. Dangling nodes receive mass but leak it
      (standard un-normalized treatment).
    - ``"ignore"``: skip the check; nodes without inbound edges drop
      out of the output after round 1 (the documented fast path).

    ``broadcast_node_limit`` guards the per-round broadcast of the
    node-scale pr table: at or below the limit (default 2M rows ≈
    ~50 MB serialized) pr is broadcast so each round is a single
    edge-scale map-side join; above it the rounds fall back to a
    shuffle join — a general billion-node graph must never ship its
    node table to every executor."""
    if on_asymmetric not in ("error", "keep", "ignore"):
        raise ValueError(f"on_asymmetric: {on_asymmetric!r}")
    e = edges.select(
        F.col(col_src).alias("src"), F.col(col_dst).alias("dst")
    ).localCheckpoint(eager=True)
    # Right-size the loop's edge table: iterative rounds pay per-task
    # overhead every round, so tiny partitions dominate wall time (64
    # inherited partitions → 5.2s for 3 rounds at sf0.1; 8 → 1.2s).
    # ~2M edges/partition ≈ 50MB tasks; the floor keeps local[32] busy
    # and coalesce never goes above the parent count, so big graphs
    # keep their parallelism.
    n_edges = e.count()
    target = max(8, int(n_edges // 2_000_000) + 1)
    if target < e.rdd.getNumPartitions():
        e = e.coalesce(target)
    # Loop-invariant setup, each piece paid ONCE:
    #  - deg doubles as the node list (one row per distinct src), so no
    #    separate distinct scan of the edge table;
    #  - the contribution weight 1/outdeg is folded into the edge table
    #    up front, so the rounds broadcast only pr — re-broadcasting the
    #    static deg table every round was half the per-round cost.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    if on_asymmetric == "error":
        # full symmetry check in ONE node-scale job: a dst-only node is
        # dangling (its mass leaks), a src-only node has no inbound and
        # would silently vanish from the output after round 1
        src_nodes = deg.select(F.col("src").alias("node")).withColumn(
            "s", F.lit(1)
        )
        dst_nodes = (
            e.select(F.col("dst").alias("node"))
            .distinct()
            .withColumn("d", F.lit(1))
        )
        n_asym = (
            src_nodes.join(dst_nodes, "node", "full")
            .filter(F.col("s").isNull() | F.col("d").isNull())
            .count()
        )
        if n_asym:
            raise ValueError(
                f"pagerank_from_edges: {n_asym} node(s) lack outbound or "
                "inbound edges (asymmetric edge set); pass "
                "on_asymmetric='keep' (retain them at the base score) or "
                "'ignore' (inbound-less nodes drop out after round 1)"
            )
    # deg is NODE-scale: the same broadcast_node_limit guard as the
    # per-round pr hint applies to this one-time fold-in join; deg's
    # count is needed for n (the 'error'/'ignore' path) anyway, so the
    # guard costs nothing extra.
    deg, n_deg, deg_hint = _node_broadcast_hint(deg, broadcast_node_limit)
    ew = (
        e.join(deg_hint(deg), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .localCheckpoint(eager=True)
    )
    if on_asymmetric == "keep":
        nodes0 = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n = nodes0.count()
    else:
        nodes0 = deg.select(F.col("src").alias("node"))
        n = n_deg
    base = (1.0 - damping) / n
    # pr is NODE-scale — broadcast it explicitly when it fits:
    # localCheckpoint-backed plans report no size statistics, so without
    # the hint Spark falls back to sort-merge joins of the edge table
    # every round (measured 22s -> 8s for 3 rounds on the 827k-edge
    # graph at sf0.1; folding deg out of the loop cut it again). Above
    # broadcast_node_limit the rounds keep a shuffle join instead.
    hint = F.broadcast if n <= broadcast_node_limit else (lambda df: df)
    pr = nodes0.select("node", F.lit(1.0 / n).alias("pr")).localCheckpoint(
        eager=True
    )
    for _ in range(iters):
        # Symmetric edge sets (the "error"/"ignore" contract) mean every
        # node has inbound mass, so pr is rebuilt straight from the
        # aggregate — no per-round left join against a node list.
        # Superseded localCheckpoint generations are GC-reclaimed once
        # `pr` rebinds — storage stays one-generation bounded.
        agg = (
            ew.join(hint(pr), ew.src == pr.node)
            .select("dst", (F.col("pr") * F.col("w")).alias("c"))
            .groupBy("dst")
            .agg(
                (F.lit(base) + damping * F.sum("c")).alias("pr")
            )
            .select(F.col("dst").alias("node"), "pr")
        )
        if on_asymmetric == "keep":
            agg = (
                nodes0.join(agg.withColumnRenamed("node", "dst_node"),
                            nodes0.node == F.col("dst_node"), "left")
                .select(
                    nodes0.node,
                    F.coalesce(F.col("pr"), F.lit(base)).alias("pr"),
                )
            )
        pr = agg.localCheckpoint(eager=True)
    return pr.select("node", F.round("pr", 6).alias("pagerank"))


def star_components(
    edges: DataFrame,
    col_src: str = "src",
    col_dst: str = "dst",
    max_rounds: int = 32,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014) — the O(log n)-round algorithm for graphs
    whose DIAMETER breaks per-hop propagation:
    ``dedup.min_label_components`` moves the min label one hop per
    round (diameter-many rounds on a chain; its docstring records that
    naive pointer-jumping does NOT fix this on shuffled id layouts),
    while star contraction provably halves component height per
    alternation regardless of id layout.

        large-star(u): link every neighbor v > u to min(Γ⁺(u))
        small-star(u): link every neighbor v ≤ u to that min

    Each phase is one edge-scale groupBy + join (shuffle on the pivot
    node) + distinct; convergence = edge-set fixpoint, checked with a
    count + order-free checksum at label scale. At a fixpoint the edge
    set IS the component map: every surviving (a, b) has a = the
    component's min id. Returns (node, label) for every node with ≥1
    edge — same contract as min_label_components, verified equivalent
    in tests (cliques, random graphs, and a 40-chain that converges
    here in ~5 alternations vs 39 propagation hops)."""
    e = (
        edges.select(
            F.least(F.col(col_src), F.col(col_dst)).alias("a"),
            F.greatest(F.col(col_src), F.col(col_dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_rounds):
        # ---- large-star: pivot on EVERY endpoint u; m = min(Γ⁺(u))
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        e = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star: pivot on the LARGER endpoint b; link all its
        # smaller neighbors (and b itself) to their min
        grp = e.groupBy("b").agg(F.min("a").alias("m"))
        joined = e.join(grp, "b")
        e = (
            joined.select(F.col("m").alias("a"), F.col("b").alias("b"))
            .unionByName(
                joined.filter(F.col("a") != F.col("m")).select(
                    F.col("m").alias("a"), F.col("a").alias("b")
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- fixpoint: count + order-free checksum of the edge set
        sig = tuple(
            e.agg(
                F.count(F.lit(1)),
                F.sum(F.hash("a", "b").cast("bigint")),
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    roots = e.select(F.col("a").alias("node"), F.col("a").alias("label"))
    members = e.select(F.col("b").alias("node"), F.col("a").alias("label"))
    return members.unionByName(roots).distinct()


def triangle_stats(
    edges: DataFrame,
    col_src: str = "src",
    col_dst: str = "dst",
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over
    an undirected edge set — the MapReduce-classic ordered-edge join
    (one row per unordered edge a<b; wedges join on the middle vertex;
    a third equi-join closes them).

    Scale shape: with edges ordered a<b, the wedge join's fan-out is
    quadratic per HOTTEST-VERTEX degree, not per graph — the standard
    mitigation (degree-ordered orientation: list each edge from its
    LOWER-degree endpoint) is applied first, which provably bounds the
    join to O(m^1.5) pairs on any graph (Suri & Vassilvitskii, WWW'11
    pattern). Three edge-scale equi-joins total, no nested loop.
    Output: (node, degree, n_triangles, clustering_coeff)."""
    # the canonical edge set fans out FIVE ways (degree count, both
    # orientation joins, wedge sides, closing probe) — materialize it
    # once or the upstream edge pipeline re-evaluates per consumer
    # (measured 5× the pair-pipeline cost on a co-occurrence input;
    # same lesson as mmr_rerank's candidate frame)
    e = (
        edges.select(
            F.least(F.col(col_src), F.col(col_dst)).alias("a"),
            F.greatest(F.col(col_src), F.col(col_dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    # degree-ordered orientation: every edge points from its lower-
    # degree endpoint (ties by id); wedge centers are then always
    # low-degree, bounding per-vertex fan-out
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | (
                    (F.col("dega") == F.col("degb"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            .alias("uv")
        )
        .select("uv.u", "uv.v")
    )
    w1 = oriented.select(F.col("u").alias("c"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u").alias("c"), F.col("v").alias("y"))
    wedges = w1.join(w2, "c").filter(F.col("x") < F.col("y"))
    closing = e.select(
        F.col("a").alias("x"), F.col("b").alias("y"), F.lit(1).alias("hit")
    )
    tri = wedges.join(closing, ["x", "y"]).select("c", "x", "y")
    per_node = (
        tri.select(F.col("c").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def _capped_adjacency(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
    col_w: str,
    top_neighbors: int,
    broadcast_node_limit: int,
):
    """Plan-keyed shared build (session.py::shared_plan) of the wedge
    machinery shared VERBATIM by :func:`adamic_adar_links` and
    :func:`common_neighbor_links`: the symmetrized adjacency's degree
    table (checkpointed + counted by the broadcast guard) and the
    top-``top_neighbors`` capped adjacency (checkpointed — it feeds
    both sides of each predictor's wedge self-join). Keyed by the plan
    of the pair table's three columns + params, so the two link
    predictors over the same graph pay the edge-scale ranking window
    and the degree aggregate ONCE per session instead of once each.
    Returns (capped, deg, hint).

    Both frames are node-scale (deg) or node x top_neighbors
    (capped) — registry memory is negligible at any corpus size."""
    from pyspark.sql.window import Window

    def build():
        both = pairs.select(
            F.col(col_a).alias("z"), F.col(col_b).alias("nbr"),
            F.col(col_w).alias("w"),
        ).unionByName(
            pairs.select(
                F.col(col_b).alias("z"), F.col(col_a).alias("nbr"),
                F.col(col_w).alias("w"),
            )
        )
        deg, _, hint = _node_broadcast_hint(
            both.groupBy("z").agg(F.count(F.lit(1)).alias("deg")),
            broadcast_node_limit,
        )
        wr = Window.partitionBy("z").orderBy(F.desc("w"), F.asc("nbr"))
        # materialized: the capped adjacency feeds BOTH sides of the
        # wedge self-join, and without the boundary the edge-scale
        # top-neighbor window evaluates once per side (A/B at sf0.1
        # over the cached pair table: 8.2-9.4 s -> 5.7-6.8 s).
        # node x top_neighbors rows — tiny at any scale
        capped = (
            both.withColumn("r", F.row_number().over(wr))
            .filter(F.col("r") <= top_neighbors)
            .select("z", "nbr")
        ).localCheckpoint(eager=True)
        return capped, deg, hint

    return shared_plan(
        "capped_adjacency",
        pairs.select(col_a, col_b, col_w),
        (col_a, col_b, col_w, int(top_neighbors), int(broadcast_node_limit)),
        build,
    )


def adamic_adar_links(
    pairs: DataFrame,
    col_a: str = "ia",
    col_b: str = "ib",
    col_w: str = "n_common",
    top_neighbors: int = 6,
    k: int = 20,
    broadcast_node_limit: int = 2_000_000,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected weighted pair
    table (``col_a < col_b`` canonical): for node pairs NOT already
    linked, score = Σ_z 1/ln(deg(z)) over common neighbors z — the
    classic "friends you share" recommender for graphs, here over item
    co-occurrence.

    Production-shaped approximation: wedges are enumerated only
    through each node's ``top_neighbors`` STRONGEST edges (by weight,
    ties by neighbor id), so the per-node wedge fan-out is capped at
    top_neighbors² regardless of hub degree — the same hot-vertex rule
    as the degree-ordered triangle join. deg(z) in the score stays the
    node's FULL degree (the capped list bounds which wedges are
    enumerated, not the denominator's meaning).

    Determinism across engines: each wedge contribution is pre-rounded
    to DECIMAL(18,9) and summed EXACTLY (associative), so partial-
    aggregation order can never move a 6th decimal — the same rule as
    the currency sums. Scale shape: one degree aggregate (node-scale,
    broadcast only under ``broadcast_node_limit``), one per-node
    ranking window over edge-scale rows, one bounded self-join on the
    wedge pivot, one pair aggregate, and an edge-scale anti-join to
    drop existing links.

    ``broadcast_node_limit`` guards the degree-table broadcast: deg is
    NODE-scale (the item vocabulary), and a 100 TB corpus with 10⁸⁺
    items must never be hint-forced onto the driver. At or below the
    limit (default 2M rows) deg is checkpointed, counted once (the
    count doubles as the cache fill) and broadcast; above it the wedge
    join falls back to a shuffle join — the same guard as
    pagerank_from_edges / min_label_components / minhash_lsh_pairs.
    The degree table and the capped adjacency come from the
    :func:`_capped_adjacency` shared build, also read by
    :func:`common_neighbor_links` — the two predictors over one graph
    pay the edge-scale ranking window once."""
    from pyspark.sql.window import Window

    capped, deg, hint = _capped_adjacency(
        pairs, col_a, col_b, col_w, top_neighbors, broadcast_node_limit
    )
    contrib = F.expr(
        "CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 9) AS DECIMAL(18,9))"
    )
    lhs = capped.select("z", F.col("nbr").alias("a"))
    rhs = capped.select("z", F.col("nbr").alias("b"))
    wedges = (
        lhs.join(rhs, "z")
        .filter(F.col("a") < F.col("b"))
        .join(hint(deg), "z")
        .select("a", "b", contrib.alias("c"))
    )
    scored = wedges.groupBy("a", "b").agg(F.sum("c").alias("aa_dec"))
    existing = pairs.select(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    )
    # global top-k via orderBy+limit → TakeOrderedAndProject (map-side
    # partial top-k, every task keeps k rows) — a global row_number
    # window here would sort the full candidate table in one partition;
    # the rank column is then numbered on the k-row result
    wk = Window.orderBy(F.desc("aa_dec"), F.asc("a"), F.asc("b"))
    return (
        scored.join(existing, ["a", "b"], "left_anti")
        .orderBy(F.desc("aa_dec"), F.asc("a"), F.asc("b"))
        .limit(k)
        .withColumn("rnk", F.row_number().over(wk).cast("bigint"))
        .select(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            F.round(F.col("aa_dec").cast("double"), 6).alias("aa_score"),
            "rnk",
        )
    )


def common_neighbor_links(
    pairs: DataFrame,
    col_a: str = "ia",
    col_b: str = "ib",
    col_w: str = "n_common",
    top_neighbors: int = 6,
    k: int = 20,
    broadcast_node_limit: int = 2_000_000,
) -> DataFrame:
    """Common-neighbors + neighborhood-Jaccard link prediction over an
    undirected weighted pair table (``col_a < col_b`` canonical): for
    node pairs NOT already linked, score = |Γ(a) ∩ Γ(b)| with the
    Jaccard variant |Γ(a) ∩ Γ(b)| / |Γ(a) ∪ Γ(b)| as the tiebreak
    signal — the counting twins of adamic_adar_links, sharing its
    production shape:

    - wedges enumerate only through each node's ``top_neighbors``
      strongest edges (hub fan-out capped at top_neighbors² — the
      numerator is the capped wedge count);
    - |Γ| in the Jaccard denominator stays each node's FULL degree
      (the cap bounds enumeration, not the neighborhood's meaning), so
      jaccard = n_common / (deg_a + deg_b - n_common) on exact
      integers — engine-portable with no float accumulation at all;
    - global top-k via orderBy+limit (TakeOrderedAndProject), ranked
      by (n_common desc, jaccard desc, ids).

    Scale shape mirrors adamic_adar_links, including its
    ``broadcast_node_limit`` guard: the node-scale degree table is
    checkpointed, counted once (cache fill + strategy decision) and
    broadcast only at or below the limit; above it the two degree
    enrich joins fall back to shuffle joins — never hint-force a
    vocabulary-scale table at 100 TB. The degree table and the capped
    adjacency come from the :func:`_capped_adjacency` shared build
    shared with :func:`adamic_adar_links`."""
    from pyspark.sql.window import Window

    capped, deg, hint = _capped_adjacency(
        pairs, col_a, col_b, col_w, top_neighbors, broadcast_node_limit
    )
    lhs = capped.select("z", F.col("nbr").alias("a"))
    rhs = capped.select("z", F.col("nbr").alias("b"))
    scored = (
        lhs.join(rhs, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common_nbrs"))
    )
    da = deg.select(F.col("z").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("z").alias("b"), F.col("deg").alias("deg_b"))
    existing = pairs.select(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    )
    wk = Window.orderBy(
        F.desc("n_common_nbrs"), F.desc("jaccard_nbrs"),
        F.asc("a"), F.asc("b"),
    )
    return (
        scored.join(existing, ["a", "b"], "left_anti")
        .join(hint(da), "a")
        .join(hint(db), "b")
        .select(
            "a",
            "b",
            "n_common_nbrs",
            F.round(
                F.col("n_common_nbrs")
                / (
                    F.col("deg_a") + F.col("deg_b")
                    - F.col("n_common_nbrs")
                ).cast("double"),
                6,
            ).alias("jaccard_nbrs"),
        )
        .orderBy(
            F.desc("n_common_nbrs"), F.desc("jaccard_nbrs"),
            F.asc("a"), F.asc("b"),
        )
        .limit(k)
        .withColumn("rnk", F.row_number().over(wk).cast("bigint"))
        .select(
            F.col("a").alias("item_a"),
            F.col("b").alias("item_b"),
            "n_common_nbrs",
            "jaccard_nbrs",
            "rnk",
        )
    )


def k_core_decompose(
    pairs: DataFrame,
    k: int = 3,
    rounds: int = 8,
    col_a: str = "ia",
    col_b: str = "ib",
    until_converged: bool = False,
    max_rounds: int = 64,
) -> DataFrame:
    """k-core peeling over an undirected pair table (``col_a < col_b``
    canonical): ``rounds`` synchronous peels — each round drops every
    node whose CURRENT degree is below ``k`` and the edges touching it
    — approaching the k-core (the maximal subgraph where every node
    keeps ≥ k neighbors), the standard dense-community / spam-cluster
    extractor.

    Fixed round count keeps the computation deterministic and exactly
    mirrorable as chained SQL CTEs — the same contract as
    pagerank_from_edges / neardup_components; at the default 8 rounds
    the peel has converged on every test corpus (convergence is
    monotone, so extra rounds are no-ops — property-pinned by
    tests/test_property_round6.py::test_kcore_peel_idempotent_past_convergence).
    Output: surviving (node, degree, converged) at the final round,
    node-ordered. ``converged`` is the witness: true iff the final
    peel removed zero edges, i.e. the result IS the k-core fixed
    point; false means the graph needed more than ``rounds`` peels and
    the rows are a superset of the true core — callers on adversarial
    graphs re-run with more rounds instead of silently trusting a
    partial peel. The two deciding counts scan already-checkpointed
    blocks (the established size-guard-count convention).

    ``until_converged=True`` peels TO the fixed point instead: the
    loop stops as soon as a round removes zero edges (one
    checkpointed-block count per round decides), bounded by
    ``max_rounds`` as the adversarial backstop — a path graph needs
    ~n/2 peels, so the bound is a loud safety valve, not a silent
    truncation (``converged`` stays false if it ever bites).
    ``rounds=8`` stays the default because the fixed count is what
    chained SQL CTEs can mirror exactly — the oracle contract is
    unchanged.

    Scale shape: each round is one edge-scale degree aggregate + two
    semi-joins against the surviving node set (node-scale, AQE decides
    broadcast — never hint-forced), with ``localCheckpoint`` truncating
    the per-round lineage. Never materializes anything wider than the
    edge table."""
    edges = pairs.select(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).localCheckpoint(eager=True)
    # Right-size the loop's edge table exactly like pagerank_from_edges:
    # 8 peel rounds × 32 inherited partitions × map/reduce shuffle files
    # exhausts local-mode file handles and drowns the work in tiny
    # tasks; ~2M edges/partition with a floor of 8 keeps the loop lean
    # while big graphs keep their parallelism.
    n_edges = edges.count()
    target = max(8, int(n_edges // 2_000_000) + 1)
    if target < edges.rdd.getNumPartitions():
        edges = edges.coalesce(target)
    def _peel(e: DataFrame) -> DataFrame:
        both = e.select(F.col("a").alias("z")).unionAll(
            e.select(F.col("b").alias("z"))
        )
        deg = both.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("z")
        return (
            e.join(keep.withColumnRenamed("z", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("z", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )

    if until_converged:
        # peel to the fixed point: each round's deciding count scans
        # the freshly checkpointed blocks (n_edges already counted the
        # round-0 table for the partition sizing above)
        converged = False
        n_prev = n_edges
        for _ in range(max_rounds):
            edges = _peel(edges)
            n_now = edges.count()
            if n_now == n_prev:
                converged = True
                break
            n_prev = n_now
    else:
        prev_edges = edges
        for _ in range(rounds):
            prev_edges = edges
            edges = _peel(edges)
        # convergence witness: peeling is monotone, so an unchanged
        # edge count across the final round means a fixed point was
        # reached — both counts scan checkpointed blocks, no
        # recomputation
        converged = edges.count() == prev_edges.count()
    final_deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .filter(F.col("degree") >= k)
        .withColumn("converged", F.lit(converged))
        .orderBy("node")
    )
    return final_deg


def degree_distribution(
    pairs: DataFrame,
    col_a: str = "ia",
    col_b: str = "ib",
) -> DataFrame:
    """Degree histogram of an undirected pair graph with a fitted
    power-law exponent: one row per observed degree with its node
    count, plus alpha from the log-log OLS of count vs degree — the
    scale-free-ness readout (hub structure drives every wedge-cap and
    skew decision the graph family makes).

    Determinism: log10 points are pre-rounded to DECIMAL(18,9) and
    the fit is ``functions.fitting.centered_ols_slope`` (see its
    docstring for why the raw nΣxy−ΣxΣy form drifts across engines).
    Alpha is NULL for a single-degree histogram.

    Scale shape: one edge-scale degree aggregate, one degree-scale
    histogram aggregate (output rows = distinct degrees, bounded by
    max degree), a constant-size fit broadcast back. The histogram is
    MATERIALIZED (localCheckpoint) before fanning out: it feeds the
    output branch plus BOTH aggregates inside centered_ols_slope
    (means, then centered products), so without the boundary the
    edge-scale degree aggregate re-ran 3x — same-session A/B at
    sf0.1 over the cached pair table: 9.3/7.1 s unmaterialized vs
    4.7/2.9 s with the boundary. Same stage-boundary rule as
    the pipeline composites; the checkpointed table is degree-scale
    (<= max degree rows), never edge-scale."""
    both = pairs.select(F.col(col_a).alias("z")).unionAll(
        pairs.select(F.col(col_b).alias("z"))
    )
    hist = (
        both.groupBy("z")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    ).localCheckpoint(eager=True)
    lx = F.expr(
        "CAST(round(log10(CAST(deg AS DOUBLE)), 9) AS DECIMAL(18,9))"
    )
    ly = F.expr(
        "CAST(round(log10(CAST(n_nodes AS DOUBLE)), 9)"
        " AS DECIMAL(18,9))"
    )
    from ..functions.fitting import centered_ols_slope

    fit = centered_ols_slope(
        hist.select(lx.alias("x"), ly.alias("y")), "powerlaw_alpha"
    )
    return (
        hist.select(F.col("deg").cast("bigint").alias("degree"), "n_nodes")
        .crossJoin(F.broadcast(fit))
        .orderBy("degree")
    )
