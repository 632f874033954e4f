"""Similarity search over embedding columns (`embeddings.embedding`,
array<float>).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set against the corpus, score with zip_with/aggregate (JVM
codegen, no UDF), rank per query with a partitioned window. The scale
path buckets the corpus first (block join / LSH / IVF cells) so each
query scores a partition, not the planet; `embedding_near_duplicates`
shows the blocked variant (block key = `label` here; any coarse
quantizer key works).

Every retriever is a candidate generator composed from a few shared
parts: one side-prep (:func:`_prep`), one zero-guarded cosine kernel
(:func:`_cos`), one nearest-centroid router (:func:`_route`, the
k-means / IVF / PQ assignment and probe step) and one per-query top-k
(``ranking.top_k_per_group``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..functions.vectors import as_double, dot, norm
from ..session import shared_plan
from .ranking import ranked_topk, top_k_per_group

# (id alias, vector, norm) column names of each scoring side
_Q = ("query_id", "qv", "qn")
_C = ("neighbor_id", "cv", "cn")
_T = ("train_id", "tv", "tn")
_E = ("eval_id", "qv", "qn")


def _prep(
    df: DataFrame, col_id: str, vec: str | Column, names: tuple, *keep
) -> DataFrame:
    """One scoring side: (id alias, double vector, its norm) under
    ``names``, plus the ``keep`` columns. ``vec`` is a column name
    (cast to array<double>) or an already-built double-vector Column
    (a truncated prefix, an SQ8 reconstruction). Norms are computed
    once per side, so each scored pair costs one dot product."""
    i, v, n = names
    vec = as_double(vec) if isinstance(vec, str) else vec
    return df.select(F.col(col_id).alias(i), vec.alias(v), *keep).withColumn(
        n, norm(F.col(v))
    )


def _cos(num: Column, na: Column, nb: Column) -> Column:
    """The one cosine kernel: ``num`` (a dot product, or PQ's ADC
    estimate) over the product of the two norms, rounded at 6. The
    denominator is zero-guarded, so an all-zero vector on either side
    scores NULL instead of raising DIVIDE_BY_ZERO under ANSI mode (or
    NaN-sorting FIRST under Spark's NaN-greatest DESC order): NULL
    ranks after every real score (DESC puts NULLs last on both
    engines) and fails every ``>= threshold`` filter. The guard never
    changes a non-degenerate value."""
    return F.round(num / F.nullif(na * nb, F.lit(0.0)), 6)


def _top_k(
    scored: DataFrame, k: int, score: str = "cos_sim", rank_col: str = "rnk"
) -> DataFrame:
    """Each query's top-``k`` by descending ``score`` (NULLs last),
    ties broken by neighbour id — the per-query window every
    retriever ends in."""
    return top_k_per_group(
        scored, "query_id", [F.desc(score), F.asc("neighbor_id")], k, rank_col
    )


def _rank_pairs(pairs: DataFrame, k: int, *keep) -> DataFrame:
    """Score candidate (query, neighbour) pairs — rows carrying both
    :func:`_prep` sides (``_Q`` and ``_C``) — with the guarded cosine,
    drop self-matches, keep each query's top-``k``: (query_id,
    neighbor_id, *keep, cos_sim, rnk)."""
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        *keep,
        _cos(dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")).alias(
            "cos_sim"
        ),
    )
    return _top_k(scored, k)


def _route(
    side: DataFrame,
    centroids: DataFrame,
    key: str | list[str],
    vec: str,
    n: int = 1,
    on: str | None = None,
) -> DataFrame:
    """The nearest-centroid router: for each ``key`` row of ``side``
    (which carries ``vec`` and its squared norm ``{vec}_sq``), keep
    the ``n`` centroids (cid, c) nearest on the expanded distance
    |x|² − 2x·c + |c|² (bit-identical in the SQL oracle), rounded at
    6, ties broken by cid. ``on`` equi-joins side and centroids (PQ's
    per-subspace codebooks); otherwise every centroid is a candidate.
    Returns the side's columns plus (cid, c_sq, dist). The centroid
    table is k×dim, so it broadcasts at any corpus size."""
    keys = [on] if on else []
    cents = centroids.select(
        *keys, "cid", "c", dot(F.col("c"), F.col("c")).alias("c_sq")
    )
    pairs = (
        side.join(broadcast(cents), on)
        if on
        else side.crossJoin(broadcast(cents))
    )
    dist = F.round(
        F.col(f"{vec}_sq") - 2.0 * dot(F.col(vec), F.col("c")) + F.col("c_sq"),
        6,
    )
    return top_k_per_group(
        pairs.select(*side.columns, "cid", "c_sq", dist.alias("dist")),
        key,
        [F.asc("dist"), F.asc("cid")],
        n,
    ).drop("rnk")


def _lloyd(
    base: DataFrame,
    centroids: DataFrame,
    rounds: int,
    vec: str,
    key: str | list[str],
    on: str | None = None,
) -> DataFrame:
    """``rounds`` Lloyd re-centroid steps from the given seeds (cid,
    c), over ``base`` rows routed by ``key`` (per ``on`` group for PQ
    subspaces). Each round's k×dim result is lineage-truncated
    (localCheckpoint) so the next round's plan stays shallow —
    Catalyst re-analyzes the whole tree per action (see
    neardup_components for the measured blow-up)."""
    keys = [on] if on else []
    for _ in range(rounds):
        centroids = (
            _route(base, centroids, key, vec, on=on)
            .select(*keys, "cid", F.posexplode(vec).alias("dim_idx", "val"))
            .groupBy(*keys, "cid", "dim_idx")
            .agg(F.avg("val").alias("cv"))
            .groupBy(*keys, "cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim_idx", "cv"))
                ).alias("pairs")
            )
            .select(
                *keys, "cid", F.expr("transform(pairs, p -> p.cv)").alias("c")
            )
            .localCheckpoint(eager=True)
        )
    return centroids


def _km_base(corpus: DataFrame, col_id: str, col_vec: str) -> DataFrame:
    """(vid, v, v_sq), persisted AND filled — the frame every Lloyd /
    IVF stage fans out from. A plan-keyed shared build
    (session.py::shared_plan) per (corpus (col_id, col_vec) plan,
    col_id, col_vec): the IVF, IVF-PQ, IVF-SQ, k-means, cluster-eval,
    SemDeDup and IVF-decontamination operators read one entry."""

    def build():
        base = corpus.select(
            F.col(col_id).alias("vid"), as_double(col_vec).alias("v")
        ).withColumn("v_sq", dot(F.col("v"), F.col("v"))).persist()
        base.count()
        return base

    return shared_plan(
        "km_base", corpus.select(col_id, col_vec), (col_id, col_vec), build
    )


def _ivf(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int,
    nprobe: int,
    refinements: int,
    col_id: str,
    col_vec: str,
    names: tuple = _Q,
    quantizer: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The IVF candidate generator: (cells, probes). ``cells`` routes
    every corpus vector to its nearest trained cell (the k-means base
    columns plus cid); ``probes`` is each query's ``nprobe`` nearest
    cells as a :func:`_prep` side under ``names`` plus cid. Centroids
    train on ``quantizer`` (default: the corpus)."""
    base = _km_base(corpus, col_id, col_vec)
    centroids = kmeans_centroids(
        corpus if quantizer is None else quantizer,
        n_cells,
        refinements,
        col_id,
        col_vec,
    )
    i, v, n = names
    q = _prep(queries, col_id, col_vec, names).withColumn(
        f"{v}_sq", dot(F.col(v), F.col(v))
    )
    probes = _route(q, centroids, i, v, nprobe).select(i, v, n, "cid")
    return _route(base, centroids, "vid", "v"), probes


def rademacher_planes(n_planes: int, dim: int, seed: str = "ann") -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from md5(seed|plane|dim) —
    reproducible anywhere (the SQL oracle embeds the same literals)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) >= 8 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket_expr(vec_col, planes: list[list[float]]):
    """Random-hyperplane bucket id: bit p = sign(v · plane_p)."""
    bits = []
    for p, plane in enumerate(planes):
        proj = dot(vec_col, F.array(*[F.lit(x) for x in plane]))
        bits.append(F.when(proj >= 0, F.lit(2 ** p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """All bucket-xor masks within ``probe_hamming`` bit flips (mask 0 =
    the query's own cell). Shared with the SQL-oracle builder so both
    engines probe the identical cell set."""
    return [
        m for m in range(2 ** n_planes)
        if bin(m).count("1") <= probe_hamming
    ]


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH partitions the corpus
    into 2^n_planes cells; each query MULTI-PROBES its own cell plus
    every cell within ``probe_hamming`` bit flips — the IVF-style scale
    path. A near-miss neighbour differs from the query on a few
    marginal hyperplane signs, which is exactly a low-Hamming cell, so
    multi-probe recovers most of what single-cell probing loses. Fully
    deterministic, so the SQL oracle reproduces the same approximate
    result exactly.

    Measured recall vs ``ann_bruteforce_topk`` on the synthetic
    testdata (near-orthogonal embeddings, the hard case; 50 queries,
    k=10, sf0.01): single-cell ~10%, Hamming-1 46%, Hamming-2 (default)
    82% — ≥60% asserted by tests/test_ann_recall.py. With 4 planes,
    Hamming-2 probes 11/16 cells; at production plane counts the probe
    fraction collapses (16 planes → 137 of 65k cells ≈ 0.2% of the
    corpus per query). Corpus vectors keep exactly one cell; probe
    cells are distinct, so each (query, neighbour) pair is scored at
    most once and no dedup step is needed. Scores use the guarded
    cosine (:func:`_cos`): a zero vector scores NULL and ranks last."""
    planes = rademacher_planes(n_planes, dim)
    q = _prep(queries, col_id, col_vec, _Q).withColumn(
        "bucket", lsh_bucket_expr(F.col("qv"), planes)
    )
    # multi-probe fan-out: one row per (query, probed cell)
    probes = q.select(
        "query_id",
        "qv",
        "qn",
        F.explode(
            F.array(
                *[
                    F.col("bucket").bitwiseXOR(F.lit(m))
                    for m in probe_masks(n_planes, probe_hamming)
                ],
            )
        ).alias("bucket"),
    )
    c = _prep(corpus, col_id, col_vec, _C).withColumn(
        "bucket", lsh_bucket_expr(F.col("cv"), planes)
    )
    return _rank_pairs(c.join(broadcast(probes), "bucket"), k)


def ann_bruteforce_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbours for each query vector.

    Broadcast-cross-join (|Q| small) → codegen'd cosine → per-query
    row_number. Self-matches are excluded. Ties broken by neighbour id
    so ranks are deterministic. The cosine is the guarded kernel
    (:func:`_cos`) every scorer of this module shares: an all-zero
    vector on either side scores NULL and sorts after every real score
    on both engines (instead of raising DIVIDE_BY_ZERO under ANSI
    mode, or NaN-sorting FIRST under Spark's NaN-greatest DESC order
    while DuckDB diverges)."""
    q = _prep(queries, col_id, col_vec, _Q)
    c = _prep(corpus, col_id, col_vec, _C)
    return _rank_pairs(c.crossJoin(broadcast(q)), k)


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
    col_label: str = "label",
) -> DataFrame:
    """Hardest negatives per query: the k corpus vectors MOST similar
    to the query whose label differs — the contrastive-training miner
    (triplet / InfoNCE batches want near-miss negatives, not random
    ones).

    Same physical shape as :func:`ann_bruteforce_topk` — broadcast the
    small query set, codegen'd cosine over the corpus, bounded
    per-query window — with the label-mismatch predicate applied
    BEFORE ranking, so positives never occupy candidate slots. At
    corpus scale the exact scorer swaps for any of the ANN retrievers
    (retrieve ~k·oversample with IVF/PQ, filter labels, rerank); this
    exact form is the oracle-checkable baseline."""
    q = _prep(
        queries, col_id, col_vec, _Q, F.col(col_label).alias("query_label")
    )
    c = _prep(
        corpus, col_id, col_vec, _C, F.col(col_label).alias("neighbor_label")
    )
    pairs = c.crossJoin(broadcast(q)).filter(
        F.col("query_label") != F.col("neighbor_label")
    )
    return _rank_pairs(pairs, k, "neighbor_label")


def label_centroids(
    corpus: DataFrame,
    col_vec: str = "embedding",
    col_label: str = "label",
) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): posexplode
    keeps the aggregation relational (no array-equality pitfalls across
    engines) and partial-aggregates per dimension."""
    return (
        corpus.select(
            F.col(col_label),
            F.posexplode(as_double(col_vec)).alias("dim_idx", "val"),
        )
        .groupBy(col_label, "dim_idx")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    refinements: int = 1,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd centroids (cid, c): seeds are the first k
    vectors by id, then ``refinements`` re-centroid rounds — the coarse
    quantizer trainer shared by ``kmeans_assignments``,
    ``ivf_ann_topk``, ``ivfpq_ann_topk`` and ``semantic_dedup``.
    Memoized per (corpus plan, k, refinements): the iterative training
    runs once per session and every consumer reuses the materialized
    k×dim table."""
    def build():
        base = _km_base(corpus, col_id, col_vec)
        seeds = base.filter(F.col("vid") < k).select(
            F.col("vid").cast("int").alias("cid"), F.col("v").alias("c")
        )
        return _lloyd(base, seeds, refinements, "v", "vid")

    return shared_plan(
        "km_centroids", corpus.select(col_id, col_vec),
        (k, refinements, col_id, col_vec), build,
    )


def kmeans_assignments(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Lloyd's algorithm, fixed iteration count, deterministic seeds
    (the first k vectors by id) — an iterative algorithm expressed as a
    repeated broadcast-join + argmin + re-centroid pipeline.

    Distances use the expanded form |x|² − 2x·c + |c|² so the SQL
    oracle computes bit-identical values; assignment ties break by
    cluster id. Each iteration is one shuffle (the re-centroid
    aggregate); the cluster table stays k×dim (broadcast-scale).

    Returns per-cluster membership counts and mean distance — the
    convergence signal a driver loop would watch."""
    base = _km_base(corpus, col_id, col_vec)
    # iters Lloyd iterations == assign with (iters-1)-times-refined
    # centroids (the last re-centroid step never affects the output)
    centroids = kmeans_centroids(corpus, k, iters - 1, col_id, col_vec)
    return (
        _route(base, centroids, "vid", "v")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("dist"), 6).alias("mean_dist"),
        )
        .orderBy("cid")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 3,
    refinements: int = 1,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """True IVF approximate nearest neighbours: a TRAINED coarse
    quantizer (deterministic Lloyd centroids, unlike ``ann_lsh_topk``'s
    data-oblivious hyperplanes) partitions the corpus into ``n_cells``
    inverted lists; each query probes its ``nprobe`` nearest cells and
    scores only those lists — per-query work ~ nprobe/n_cells of the
    corpus. The centroid table is k×dim (broadcast-scale) and the cell
    assignment is one argmin over a broadcast join, so the whole index
    build is two corpus passes; this is the production IVF-Flat plan
    shape. Deterministic end-to-end — the SQL oracle reproduces the
    identical cells, probes, and ranking.

    Measured recall@10 vs ``ann_bruteforce_topk`` (50 queries, sf0.01,
    near-orthogonal synthetic embeddings): 52% at nprobe=2 (25% of the
    corpus scored), 65% at the default nprobe=3 (38%), 76% at
    nprobe=4 (50%) — vs 82% for the Hamming-2 LSH multi-probe, which
    scores 69% of it. Raise ``nprobe`` (or ``n_cells`` with
    proportionally more probes) for more recall."""
    cells, probes = _ivf(
        corpus, queries, n_cells, nprobe, refinements, col_id, col_vec
    )
    c = _prep(cells, "vid", "v", _C, "cid")
    return _rank_pairs(c.join(broadcast(probes), "cid"), k)


def _pq_subspaces(
    df: DataFrame, m: int, col_id: str, col_vec: str
) -> DataFrame:
    """(vid, sub, sv, sv_sq): one row per (vector, subspace), produced
    by a single explode — every PQ stage (train, encode, query tables)
    for ALL subspaces then runs as ONE job instead of m, since the
    subspace id is just a grouping column (measured: per-subspace loops
    cost m× the scheduling and scan work for identical results). The
    subspace width size(v) div m is computed inside the plan, so no
    separate job collects the dimension first."""
    v = as_double(col_vec)
    sub_dim = F.floor(F.size(v) / m).cast("int")
    entries = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(v, sub_dim * s + 1, sub_dim).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return (
        df.select(F.col(col_id).alias("vid"), F.explode(entries).alias("e"))
        .select("vid", "e.sub", "e.sv")
        .withColumn("sv_sq", dot(F.col("sv"), F.col("sv")))
    )


def _pq_codes(subs: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest sub-centroid per (vector, subspace) — the router over
    the per-subspace codebooks, with the same determinism contract as
    the k-means family: (vid, sub, sv, sv_sq, cid, c_sq, dist)."""
    return _route(subs, books, ["vid", "sub"], "sv", on="sub")


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    refinements: int = 1,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: the vector is split into ``m``
    contiguous subspaces and each gets its own deterministic Lloyd
    codebook of ``k_codes`` centroids (seeds = first k vectors by id,
    same trainer math as ``kmeans_centroids``; all m books train in
    one job via the exploded subspace table). Returns (sub, cid, c,
    c_sq) — m·k_codes rows of dim/m floats, broadcast-scale at any
    corpus size. Memoized per (corpus plan, m, k_codes, refinements):
    the PQ-Flat, rerank, and IVF-PQ variants all serve from ONE
    training run per session (session.py::shared_plan), checkpointed
    once inside the build."""
    def build():
        subs = _pq_subspaces(corpus, m, col_id, col_vec)
        seeds = subs.filter(F.col("vid") < k_codes).select(
            "sub", F.col("vid").cast("int").alias("cid"), F.col("sv").alias("c")
        )
        books = _lloyd(subs, seeds, refinements, "sv", ["vid", "sub"], "sub")
        return books.withColumn(
            "c_sq", dot(F.col("c"), F.col("c"))
        ).localCheckpoint(eager=True)

    return shared_plan(
        "pq_books", corpus.select(col_id, col_vec),
        (m, k_codes, refinements, col_id, col_vec), build,
    )


def _pq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    k_codes: int,
    refinements: int,
    col_id: str,
    col_vec: str,
    cells: DataFrame | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """The PQ asymmetric-distance scorer: (query_id, neighbor_id,
    cos_est). Corpus codes join the per-(query, subspace, code)
    partial-dot tables; the estimate is Σ pdot over the guarded
    product of the query norm and the reconstructed corpus norm
    √Σ|c|². With ``cells`` (vid, ccid) and ``probes`` (query_id,
    ccid), codes are first restricted to each query's probed IVF
    cells (IVF-PQ)."""
    books = pq_codebooks(corpus, m, k_codes, refinements, col_id, col_vec)
    # encode: nearest sub-centroid per (vector, subspace) — ONE job for
    # all subspaces over the exploded subspace table
    codes = _pq_codes(_pq_subspaces(corpus, m, col_id, col_vec), books).select(
        "vid", "sub", "cid", "c_sq"
    )
    # ADC tables: per (query, subspace, code) partial dot — tiny
    tables = (
        _pq_subspaces(queries, m, col_id, col_vec)
        .select(F.col("vid").alias("query_id"), "sub", F.col("sv").alias("qs"))
        .join(broadcast(books), "sub")
        .select(
            "query_id", "sub", "cid", dot(F.col("qs"), F.col("c")).alias("pdot")
        )
    )
    keys = ["sub", "cid"]
    if probes is not None:
        codes = codes.join(cells, "vid").join(broadcast(probes), "ccid")
        keys = ["query_id", *keys]
    qn = _prep(queries, col_id, col_vec, _Q).select("query_id", "qn")
    return (
        codes.join(broadcast(tables), keys)
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("pdot").alias("adc_dot"), F.sum("c_sq").alias("cn2_rec"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(broadcast(qn), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cos(
                F.col("adc_dot"), F.col("qn"), F.sqrt(F.col("cn2_rec"))
            ).alias("cos_est"),
        )
    )


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    k_codes: int = 16,
    refinements: int = 1,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
    rerank_factor: int = 0,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC): corpus vectors are compressed to ``m`` one-byte codes
    (nearest sub-centroid per subspace — here m=4, 16 codes ≈ 16 bytes
    → 4 codes, a 64× memory compression of the 64-dim float corpus);
    a query scores a vector as Σ_s table_s[code_s], where table_s =
    query-subvector · codebook_s dot products computed ONCE per query
    (m·k_codes entries). Cosine uses the reconstructed corpus norm
    (Σ_s |c_{s,code}|²) — the standard ADC estimate.

    Scale shape: training + encoding are two corpus passes with
    broadcast codebooks (the codebook is m·k_codes×(d/m) — tiny
    forever); scoring is PQ-Flat — still linear in corpus per query
    but each candidate costs m table lookups instead of d multiplies,
    and the scan reads 4 ints instead of 64 floats. For sublinear
    scoring, compose with the IVF cells (`ivf_ann_topk`) exactly as
    IVF-PQ does. Deterministic end-to-end: argmin ties break on cid
    over distances rounded at 6, so the SQL oracle reproduces codes,
    tables, and ranking bit-for-bit.

    ``rerank_factor`` > 0 turns on the production two-stage pattern:
    ADC retrieves a k·rerank_factor candidate pool (compressed-domain,
    cheap), then ONLY the pool is exact-scored with true vectors and
    re-ranked — quantization ordering errors inside the pool vanish,
    recall jumps at ~rerank_factor× the exact-scoring cost of plain
    top-k (measured on the isotropic corpus: 34% plain → 66% @
    rerank_factor=4 → 90% @ 8, exact-scoring only 16% of the corpus).
    Output column becomes ``cos_sim`` (exact) instead of
    ``cos_est``."""
    scored = _pq_adc(
        corpus, queries, m, k_codes, refinements, col_id, col_vec
    )
    if not rerank_factor:
        return _top_k(scored, k, "cos_est")
    return _exact_rerank(
        scored, corpus, queries, k, k * rerank_factor, col_id, col_vec
    )


def _exact_rerank(
    scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    pool_size: int,
    col_id: str,
    col_vec: str,
) -> DataFrame:
    """Stage 2 of retrieve-rerank: take the approximate scorer's
    top-``pool_size`` per query (ordered by its estimate), exact-score
    ONLY that pool with true vectors, return the exact top-k. The pool
    is queries×pool_size rows — broadcast against the corpus join at
    any scale."""
    pool = _top_k(scored, pool_size, "cos_est", "rnk0").select(
        "query_id", "neighbor_id"
    )
    c = _prep(corpus, col_id, col_vec, _C)
    q = _prep(queries, col_id, col_vec, _Q)
    return _rank_pairs(
        c.join(broadcast(pool), "neighbor_id").join(broadcast(q), "query_id"),
        k,
    )


def ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 3,
    m: int = 4,
    k_codes: int = 16,
    refinements: int = 1,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the production ANN composition: the trained coarse
    quantizer (``ivf_ann_topk``'s cells) bounds WHICH vectors each
    query scores (nprobe/n_cells of the corpus), and product
    quantization (``pq_ann_topk``'s codes) bounds WHAT scoring a
    candidate costs (m table lookups over m stored codes instead of a
    d-dim float dot). At 100 TB this is the only shape that holds:
    per-query work ≈ (nprobe/n_cells)·N·m lookups against a corpus
    stored at (m bytes + 1 cell id)/vector.

    This is the IVF-Flat-PQ variant (codes quantize raw vectors);
    classic IVF-PQ quantizes residuals v − cell_centroid for tighter
    codes — same plan shape, one extra subtraction at encode/query
    time, omitted here to keep the oracle construction linear.

    Deterministic end-to-end (both quantizers break ties on id over
    6-rounded distances), so the SQL oracle reproduces cells, codes,
    ADC tables, and ranking exactly."""
    cells, probes = _ivf(
        corpus, queries, n_cells, nprobe, refinements, col_id, col_vec
    )
    scored = _pq_adc(
        corpus,
        queries,
        m,
        k_codes,
        refinements,
        col_id,
        col_vec,
        cells.select("vid", F.col("cid").alias("ccid")),
        probes.select("query_id", F.col("cid").alias("ccid")),
    )
    return _top_k(scored, k, "cos_est")


def _self_pairs(base: DataFrame, col_id: str, keys: list) -> DataFrame:
    """(id_a, id_b, *keys, cos_sim) for every id_a < id_b pair of
    ``base`` (id, v, nrm, *keys) sharing ``keys`` — all pairs without
    keys — scored with the guarded cosine: the self-join behind
    embedding near-dups and SemDeDup pruning."""
    a = base.select(
        F.col(col_id).alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), *keys,
    )
    b = base.select(
        F.col(col_id).alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), *keys,
    )
    joined = a.join(b, keys) if keys else a.crossJoin(b)
    return joined.filter(F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        *keys,
        _cos(dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")).alias(
            "cos_sim"
        ),
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.9,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
    col_block: str | None = "label",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ threshold).

    With a block column the self-join is per-block (an IVF-style coarse
    partition: only same-cell pairs are scored); without one it degrades
    to the full cross self-join — exact but corpus². A zero vector's
    pairs score NULL and never pass the threshold."""
    keys = [col_block] if col_block else []
    base = _prep(corpus, col_id, col_vec, (col_id, "v", "nrm"), *keys).persist()
    return _self_pairs(base, col_id, keys).filter(F.col("cos_sim") >= threshold)


def _outer_products(v: str, index_base: int) -> Column:
    """One row per upper-triangle product of ``v`` with itself: (i, j,
    p = v[i]·v[j]) for i ≤ j, BIGINT indices counted from
    ``index_base``. Exploded and summed per (i, j), this is the Gram
    matrix as a dimension-scale aggregate."""
    return F.explode(
        F.expr(
            f"""
            flatten(transform({v}, (x, i0) ->
              transform(slice({v}, i0 + 1, size({v})), (y, j0) ->
                struct(CAST(i0 + {index_base} AS BIGINT) AS i,
                       CAST(i0 + j0 + {index_base} AS BIGINT) AS j,
                       x * y AS p))))
            """
        )
    ).alias("t")


def embedding_gram(
    df: DataFrame, col_id: str = "vec_id", col_vec: str = "embedding"
) -> DataFrame:
    """Gram matrix G = Xᵀ X over the embedding dimensions (the
    d×d covariance scaffold behind PCA / whitening / DIMSUM-style
    similarity), computed as a distributed sum of per-row outer
    products: each row expands to its d(d+1)/2 upper-triangle products
    JVM-side, and one aggregation reduces them to d² partial sums.
    Map-side combine collapses every partition to ≤ d(d+1)/2 rows
    before the shuffle, so the exchange is DIMENSION-scale, not
    corpus-scale — the plan that survives 100 TB (the alternative,
    a row-id self-join on the exploded table, shuffles n·d² rows).
    Accumulation in float64 (cast before multiply); 1-based (i, j)
    with i ≤ j."""
    emb = df.select(as_double(col_vec).alias("v"))
    pairs = emb.select(_outer_products("v", 1)).select("t.*")
    return pairs.groupBy("i", "j").agg(F.round(F.sum("p"), 6).alias("g"))


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.9,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with the deterministic Lloyd
    trainer, then prune near-duplicates WITHIN each cluster — a vector
    is dropped when a lower-id member of its cluster has cosine
    similarity ≥ ``threshold`` (keep-lowest-id is the paper's
    keep-one-representative rule with a deterministic choice).

    This is the embedding twin of ``minhash_lsh_pairs`` → drop: the
    k-means cells play the role of LSH buckets, restricting the
    quadratic cosine check to same-cell pairs. Scale: the per-cell
    self-join is (n/k)² per cell; production SemDeDup runs k ∝ corpus
    (paper: 50k clusters for LAION) so cells stay ~constant-sized —
    k is the knob, the plan shape doesn't change. Everything else is
    the one-shuffle k-means pipeline plus a cell-local join; no
    corpus×corpus product ever materializes. A zero vector's cosines
    are NULL, so it is never dropped and never drops another.

    Returns per-cluster accounting (n_docs, n_dropped, n_kept,
    round(drop_ratio, 6)) ordered by cid — the table a curation run
    reads to pick the threshold."""
    base = _km_base(corpus, col_id, col_vec)
    centroids = kmeans_centroids(corpus, k, iters - 1, col_id, col_vec)
    assign = _prep(
        _route(base, centroids, "vid", "v"), "vid", "v", ("vid", "v", "nrm"),
        "cid",
    )
    dropped = (
        _self_pairs(assign, "vid", ["cid"])
        .filter(F.col("cos_sim") >= threshold)
        .select("id_b")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assign.join(dropped, assign["vid"] == dropped["id_b"], "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dropped"),
        )
        .select(
            "cid",
            "n_docs",
            "n_dropped",
            (F.col("n_docs") - F.col("n_dropped")).alias("n_kept"),
            F.round(
                F.col("n_dropped") / F.col("n_docs").cast("double"), 6
            ).alias("drop_ratio"),
        )
        .orderBy("cid")
    )


def embedding_pca(
    df: DataFrame,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
    n_components: int = 2,
) -> DataFrame:
    """Distributed PCA projection: mean-center, build the d×d
    covariance from dimension-scale aggregates, eigendecompose ON THE
    DRIVER (d×d is tiny for any real embedding width — the corpus
    never leaves the cluster), broadcast the top-``n_components``
    eigenvectors, and project each row in one codegen'd pass.

    This is the classic big-n/small-d split: everything corpus-sized
    is a single aggregate (mean, Gram), everything driver-sized is
    O(d²) — the same division of labor as k-means' centroid collect.
    Eigenvector sign is fixed (largest-|component| positive) so the
    output is deterministic. numpy is a driver-only dependency."""
    import numpy as np

    emb = df.select(F.col(col_id), as_double(col_vec).alias("v"))
    d = emb.select(F.size("v").alias("d")).first()["d"]
    # corpus-scale pass 1: per-dimension mean (dimension-scale result)
    sums = emb.select(
        F.posexplode("v").alias("i", "x")
    ).groupBy("i").agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    mean = {r["i"]: r["s"] / r["n"] for r in sums.collect()}
    mu = np.array([mean[i] for i in range(d)])
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    centered = emb.select(
        F.col(col_id),
        F.zip_with("v", mu_lit, lambda x, m: x - m).alias("v"),
    )
    # corpus-scale pass 2: the embedding_gram outer-product sums over
    # the centered vectors, 0-based so (i, j) index numpy directly
    pairs = centered.select(_outer_products("v", 0)).select("t.*")
    gram = pairs.groupBy("i", "j").agg(F.sum("p").alias("g")).collect()
    n_rows = emb.count()
    cov = np.zeros((d, d))
    for r in gram:
        cov[r["i"], r["j"]] = r["g"] / (n_rows - 1)
        cov[r["j"], r["i"]] = cov[r["i"], r["j"]]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order]  # d x k
    # deterministic sign: largest-|component| entry positive
    for c in range(comps.shape[1]):
        j = int(np.argmax(np.abs(comps[:, c])))
        if comps[j, c] < 0:
            comps[:, c] = -comps[:, c]
    proj_cols = []
    for c in range(comps.shape[1]):
        w = F.array(*[F.lit(float(x)) for x in comps[:, c]])
        proj_cols.append(F.round(dot(F.col("v"), w), 6).alias(f"pc{c + 1}"))
    return centered.select(F.col(col_id), *proj_cols)


def cluster_eval(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
    col_label: str = "label",
) -> DataFrame:
    """External clustering evaluation: purity and normalized mutual
    information of the deterministic k-means assignment against a
    ground-truth label column — the one-row scorecard that tells a
    pipeline whether its coarse quantizer (IVF cells, SemDeDup
    buckets) actually tracks the semantic structure it is standing in
    for.

        purity = Σ_c max_l n_cl / N
        NMI    = 2·I(C;L) / (H(C) + H(L))

    Scale: everything after the (memoized) assignment reduces to the
    k×|labels| contingency table — one corpus-scale aggregate, then
    arithmetic over a table small enough to broadcast at any corpus
    size."""
    base = _km_base(corpus, col_id, col_vec)
    centroids = kmeans_centroids(corpus, k, iters - 1, col_id, col_vec)
    assign = _route(base, centroids, "vid", "v").select("vid", "cid")
    lab = corpus.select(
        F.col(col_id).alias("vid"), F.col(col_label).alias("lbl")
    )
    cont = (
        assign.join(lab, "vid")
        .groupBy("cid", "lbl")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    n_c = cont.groupBy("cid").agg(F.sum("n").alias("nc"))
    n_l = cont.groupBy("lbl").agg(F.sum("n").alias("nl"))
    tot = cont.agg(F.sum("n").cast("double").alias("nn"))
    purity = (
        cont.groupBy("cid")
        .agg(F.max("n").alias("mx"))
        .agg(F.sum("mx").cast("double").alias("pur_num"))
    )
    # I(C;L) = Σ (n/N)·ln(n·N / (n_c·n_l)); H from the margin tables
    mi = (
        cont.join(F.broadcast(n_c), "cid")
        .join(F.broadcast(n_l), "lbl")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n") / F.col("nn"))
                * F.log(
                    F.col("n") * F.col("nn")
                    / (F.col("nc") * F.col("nl"))
                )
            ).alias("mi")
        )
    )
    h_c = n_c.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("nc") / F.col("nn")) * F.log(F.col("nc") / F.col("nn"))))
        .alias("hc")
    )
    h_l = n_l.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("nl") / F.col("nn")) * F.log(F.col("nl") / F.col("nn"))))
        .alias("hl")
    )
    return (
        tot.crossJoin(F.broadcast(purity))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(h_c))
        .crossJoin(F.broadcast(h_l))
        .select(
            F.col("nn").cast("bigint").alias("n_points"),
            F.round(F.col("pur_num") / F.col("nn"), 6).alias("purity"),
            F.round(
                2.0 * F.col("mi") / (F.col("hc") + F.col("hl")), 6
            ).alias("nmi"),
        )
    )


def centroid_distances(
    corpus: DataFrame,
    col_vec: str = "embedding",
    col_label: str = "label",
) -> DataFrame:
    """Pairwise Euclidean distances between label centroids — the
    class-separation readout (which labels are embedding-space
    neighbors, which are far apart) that complements cluster_eval's
    within-cluster stats with a BETWEEN-class view.

    Builds on ``label_centroids`` (whose per-dimension means are
    already rounded to 6 decimals — so this operator's inputs are
    engine-exact by construction); squared per-dimension differences
    are pre-rounded to DECIMAL(18,9) and summed exactly, and the final
    √ is IEEE-exact, so the 6-decimal distances cannot drift. Output:
    one row per unordered label pair (label_a < label_b).

    Scale shape: the corpus collapses to label × dimension in
    label_centroids' one aggregate; the pair join runs over that
    LABEL-scale table (labels² · d rows — class counts, not corpus),
    equi-keyed on dimension."""
    cents = label_centroids(corpus, col_vec, col_label)
    a = cents.select(
        F.col(col_label).alias("label_a"),
        "dim_idx",
        F.col("centroid_val").alias("ca"),
    )
    b = cents.select(
        F.col(col_label).alias("label_b"),
        "dim_idx",
        F.col("centroid_val").alias("cb"),
    )
    sq = F.expr(
        "CAST(round((ca - cb) * (ca - cb), 9) AS DECIMAL(18,9))"
    )
    return (
        a.join(b, "dim_idx")
        .filter(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", sq.alias("sq"))
        .groupBy("label_a", "label_b")
        .agg(
            F.round(
                F.sqrt(F.sum("sq").cast("double")), 6
            ).alias("dist")
        )
        .orderBy("label_a", "label_b")
    )


def pq_distortion(
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    refinements: int = 1,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Product-quantization reconstruction-error report: per subspace,
    the mean and max squared distance between vectors and their
    assigned sub-centroid — the compression-quality readout that
    decides m/k_codes BEFORE trusting pq_ann_topk's estimates (recall
    tells you retrieval quality; distortion tells you WHY it
    degraded).

    Serves from the same memoized codebooks as the PQ/ANN family (one
    training run per session). The per-(vector, subspace) error is the
    SAME 6-rounded expanded-form distance the encoding argmin uses —
    the router's ``dist`` column. Errors sum in DECIMAL(18,6), so the
    means are partition-order independent.

    Scale shape: one subspace explode, one broadcast codebook join +
    per-(vid, sub) argmin window, one m-row aggregate."""
    books = pq_codebooks(corpus, m, k_codes, refinements, col_id, col_vec)
    assigned = _pq_codes(_pq_subspaces(corpus, m, col_id, col_vec), books)
    return (
        assigned.groupBy(F.col("sub").cast("int").alias("sub"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum(
                    F.col("dist").cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mse"),
            F.max("dist").alias("max_sq_err"),
        )
        .orderBy("sub")
    )


def embedding_outliers(
    corpus: DataFrame,
    k: int = 20,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Top-``k`` embedding outliers by Euclidean distance to the GLOBAL
    centroid — the quick contamination screen over a vector corpus
    (mislabeled batches, wrong-modality rows, collapsed encoders show
    up as far-from-center mass) complementing mad_outlier_docs'
    text-side screen and centroid_distances' between-class view.

    The centroid's per-dimension means are rounded to 6 decimals
    (engine-exact inputs by construction, the label_centroids rule);
    squared per-dimension deviations are pre-rounded to DECIMAL(18,9)
    and summed exactly; √ is IEEE-exact. Ranking ties break by id.

    Scale shape: one dimension-keyed aggregate (corpus → d rows,
    broadcast back), one per-(vector, dim) join + vector-scale
    aggregate, global top-k via orderBy+limit."""
    ex = corpus.select(
        F.col(col_id).alias("vid"),
        F.posexplode(as_double(col_vec)).alias("dim_idx", "val"),
    )
    cent = ex.groupBy("dim_idx").agg(
        F.round(F.avg("val"), 6).alias("cv")
    )
    sq = F.expr(
        "CAST(round((val - cv) * (val - cv), 9) AS DECIMAL(18,9))"
    )
    per_vec = (
        ex.join(broadcast(cent), "dim_idx")
        .select("vid", sq.alias("sq"))
        .groupBy("vid")
        .agg(
            F.round(F.sqrt(F.sum("sq").cast("double")), 6).alias(
                "dist_to_centroid"
            )
        )
    )
    return ranked_topk(
        per_vec, [F.desc("dist_to_centroid"), F.asc("vid")], k
    ).select(
        F.col("vid").alias("vec_id"), "dist_to_centroid", "rnk"
    )


def sq_minmax_bounds(
    corpus: DataFrame,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Per-dimension [min, max] training bounds for scalar
    quantization, as ONE row of two d-length arrays (mins, maxs) —
    the SQ codebook. One posexplode + one d-key aggregate (map-side
    combined; the key space is the DIMENSION count, not the corpus),
    then a d-scale collect_list into arrays: catalog-sized output
    that broadcasts to every consumer. No driver collect."""
    dims = (
        corpus.select(
            F.posexplode(as_double(col_vec)).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    return dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))),
            lambda s: s.mn,
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s.mx,
        ).alias("maxs"),
    )


# index-form SQ kernels: the i-th code/reconstruction from value x,
# bounds (mn, mx). The DuckDB oracles spell out the same arithmetic in
# their own text; floor() on an identically-ordered double expression
# is exact cross-engine; codes clamp to [0, 255] so x == mx lands in
# the top bucket.
_SQ_CODE = (
    "CASE WHEN {mx} - {mn} = 0 THEN 0 ELSE "
    "least(255, greatest(0, "
    "floor(({x} - {mn}) / ({mx} - {mn}) * 256))) END"
)
_SQ_RECON = "{mn} + ({code} + 0.5) * ({mx} - {mn}) / 256.0"


def _sq8(vec: str, recon: bool) -> Column:
    """Per-dimension SQ8 transform of the double vector ``vec`` against
    the broadcast bounds row (mins, maxs): the int codes, or with
    ``recon`` the bucket-midpoint reconstruction the quantized lanes
    score through."""
    at = {
        k: f"element_at({arr}, CAST(i AS INT))"
        for k, arr in (("x", vec), ("mn", "mins"), ("mx", "maxs"))
    }
    code = _SQ_CODE.format(**at)
    body = (
        _SQ_RECON.format(code=f"({code})", mn=at["mn"], mx=at["mx"])
        if recon
        else f"CAST(({code}) AS INT)"
    )
    return F.expr(f"transform(sequence(1, size({vec})), i -> {body})")


def sq_quantize(
    corpus: DataFrame,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """SQ8 scalar quantization: each embedding dimension is coded to
    an int in [0, 255] over its corpus-wide [min, max] range — the
    classic 4x storage cut (float32 -> uint8) that keeps ANN recall
    high because each dimension retains 256 levels (cf. FAISS
    ScalarQuantizer QT_8bit). Output: (vec_id, codes array<int>) —
    the artifact you'd persist at 100 TB.

    Scale shape: bounds are one d-key aggregate broadcast as a single
    row; coding is a pure scan-side transform over the corpus — zero
    corpus-scale shuffles."""
    bounds = sq_minmax_bounds(corpus, col_id, col_vec)
    return (
        corpus.select(F.col(col_id), as_double(col_vec).alias("cv"))
        .crossJoin(broadcast(bounds))
        .select(col_id, _sq8("cv", recon=False).alias("codes"))
    )


def sq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Asymmetric SQ8 ANN: corpus vectors are scored through their
    scalar-quantized RECONSTRUCTION (bucket midpoint per dimension)
    while queries stay full-precision — the standard SQ distance
    (quantize the stored side only; queries are few and exact). Same
    output contract as ann_bruteforce_topk: (query_id, neighbor_id,
    cos_sim, rnk), ties broken by neighbour id.

    Scale shape: identical to the brute-force baseline (broadcast
    query set, codegen'd cosine, bounded per-query window) — but the
    stored side is 4x smaller, and the reconstruction is a scan-side
    transform off the broadcast bounds row, so at 100 TB the corpus
    scan reads uint8 codes instead of float32 vectors. Compose with
    the IVF cell router for sublinear scoring exactly as
    ivfpq_ann_topk routes PQ. Degenerate vectors (all-zero query or
    reconstruction) score NULL through the guarded cosine and rank
    last — the ann_bruteforce_topk rule."""
    bounds = sq_minmax_bounds(corpus, col_id, col_vec)
    stored = corpus.select(
        F.col(col_id), as_double(col_vec).alias("cv")
    ).crossJoin(broadcast(bounds))
    c = _prep(stored, col_id, _sq8("cv", recon=True), _C)
    q = _prep(queries, col_id, col_vec, _Q)
    return _rank_pairs(c.crossJoin(broadcast(q)), k)


def dim_truncation_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fractions: tuple[float, ...] = (1.0, 0.5, 0.25),
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Matryoshka-style truncation calibration: for each prefix
    fraction of the embedding dimensions, how much of the exact
    full-dimension top-k survives when similarity is computed on the
    truncated prefix only (Kusupati et al. 2022 MRL evaluate exactly
    this storage/recall tradeoff). One row per fraction:
    (trunc_frac, n_exact, n_matched, recall) — recall = matched
    exact pairs / all exact pairs, and frac 1.0 is the built-in
    sanity row (recall 1 by construction).

    This is the OFFLINE sizing report: run it on a query sample to
    pick the stored dimensionality before committing 100 TB of
    vectors; each fraction reuses the brute-force scoring shape
    (broadcast query set, codegen'd cosine, bounded per-query
    window), and the truncation is a scan-side slice — no new
    shuffle class. Ties inside the top-k boundary follow each
    ranking's own id tiebreak, the same rule both engines pin.

    A truncated prefix can be ALL-ZERO even when the full vector is
    not; the guarded cosine scores such pairs NULL and sorts them
    after every real score on both engines (DESC puts NULLs last)
    instead of raising under ANSI mode. The exact baseline
    (``ann_bruteforce_topk``) shares the SAME kernel and ordering, so
    the frac-1.0 row really is recall 1 by construction — both passes
    rank degenerate vectors identically (k-boundary ties still break
    by neighbour id in both)."""
    exact = ann_bruteforce_topk(
        corpus, queries, k, col_id, col_vec
    ).select("query_id", "neighbor_id")
    parts = []
    for frac in fractions:
        prefix = F.expr(
            f"slice(cv, 1, greatest(1, "
            f"cast(floor(size(cv) * {frac!r}) as int)))"
        )

        def side(df, names):
            full = df.select(F.col(col_id), as_double(col_vec).alias("cv"))
            return _prep(full, col_id, prefix, names)

        c, q = side(corpus, _C), side(queries, _Q)
        approx = _rank_pairs(c.crossJoin(broadcast(q)), k).select(
            "query_id", "neighbor_id", F.lit(1).alias("m")
        )
        j = exact.join(approx, ["query_id", "neighbor_id"], "left")
        parts.append(
            j.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                F.sum(F.coalesce("m", F.lit(0)))
                .cast("bigint")
                .alias("n_matched"),
            ).select(
                F.lit(float(frac)).alias("trunc_frac"),
                "n_exact",
                "n_matched",
                F.round(
                    F.col("n_matched")
                    / F.col("n_exact").cast("double"),
                    6,
                ).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _best_hits(pairs: DataFrame, threshold: float) -> DataFrame:
    """Decontamination tail over (train, eval) pairs carrying both
    :func:`_prep` sides (``_T`` and ``_E``): guarded cosine, keep hits
    ≥ ``threshold``, then one row per hit train vector (train_id,
    n_eval_hits, best_eval_id, best_cos), best = highest cosine with
    eval-id tiebreak. Only HIT-scale rows reach the per-train
    window."""
    hits = pairs.select(
        "train_id",
        "eval_id",
        _cos(dot(F.col("tv"), F.col("qv")), F.col("tn"), F.col("qn")).alias(
            "cos_sim"
        ),
    ).filter(F.col("cos_sim") >= threshold)
    w = Window.partitionBy("train_id").orderBy(
        F.desc("cos_sim"), F.asc("eval_id")
    )
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "n_eval_hits",
            F.count(F.lit(1))
            .over(Window.partitionBy("train_id"))
            .cast("bigint"),
        )
        .filter(F.col("rnk") == 1)
        .select(
            "train_id",
            "n_eval_hits",
            F.col("eval_id").alias("best_eval_id"),
            F.col("cos_sim").alias("best_cos"),
        )
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """Embedding-space eval decontamination — the semantic twin of
    ngram_decontaminate: flag every TRAIN vector whose cosine to ANY
    eval vector reaches ``threshold`` (paraphrased benchmark leakage
    that an n-gram scan cannot see; the scrub used alongside string
    matching in modern instruction-tuning pipelines). Output one row
    per contaminated train vector: (train_id, n_eval_hits,
    best_eval_id, best_cos), best = highest cosine with eval-id
    tiebreak. A zero vector on either side never counts as a hit.

    Scale shape — deliberately identical to the n-gram
    decontamination join: the eval side is benchmark-sized and
    BROADCASTS; the 100 TB train side is one scan (per-pair cosine
    inside codegen), and only HIT-scale rows reach the per-train
    window. No train-side shuffle before the filter. At very large
    eval sets, swap the broadcast for the IVF cell router exactly as
    ivfpq_ann_topk does."""
    t = _prep(train, col_id, col_vec, _T)
    q = _prep(eval_df, col_id, col_vec, _E)
    return _best_hits(t.crossJoin(broadcast(q)), threshold)


def ivfsq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 3,
    refinements: int = 1,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
) -> DataFrame:
    """IVF-SQ8 — the FAISS ``IVF,SQ8`` production composition: the
    trained coarse quantizer bounds WHICH vectors a query scores
    (nprobe/n_cells of the corpus, exactly as :func:`ivf_ann_topk`),
    and SQ8 bounds WHAT a stored candidate costs (uint8 codes, 4x
    smaller than floats, scored through the bucket-midpoint
    reconstruction exactly as :func:`sq_ann_topk`). Bounds are
    trained GLOBALLY (one d-key aggregate), queries stay
    full-precision. Per-query work ≈ (nprobe/n_cells)·N candidates
    at 1 byte/dim storage — the midpoint between IVF-Flat (full
    floats) and IVF-PQ (m-code lossy).

    Deterministic end-to-end; the SQL oracle reproduces cells,
    probes, bounds, reconstruction, and ranking bit-for-bit."""
    cells, probes = _ivf(
        corpus, queries, n_cells, nprobe, refinements, col_id, col_vec
    )
    bounds = sq_minmax_bounds(corpus, col_id, col_vec)
    c = _prep(
        cells.crossJoin(broadcast(bounds)), "vid", _sq8("v", recon=True),
        _C, "cid",
    )
    return _rank_pairs(c.join(broadcast(probes), "cid"), k)


def semantic_decontaminate_ivf(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    n_cells: int = 8,
    nprobe: int = 3,
    refinements: int = 1,
    quantizer: DataFrame | None = None,
    col_id: str = "vec_id",
    col_vec: str = "embedding",
    broadcast_probe_limit: int = 2_000_000,
) -> DataFrame:
    """:func:`semantic_decontaminate` with the IVF cell router in
    place of the eval broadcast — the declared scale-out lane the
    broadcast path's docstring promises: when the eval set is too
    large to broadcast-score against every train vector, train
    vectors are bucketed into IVF cells (the :func:`kmeans_centroids`
    coarse quantizer) and each EVAL vector probes only its ``nprobe``
    nearest cells, so the pairwise cosine work drops from
    N_train x N_eval to ~(nprobe/n_cells) x N_train x N_eval — the
    exact candidate-bounding trade :func:`ivf_ann_topk` makes.

    Same output contract as the broadcast path (train_id,
    n_eval_hits, best_eval_id, best_cos), restricted to hits whose
    train vector lies in a probed cell: a contaminated train vector
    whose cell no eval vector probes is MISSED — the standard IVF
    recall trade, measured against the broadcast path in
    tests/test_round10_ops.py. ``quantizer`` (default: the train
    side) is the corpus the coarse centroids are trained on; pass
    the full vector table when the train side's ids don't include
    the deterministic seed ids (seeds are vec_id < n_cells).

    Scale shape: centroids are k x dim (broadcast, memoized per
    session); cell assignment is one train-scan argmin; probes are
    an eval-scale row_number over n_cells candidates; the hit join
    is cell-bucketed and SIZE-GUARDED (``broadcast_probe_limit``,
    the minhash_lsh_pairs ``broadcast_pair_limit`` pattern): the
    probe table is nprobe x N_eval rows each carrying the full eval
    vector — nprobe x the BYTES of the plain broadcast lane — so it
    only broadcasts when n_eval x min(nprobe, n_cells) rows fit
    under the limit; above it both sides repartition by ``cid`` and
    the join runs as a shuffle join, bounding MEMORY as well as the
    pairwise-cosine compute (at that scale raise ``n_cells`` with
    the corpus so per-cell work stays bounded — cells are the join's
    parallelism grain). The deciding count is one eval-grain
    ``count()`` (probe fan-out is exactly min(nprobe, n_cells) per
    eval row, so no probe materialization is spent on it). Only
    HIT-scale rows reach the per-train window. Deterministic
    end-to-end; the SQL oracle reproduces cells, probes, and ranking
    bit-for-bit."""
    cells, probes = _ivf(
        train, eval_df, n_cells, nprobe, refinements, col_id, col_vec,
        _E, quantizer,
    )
    t = _prep(cells, "vid", "v", _T, "cid")
    n_probe_rows = eval_df.count() * min(int(nprobe), int(n_cells))
    if n_probe_rows <= broadcast_probe_limit:
        routed = t.join(broadcast(probes), "cid")
    else:
        routed = t.repartition("cid").join(probes.repartition("cid"), "cid")
    return _best_hits(routed, threshold)
