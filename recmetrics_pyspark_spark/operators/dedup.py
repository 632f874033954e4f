"""Deduplication operators for training-data pipelines over `documents`.

Four families, all expressed with built-in JVM functions (no Python
UDFs) and engine-portable hashing (md5 + string min), so every variant
is DuckDB-oracle-checkable:

- exact:     content-hash groupBy (one shuffle on the hash)
- MinHash:   shingle → k permutations via seeded md5 → banded LSH
             bucket-join → candidate pairs → exact Jaccard verify
- SimHash:   32-bit signature from per-token md5-prefix integers
             (majority vote per bit); near-dup = small Hamming distance
             on the signature
- n-gram Jaccard: inverted-index join on shared shingles (only
             co-shingle pairs shuffle — never the full cross product)

Scale notes: the shingle inverted index is the classic dedup plan at
100 TB — hot shingles are the skew risk (AQE skew-join on), and the
band-bucket join materializes only same-bucket pairs, exactly like a
production MinHash dedup. Embedding-cosine near-dup lives in
``operators.similarity``.

Every query is composed from one copy of each part: one word-gram
emitter (:func:`_gram_rows`), one ``id_a < id_b`` doc-pair self-join
(:func:`_doc_pairs`), one overlap scorer (:func:`_overlap_scores`:
size join, containment, Jaccard), one MinHash band stacker
(:func:`_band_stack`) and one hash-group dedup (:func:`_hash_dedup`).

Cache contract (session lifetime): the intermediates several queries
read are named shared builds (session.py::shared_plan) — the shingle
table (``word_shingles``), its df-capped cut (``capped_shingles``),
the threshold-independent pair table (``jaccard_pairs``), the MinHash
band stack and candidates (``minhash_bands``, ``minhash_candidates``)
and the SimHash signatures (``simhash_signatures``). Each is keyed on
the optimized plan of the (id, text) projection it reads plus its
parameters, so a frame carrying extra columns hits the same build;
each is ``persist()`` + ``count()`` (MEMORY_AND_DISK) and lives until
``release_shared(spark)``, which a service churning through many
corpora calls between them. The one other persisted table,
``build_eval_shingles``, belongs to its caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import shared_plan


def _hash_dedup(
    df: DataFrame, col_id: str, h: Column, col_hash: str
) -> DataFrame:
    """Per-doc duplicate assignment by hash group: the smallest id in
    each ``h`` group is canonical; everything else is a duplicate. One
    shuffle on the hash."""
    hashed = df.select(F.col(col_id), h.alias(col_hash))
    groups = hashed.groupBy(col_hash).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(col_id).alias("canonical_id"),
    )
    return hashed.join(groups, col_hash).select(
        col_id,
        col_hash,
        "n_copies",
        "canonical_id",
        (F.col(col_id) != F.col("canonical_id")).alias("is_dup"),
    )


def exact_dedup(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """Per-doc exact-duplicate assignment over the raw-text md5."""
    return _hash_dedup(df, col_id, F.md5(F.col(col_text)), "content_hash")


def _gram_rows(
    df: DataFrame,
    col_id: str,
    col_text: str,
    k: int,
    whitespace: bool = False,
    skip_empty: bool = False,
    pos: bool = False,
    short_ns: list[int] | tuple[int, ...] = (),
) -> DataFrame:
    """Unpersisted, un-deduplicated word-gram rows ``(col_id[, pos],
    shingle)`` — the one gram emitter behind word_shingles (which adds
    the per-doc set and the shared build), duplicated_spans
    (``pos=True``: the start position rides along) and both sides of
    the decontamination scan (single flowing consumers that must NOT
    materialize a corpus-scale shingle table).

    Tokenization is materialized as a column BEFORE the gram
    construction: referencing ``split(text)`` inline re-splits the
    whole document per gram (quadratic in doc length). Each gram is
    built by posexplode over the start positions plus k
    ``try_element_at`` lookups — ALL codegen'd expressions, measured
    ~2x faster than the equivalent interpreted ``transform``/``slice``
    lambda (1.0s vs 2.6s cold at sf0.1 for the same 260k shingles).
    ``try_element_at`` returns NULL past the array end and concat_ws
    skips NULLs, so a document shorter than k yields one partial gram
    of its whole text (and ANSI mode stays crash-free).

    ``whitespace=True`` tokenizes on a whitespace CLASS ([ \\t\\n\\r]+,
    empty tokens dropped) instead of the single literal space —
    cross-corpus consumers need it (a line-wrapped copy of a
    single-spaced quote must still collide); the single-space default
    is the pinned within-corpus tokenization every existing shingle
    oracle mirrors. ``skip_empty=True`` drops zero-token documents
    BEFORE the position explode — without it an empty/whitespace-only
    doc still emits one empty-string partial gram (greatest(..., 1)
    forces position 1 and concat_ws over all-NULL lookups yields '');
    the decontamination path needs the filter so two whitespace-only
    docs across corpora don't read as a contamination hit, while
    word_shingles keeps the historical partial-shingle semantics its
    oracles pin.

    ``short_ns`` (the decontamination train side) adds full n-gram
    levels for each 0 < n < k: a sub-k-word benchmark answer quoted
    inside a long train page must still collide, so the train side
    emits grams at exactly those lengths too. All levels share ONE
    tokenization and ONE position explode over
    1..greatest(size - min_n + 1, 1); per-level validity guards decide
    emission (the k level keeps its whole-doc partial for docs shorter
    than k), so the scan stays single-pass and shuffle-free. A doc of
    exactly n tokens emits its whole text at both the k-partial and
    the n level — harmless, every downstream aggregate counts
    DISTINCT."""
    ns = sorted({int(n) for n in short_ns if 0 < int(n) < k})
    if whitespace:
        toks = F.filter(
            F.split(F.col(col_text), "[ \\t\\n\\r]+"), lambda x: x != ""
        )
    else:
        toks = F.split(F.col(col_text), " ")
    base = df.select(F.col(col_id), toks.alias("__toks"))
    if skip_empty:
        base = base.filter(F.size("__toks") > 0)
    n_min = ns[0] if ns else k
    at = base.select(
        F.col(col_id),
        "__toks",
        F.posexplode(
            F.expr(f"sequence(1, greatest(size(__toks) - {n_min - 1}, 1))")
        ).alias("__i", "pos"),
    )

    def gram(n: int) -> Column:
        return F.concat_ws(
            " ",
            *[F.expr(f"try_element_at(__toks, pos + {i})") for i in range(n)],
        )

    if not ns:
        return at.select(
            F.col(col_id), *(["pos"] if pos else []), gram(k).alias("shingle")
        )

    def full(n: int) -> str:
        return f"pos + {n - 1} <= size(__toks)"

    partial = f"pos = 1 and size(__toks) < {k}"
    levels = [F.when(F.expr(f"{full(k)} or ({partial})"), gram(k))] + [
        F.when(F.expr(full(n)), gram(n)) for n in ns
    ]
    return at.select(
        F.col(col_id), F.explode(F.array(*levels)).alias("shingle")
    ).filter(F.col("shingle").isNotNull())


def word_shingles(
    df: DataFrame, col_id: str, col_text: str, k: int = 3
) -> DataFrame:
    """Distinct word k-gram shingles per document (set semantics), from
    the one gram emitter (:func:`_gram_rows`).

    A named shared build (``word_shingles``, keyed on the (col_id,
    col_text) plan of ``df`` + k), persisted AND filled eagerly: every
    consumer (signatures, inverted-index sides, size aggregate) fans
    out from this table, and sibling branches of one job racing an
    unfilled cache would each re-run the explode+distinct (measured
    ~5s/evaluation cold at sf0.01)."""
    docs = df.select(col_id, col_text)

    def build():
        out = _gram_rows(docs, col_id, col_text, k).distinct().persist()
        out.count()
        return out

    return shared_plan("word_shingles", docs, (col_id, col_text, k), build)


# Default document-frequency cap for the exact-Jaccard shingle
# universe: a shingle appearing in more documents than this contributes
# no pairs. The inverted-index self-join is quadratic in per-shingle
# document frequency — one boilerplate trigram shared by 10M documents
# of a 100 TB corpus would alone emit ~5·10^13 pairs. Capping df bounds
# every shingle's pair fan-out at max_df^2/2 and drops exactly the
# shingles that carry no discriminative signal (the standard max-df cut
# every production near-dup pipeline applies; cf. the df ∈ [min_df,
# max_ratio·N] bound functions/curation.py::doc_cooccurrence_pmi uses
# for the same reason). At the test scales the cut never engages — the
# hottest shingle at sf0.1 sits in 25 of 5000 documents — so DuckDB
# oracles mirror the identical cut and stay value-equal.
DEFAULT_MAX_SHINGLE_DF = 1000


def capped_shingles(
    df: DataFrame,
    col_id: str,
    col_text: str,
    k: int = 3,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """word_shingles minus shingles whose document frequency exceeds
    ``max_df`` (see DEFAULT_MAX_SHINGLE_DF for why). ``max_df=None``
    disables the cut. A document ALL of whose shingles are hot drops
    out of the capped universe entirely — it has no discriminative
    content left, so downstream exact-Jaccard treats it as having no
    near-duplicates (it still participates in MinHash signatures,
    which are built per-document without df knowledge).

    The hot-shingle list is df-scale (only shingles ABOVE the cut) —
    tiny relative to the shingle table — so the anti-join broadcasts
    under AQE at every realistic scale. A named shared build
    (``capped_shingles``, keyed like word_shingles + max_df),
    persisted + filled eagerly for the same fan-out reason."""
    if max_df is None:
        return word_shingles(df, col_id, col_text, k)
    docs = df.select(col_id, col_text)

    def build():
        sh = word_shingles(docs, col_id, col_text, k)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        out = sh.join(hot, "shingle", "left_anti").persist()
        out.count()
        return out

    return shared_plan(
        "capped_shingles", docs, (col_id, col_text, k, max_df), build
    )


def _doc_pairs(
    side: DataFrame, on: list[str], carry: tuple[str, ...] = ()
) -> DataFrame:
    """The one doc-pair self-join: ``side`` rows (id, *on, *carry)
    equi-joined to themselves on ``on``, each unordered pair once
    (``id_a < id_b``), every ``carry`` column c as c_a / c_b. Only
    same-key pairs are generated, so the join scales with key
    occupancy, never with corpus²."""

    def half(s: str) -> DataFrame:
        return side.select(
            F.col("id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
            *on,
        )

    return half("a").join(half("b"), on).filter(F.col("id_a") < F.col("id_b"))


def _overlap(n: Column, na: Column, nb: Column) -> tuple[Column, Column]:
    """(containment, Jaccard) of two sets of sizes ``na`` and ``nb``
    sharing ``n`` members: n / min(na, nb) and n / (na + nb − n), one
    double division each, rounded to 6 places."""
    return (
        F.round(n / F.least(na, nb).cast("double"), 6),
        F.round(n / (na + nb - n).cast("double"), 6),
    )


def _overlap_scores(inter: DataFrame, sh: DataFrame, col_id: str) -> DataFrame:
    """Pair overlap (id_a, id_b, n_inter) + the per-doc shingle counts
    of ``sh`` → (id_a, id_b, n_inter, containment, jaccard)
    (:func:`_overlap`). The sizes are doc-scale; over a cached
    shingle table Catalyst has real size stats, so they broadcast when
    small and fall back to a shuffle join at corpus scale — no forced
    hint here."""
    sizes = sh.groupBy(col_id).agg(F.count(F.lit(1)).alias("n_sh"))
    na = sizes.select(F.col(col_id).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(col_id).alias("id_b"), F.col("n_sh").alias("n_b"))
    containment, jaccard = _overlap(
        F.col("n_inter"), F.col("n_a"), F.col("n_b")
    )
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            containment.alias("containment"),
            jaccard.alias("jaccard"),
        )
    )


def _pair_table(
    df: DataFrame,
    col_id: str,
    col_text: str,
    k: int,
    max_df: int | None,
) -> DataFrame:
    """Threshold-INDEPENDENT pair table: every pair sharing ≥1 capped
    shingle, with (n_inter, containment, jaccard). A named shared build
    (``jaccard_pairs``), persisted + filled before fan-out: the
    near-pair queries at several thresholds, containment, the
    component builder and the MinHash accuracy report all filter the
    SAME table, so the inverted-index join + pair count is paid once
    per session.

    The co-shingle count groups on a single packed BIGINT pair key
    (``id_a * 2^32 + id_b``) so the aggregate takes the
    single-primitive-key fast hash map path (same trick, same measured
    ~1.5x, as item_item_topk; ids must fit in 32 bits — ANSI mode
    overflows loudly otherwise). The shingle universe is df-capped
    (capped_shingles) so no single shingle key can blow the self-join
    up quadratically; |A| and |B| count capped shingles too, keeping
    the scores self-consistent over the capped universe."""
    docs = df.select(col_id, col_text)

    def build():
        id_type = dict(docs.dtypes)[col_id]
        sh = capped_shingles(docs, col_id, col_text, k, max_df)
        co = _doc_pairs(
            sh.select(F.col(col_id).alias("id"), "shingle"), ["shingle"]
        ).select(
            (F.col("id_a").cast("bigint") * F.lit(4294967296).cast("bigint")
             + F.col("id_b").cast("bigint")).alias("pk")
        )
        inter = (
            # ~1.27M co-shingle rows hold ~1.13M distinct pairs at sf0.1
            # — reduction factor ~1.1, so skip the map-side combine
            # (same measured rule as item_cooccurrence_pairs)
            co.repartition("pk")
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .select(
                F.expr("pk div 4294967296").cast(id_type).alias("id_a"),
                (F.col("pk") % F.lit(4294967296)).cast(id_type).alias("id_b"),
                "n_inter",
            )
        )
        out = _overlap_scores(inter, sh, col_id).persist()
        out.count()
        return out

    return shared_plan(
        "jaccard_pairs", docs, (col_id, col_text, k, max_df), build
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k: int = 3,
    threshold: float = 0.2,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """All document pairs with word-k-gram Jaccard ≥ threshold.

    Inverted-index plan: only pairs sharing at least one shingle are
    ever materialized (the same sparsity the personalization self-join
    exploits); |A|,|B| come from a broadcastable per-doc aggregate.
    Filters the shared threshold-independent pair table
    (:func:`_pair_table`).

    ``max_df`` caps per-shingle document frequency (capped_shingles):
    Jaccard is computed over the df ≤ max_df shingle universe, which
    bounds the inverted-index join's worst key at max_df^2/2 pairs."""
    return (
        _pair_table(df, col_id, col_text, k, max_df)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 8,
) -> DataFrame:
    """MinHash signature per document: permutation i is min over
    shingles of md5(i || '|' || shingle) — a string-min MinHash that
    DuckDB reproduces bit-for-bit. One groupBy computes all n mins."""
    sh = word_shingles(df, col_id, col_text, k_shingle)
    mins = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(col_id).agg(*mins)


def _band_stack(
    index: DataFrame, col_id: str, bands: int, id_alias: str, *keep
) -> DataFrame:
    """An :func:`lsh_index` stacked to one row per (doc, band):
    (id_alias, *keep, band_idx, band_sig) — the side of every LSH
    bucket join."""
    return index.select(
        F.col(col_id).alias(id_alias),
        *keep,
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(bands)])
        ).alias("band_idx", "band_sig"),
    )


def _agreement(a: str, b: str, n_hashes: int) -> Column:
    """Count of agreeing MinHash components between the ``a{i}`` and
    ``b{i}`` signature columns — n_hashes × the Jaccard estimate."""
    return sum(
        [
            F.when(F.col(f"{a}{i}") == F.col(f"{b}{i}"), 1).otherwise(0)
            for i in range(n_hashes)
        ],
        F.lit(0),
    )


def _minhash_candidates(
    df: DataFrame,
    col_id: str,
    col_text: str,
    k_shingle: int,
    n_hashes: int,
    bands: int,
) -> tuple[DataFrame, int]:
    """(candidate pairs (id_a, id_b), their count): every distinct pair
    sharing a band bucket. Two named shared builds: the band stack
    (``minhash_bands``, read by both bucket-join sides — filled once)
    and the candidates (``minhash_candidates``, whose count both fills
    the cache and sizes the verify join)."""
    docs = df.select(col_id, col_text)
    params = (col_id, col_text, k_shingle, n_hashes, bands)

    def stack():
        index = lsh_index(docs, col_id, col_text, k_shingle, n_hashes, bands)
        out = _band_stack(index, col_id, bands, "id").persist()
        out.count()
        return out

    def build():
        stacked = shared_plan("minhash_bands", docs, params, stack)
        cand = (
            _doc_pairs(stacked, ["band_idx", "band_sig"])
            .select("id_a", "id_b")
            .distinct()
            .persist()
        )
        return cand, cand.count()

    return shared_plan("minhash_candidates", docs, params, build)


def minhash_lsh_pairs(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    broadcast_pair_limit: int = 5_000_000,
) -> DataFrame:
    """MinHash+LSH near-dup: band the signature (r = n_hashes/bands
    rows per band), bucket-join on (band, band-hash), then verify
    candidates with exact Jaccard and keep pairs ≥ threshold.

    Only same-bucket pairs are generated — the candidate join is linear
    in bucket occupancy, never quadratic in corpus size.

    ``broadcast_pair_limit`` guards the candidate-set broadcast in the
    verify join: the candidate table is OUTPUT-sized (all near-dup
    pairs plus band collisions), so on a heavily-duplicated 100 TB
    corpus it can be arbitrarily large — at or below the limit
    (default 5M pairs ≈ ~80 MB serialized) it broadcasts so the verify
    is a map-side join against the shingle table; above it the verify
    falls back to a shuffle join (same guard class as
    pagerank_from_edges' broadcast_node_limit). The count that decides
    is the one that filled the shared candidate build, so it costs
    nothing extra. Verify ONLY the candidate pairs, instead of
    materializing every co-shingle pair in the corpus (LSH exists
    precisely to avoid that); verify-side Jaccard uses the df-capped
    shingle universe (capped_shingles), matching ngram_jaccard_pairs'
    semantics."""
    candidates, n_candidates = _minhash_candidates(
        df, col_id, col_text, k_shingle, n_hashes, bands
    )
    cand_side = (
        F.broadcast(candidates)
        if n_candidates <= broadcast_pair_limit
        else candidates
    )
    sh = capped_shingles(df, col_id, col_text, k_shingle, max_df)
    sh_a = sh.select(F.col(col_id).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(col_id).alias("id_b"), "shingle")
    inter = (
        sh_a.join(cand_side, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        _overlap_scores(inter, sh, col_id)
        .select("id_a", "id_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def min_label_components(
    edges: DataFrame,
    iters: int = 4,
    until_converged: bool = False,
    max_iters: int = 64,
    broadcast_node_limit: int = 2_000_000,
) -> DataFrame:
    """Connected components over a SYMMETRIC (src, dst) edge table by
    min-label propagation: every node starts labeled with its own id;
    each round every node adopts the minimum label in its (self-loop
    augmented) neighbourhood — ONE edge-scale join + aggregate per
    round. Returns (node, label) for every node with ≥1 edge.

    Convergence contract — propagation moves the min label ONE hop per
    round, so after ``iters`` rounds a node's label is the minimum id
    within graph distance ``iters`` of it:

    - fixed ``iters`` (default, SQL-mirrorable as chained CTEs): labels
      are exact for every component whose min-id node is within
      ``iters`` hops of all members. Near-dup clusters are dense
      near-cliques (diameter 2-3), so iters=4 is ample there; a path of
      length > iters is NOT fully merged — the property test pins this
      boundary on both sides.
    - ``until_converged=True``: keep propagating until a fixpoint (zero
      labels changed, checked with one label-scale count per round),
      capped at ``max_iters``. Deterministic (the fixpoint is unique:
      component min). Use this for arbitrary graph shapes; rounds =
      component diameter, each round edge-scale.

    (A label(label) pointer-jump shortcut was tried and measured: it
    only compresses when ids are monotone along paths — on shuffled id
    layouts a 30-chain still needed 29 rounds — so it is not worth a
    per-round node-scale join. Simulation in tests/ history, r3.)

    Iterative DataFrame algorithms need LINEAGE TRUNCATION, not just
    persist: the logical plan nests one join+agg level per round (with
    the whole upstream build embedded in ``edges``), and Catalyst
    re-analyzes the full tree on every action, so per-iteration wall
    time grows even at constant row count (measured 1.2s → 5.7s across
    4 rounds on a 47-node graph). ``localCheckpoint(eager=True)``
    materializes AND cuts the plan, so each round is O(edges) compute +
    O(1) planning; superseded label generations are GC-reclaimed,
    keeping storage one-generation bounded."""
    edges = edges.localCheckpoint(eager=True)
    # Right-size the loop input: per-round task overhead dominates on
    # tiny inherited partitions (see pagerank_from_edges — same rule).
    n_edges = edges.count()
    target = max(8, int(n_edges // 2_000_000) + 1)
    if target < edges.rdd.getNumPartitions():
        edges = edges.coalesce(target)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e2 = edges.unionByName(
        nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(
        eager=True
    )
    # labels is NODE-scale (nodes in ≥1 pair — a small fraction of the
    # corpus) and its cardinality is FIXED across rounds, so one count
    # up front decides every round's join strategy: at or below
    # broadcast_node_limit broadcast explicitly (checkpoint-backed
    # plans carry no size statistics, so Catalyst won't do it alone);
    # above it, shuffle-join — a billion-node near-dup graph must
    # never ship its label table to every executor (same guard as
    # pagerank_from_edges' broadcast_node_limit).
    do_broadcast = nodes.count() <= broadcast_node_limit
    rounds = max_iters if until_converged else iters
    for _ in range(rounds):
        lbl_side = F.broadcast(labels) if do_broadcast else labels
        stepped = (
            e2.join(lbl_side, e2.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
        if until_converged:
            changed = (
                stepped.join(
                    labels.withColumnRenamed("label", "old_label"), "node"
                )
                .filter(F.col("label") != F.col("old_label"))
                .count()
            )
            labels = stepped
            if changed == 0:
                break
        else:
            labels = stepped
    return labels


def neardup_components(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    threshold: float = 0.5,
    iters: int = 4,
) -> DataFrame:
    """Near-dup clusters via min-label propagation over the Jaccard
    pair graph (see :func:`min_label_components` for the convergence
    contract: fixed iters=4 is exact for clusters whose min-id doc is
    within 4 hops of every member — ample for dense near-dup clusters;
    arbitrary shapes can use until_converged there). Returns (doc_id,
    component_id, component_size) for every doc in at least one
    near-dup pair."""
    pairs = ngram_jaccard_pairs(df, col_id, col_text, threshold=threshold)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = min_label_components(edges, iters=iters)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("component_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias(col_id),
        F.col("label").alias("component_id"),
        "component_size",
    )


def canonical_docs(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    threshold: float = 0.5,
    iters: int = 4,
    comps: DataFrame | None = None,
) -> DataFrame:
    """Survivor selection — the step that turns near-dup DETECTION
    into an actual dedup decision: every document gets its near-dup
    component (itself if unclustered) and a canonical flag; the
    survivor per component is the HIGHEST-quality member (composite
    quality_score heuristic), ties to the lowest id. Filtering to
    ``is_canonical`` yields the deduplicated corpus while keeping the
    full decision table auditable (who was dropped, for whom).

    Scale shape: components ride the named shingle and pair builds;
    quality is a scan-side projection; the survivor argmax and member
    count are ONE component-partitioned window pass whose groups are
    near-dup-cluster-sized (bounded by the dedup graph, never the
    corpus).

    ``comps`` (optional) is a pre-built component table — the
    bradley_terry ``fit=`` handle pattern: pass the OUTPUT of
    ``neardup_components`` over the SAME (df, threshold, iters) to
    skip the internal min-label propagation (4 localCheckpointed
    rounds that per-call lineage never shares across queries). Only
    (col_id, component_id) is read from it; the caller owns the
    equality contract (pinned for the declared queries in
    tests/test_round12_ops.py)."""
    from pyspark.sql.window import Window

    from ..functions.text import quality_score

    if comps is None:
        comps = neardup_components(df, col_id, col_text, threshold, iters)
    q = quality_score(df, col_id, col_text)
    full = q.join(
        comps.select(col_id, "component_id"), col_id, "left"
    ).select(
        col_id,
        F.coalesce("component_id", F.col(col_id)).alias("component_id"),
        "quality",
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc(col_id)
    )
    wc = Window.partitionBy("component_id")
    return full.select(
        col_id,
        "component_id",
        "quality",
        (F.row_number().over(w) == 1).alias("is_canonical"),
        F.count(F.lit(1)).over(wc).cast("bigint").alias("n_members"),
    )


def simhash_signatures(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash over the token multiset: bit p of the signature is the
    sign of Σ_tokens (±1 from hex digit p of md5(token)). 32 bits (one
    per md5 hex digit) keeps the construction portable to the SQL
    oracle; 16 bits proved too coarse on same-vocabulary corpora (28%
    of random pairs within Hamming 3)."""
    t = f"split({col_text}, ' ')"
    # Single pass: hash each token ONCE into a uniform 32-bit integer
    # (first 8 hex digits of md5 via one conv()), then fold the hash
    # array into a per-bit set-count accumulator with integer bit tests.
    # Bit p of the signature is set iff a majority of tokens have bit p
    # set (2*S_p >= N, equivalent to sign(Σ ±1) >= 0).  This replaces
    # the r2 construction's 32 per-token substring/CASE string probes
    # with shift-and-mask integer ops (r2 verdict "what's wrong" #2:
    # 4.3 s solo at sf0.1 was interpreter-heavy string probing).
    hashes = (
        f"transform({t},"
        f" x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint))"
    )
    weights = ",".join(f"{2 ** p}L" for p in range(bits))
    set_counts = (
        f"aggregate({hashes}, array_repeat(0L, {bits}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        f"   (a, p) -> a + (shiftrightunsigned(h, p) & 1)))"
    )
    sig = (
        f"aggregate(zip_with({set_counts}, array({weights}),"
        f"   (c, w) -> IF(2 * c >= size({t}), w, 0L)),"
        f" 0L, (a, x) -> a + x)"
    )
    return df.select(F.col(col_id), F.expr(sig).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    max_hamming: int = 1,
    bits: int = 32,
) -> DataFrame:
    """Pairs whose SimHash signatures differ in ≤ ``max_hamming`` bits,
    found by BANDED equi-join (no corpus² nested loop): split each
    signature into ``max_hamming + 1`` disjoint bit bands — by
    pigeonhole, any pair within Hamming distance h agrees EXACTLY on at
    least one of h+1 bands, so an equi-join on (band index, band value)
    retrieves every qualifying pair with zero misses. Candidates are
    deduped (a pair can collide in several bands) and Hamming-verified
    with one xor+bit_count. Same trick as ``minhash_lsh_pairs``'
    band-bucket join; the join is shuffle-by-band-value, so it scales
    with band-bucket occupancy instead of corpus². The signatures are
    a named shared build (``simhash_signatures``): both join sides
    read it, so it is filled once."""
    docs = df.select(col_id, col_text)

    def build():
        out = simhash_signatures(docs, col_id, col_text, bits=bits).persist()
        out.count()
        return out

    sigs = shared_plan(
        "simhash_signatures", docs, (col_id, col_text, bits), build
    )
    n_bands = max_hamming + 1
    base = bits // n_bands
    band_cols, off = [], 0
    for idx in range(n_bands):
        sz = base + (1 if idx < bits % n_bands else 0)
        mask = (1 << sz) - 1
        band_cols.append(
            F.struct(
                F.lit(idx).alias("band_idx"),
                F.expr(f"shiftrightunsigned(simhash, {off}) & {mask}").alias(
                    "band_val"
                ),
            )
        )
        off += sz
    banded = sigs.select(
        F.col(col_id).alias("id"),
        F.col("simhash").alias("sh"),
        F.explode(F.array(*band_cols)).alias("b"),
    ).select("id", "sh", "b.band_idx", "b.band_val")
    candidates = (
        _doc_pairs(banded, ["band_idx", "band_val"], ("sh",))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        candidates.withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "sh_a", "sh_b", "hamming")
    )


def normalized_dedup(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """Exact dedup AFTER text normalization — the production form of
    exact_dedup (raw-byte hashing misses trivial variants): lowercase,
    strip punctuation, collapse whitespace, trim, THEN md5-group.
    Same one-shuffle plan as exact_dedup; the normalization is a
    scan-side expression chain (whole-stage codegen, no UDF)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(col_text)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return _hash_dedup(df, col_id, F.md5(norm), "norm_hash")


def minhash_jaccard_estimate(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 8,
    threshold: float = 0.1,
) -> DataFrame:
    """Sketch-accuracy report: for every true near-dup pair (exact
    word-shingle Jaccard ≥ threshold), the MinHash estimate — the
    fraction of agreeing signature components, an unbiased estimator
    of Jaccard — next to the exact value and the absolute error.

    This is the operator that justifies the sketch at 100 TB: the
    exact Jaccard needs the full inverted index, the estimate only the
    n_hashes-wide signature table (corpus-linear, broadcastable per
    band). Run it on a sample to pick n_hashes; ship the sketch."""
    pairs = ngram_jaccard_pairs(df, col_id, col_text, k_shingle, threshold)
    sigs = minhash_signatures(df, col_id, col_text, k_shingle, n_hashes)
    sa = sigs.select(
        F.col(col_id).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    sb = sigs.select(
        F.col(col_id).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    agree = _agreement("a", "b", n_hashes)
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(agree.cast("double") / n_hashes, 6).alias("mh_est"),
            F.round(
                F.abs(agree.cast("double") / n_hashes - F.col("jaccard")), 6
            ).alias("abs_err"),
        )
    )


def dup_ngram_fraction(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text", k: int = 3
) -> DataFrame:
    """Per-document fraction of word k-gram shingles that occur in at
    least one OTHER document — the corpus-level repetition signal
    (Gopher-style duplicate-n-gram filters) that per-document
    repetition_stats cannot see.

    Rides the same persisted shingle table as the Jaccard family (one
    tokenize+explode per session), adds one vocabulary-scale count and
    one shingle-scale join back: df_count(shingle) is the classic
    document-frequency aggregate, and a shingle is 'duplicated' when
    its doc count ≥ 2. Everything stays shingle-scale — no pair
    materialization at all, so this holds at corpus sizes where even
    the inverted-index pair join is too hot."""
    sh = word_shingles(df, col_id, col_text, k)
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    return (
        sh.join(dfreq, "shingle")
        .groupBy(col_id)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)
            ).cast("bigint").alias("n_dup"),
        )
        .select(
            col_id,
            "n_shingles",
            "n_dup",
            F.round(
                F.col("n_dup") / F.col("n_shingles").cast("double"), 6
            ).alias("dup_fraction"),
        )
    )


def source_overlap(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_group: str = "source",
    k: int = 3,
) -> DataFrame:
    """Cross-source duplication-leakage matrix: for every unordered
    pair of sources, the count of word k-gram shingles present in
    BOTH, with the overlap coefficient |A∩B| / min(|A|,|B|) and the
    Jaccard |A∩B| / |A∪B| — the corpus audit that tells you which
    ingest domains are mirrors/scrapes of each other before any
    per-document dedup runs.

    Scale shape: the doc-level shingle table (shared, persisted)
    collapses to a (source, shingle) DISTINCT projection first, so
    each shingle appears in at most n_sources rows and the shingle-
    keyed self-join emits ≤ C(n_sources, 2) pairs per shingle —
    linear in distinct shingles, never document-quadratic, immune to
    the hot-shingle blowup the doc-level inverted index has to guard
    against. Source sizes are an n_sources-row aggregate, broadcast
    back over the sources²-row result."""
    sh = word_shingles(df, col_id, col_text, k)
    gsh = (
        sh.join(df.select(col_id, col_group), col_id)
        .select(F.col(col_group).alias("g"), "shingle")
        .distinct()
    )
    sizes = gsh.groupBy("g").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = gsh.alias("a"), gsh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = sizes.select(F.col("g").alias("source_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("g").alias("source_b"), F.col("n_sh").alias("nb"))
    overlap, jaccard = _overlap(F.col("n_shared"), F.col("na"), F.col("nb"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            overlap.alias("overlap"),
            jaccard.alias("jaccard"),
        )
    )


def incremental_dedup(
    new_batch: DataFrame,
    seen: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_hash: str = "content_hash",
) -> DataFrame:
    """Classify an incoming batch against an accumulated corpus-hash
    table — the steady-state shape of dedup in a production ingest
    pipeline, where re-hashing the historical corpus per batch is off
    the table.

    Per row the verdict is one of:

    - ``'new'``          first sighting anywhere
    - ``'dup_in_batch'`` another row earlier in THIS batch (lower id)
                         has the same content
    - ``'dup_seen'``     the accumulated ``seen`` table already holds
                         the hash

    Cost model at 100 TB: only the BATCH is hashed and shuffled (one
    groupBy on content hash, group size = in-batch duplicate count);
    the history contributes a single hash-key join whose probe side is
    batch-scale, so a runtime bloom/dynamic filter prunes the history
    scan to candidate hashes, and with ``seen`` bucketed by hash the
    join is exchange-free. The survivors' (id, hash) pairs are exactly
    what gets appended back to ``seen`` for the next batch — the
    operator's output is also its own state update.

    ``seen`` needs only the hash column (anything else is pruned)."""
    h = new_batch.select(
        F.col(col_id), F.md5(F.col(col_text)).alias(col_hash)
    )
    first = h.groupBy(col_hash).agg(F.min(col_id).alias("__first_id"))
    seen_h = seen.select(F.col(col_hash)).distinct().withColumn(
        "__seen", F.lit(1)
    )
    return (
        h.join(first, col_hash)
        .join(seen_h, col_hash, "left")
        .select(
            col_id,
            col_hash,
            F.when(F.col("__seen").isNotNull(), F.lit("dup_seen"))
            .when(F.col(col_id) != F.col("__first_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def record_linkage_pairs(
    df: DataFrame,
    col_id: str,
    col_name: str,
    block_cols: list[str],
    max_dist: int = 10,
) -> DataFrame:
    """Entity-resolution candidate pairs: blocked self-join + edit
    distance — the classic record-linkage plan (Fellegi-Sunter style
    blocking) for catalogs where near-identical entries differ by
    typos or word swaps.

    Pairs materialize ONLY within a block (equi-join on the blocking
    key + first name token), so the join is hash-partitioned by block
    and never quadratic in the table — quadratic only in the block,
    which is the knob the caller controls via ``block_cols``. The
    Levenshtein verify runs codegen'd JVM-side on the surviving pairs.
    Skewed blocks (one giant brand) are the standard hazard: AQE
    skew-join splits them, and a tighter blocking key is the real
    fix. Each unordered pair appears once (id_a < id_b)."""
    key = [F.col(c).cast("string") for c in block_cols] + [
        F.split(F.col(col_name), " ").getItem(0)
    ]
    side = df.select(
        F.col(col_id).alias("id"),
        F.col(col_name).alias("name"),
        F.concat_ws("|", *key).alias("block"),
    )
    return (
        _doc_pairs(side, ["block"], ("name",))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).alias(
                "edit_dist"
            ),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def lsh_index(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """The persistent STATE of incremental near-dup: one row per
    document carrying its MinHash signature (mh0..mhN) and banded
    bucket keys (band0..bandB). Append each accepted batch's rows and
    the index stays ready for the next batch — the historical corpus
    is never re-shingled."""
    rows = n_hashes // bands
    sigs = minhash_signatures(df, col_id, col_text, k_shingle, n_hashes)
    band_cols = [
        F.md5(
            F.concat(*[F.col(f"mh{b * rows + r}") for r in range(rows)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return sigs.select(F.col(col_id), *[F.col(f"mh{i}") for i in range(n_hashes)], *band_cols)


def incremental_neardup(
    batch: DataFrame,
    index: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    min_est: float = 0.5,
) -> DataFrame:
    """Classify an incoming batch against an accumulated
    :func:`lsh_index` — the steady-state shape of NEAR-dup detection
    in a production ingest pipeline (the fuzzy twin of
    ``incremental_dedup``'s exact-hash path). Per batch document:

    - ``'near_dup'`` + the best-matching indexed doc (highest MinHash
      agreement, ties to lowest id) when any same-bucket candidate's
      signature agreement ≥ ``min_est``
    - ``'new'`` otherwise

    Cost model at 100 TB: only the BATCH is shingled and hashed; the
    index contributes one bucket equi-join whose probe side is
    batch-scale (runtime bloom filter prunes the index scan, same rule
    as incremental_dedup) and verification reads SIGNATURES only —
    the historical corpus text is never touched. The agreement
    estimate matches/n is exact rational arithmetic, engine-portable.
    Candidate fan-out is bounded by bucket occupancy, and the
    best-match window partitions by batch doc (bounded groups)."""
    from pyspark.sql.window import Window

    def stack(index: DataFrame, side: str) -> DataFrame:
        return _band_stack(
            index, col_id, bands, f"{side}id",
            *[F.col(f"mh{i}").alias(f"{side}_mh{i}") for i in range(n_hashes)],
        )

    bsig = lsh_index(batch, col_id, col_text, k_shingle, n_hashes, bands)
    bstack, istack = stack(bsig, "b"), stack(index, "s")
    agree = _agreement("b_mh", "s_mh", n_hashes)
    cand = (
        bstack.join(istack, ["band_idx", "band_sig"])
        .select(
            "bid",
            "sid",
            (agree / F.lit(float(n_hashes))).alias("est_jaccard"),
        )
        .distinct()
        .filter(F.col("est_jaccard") >= min_est)
    )
    w = Window.partitionBy("bid").orderBy(
        F.desc("est_jaccard"), F.asc("sid")
    )
    best = (
        cand.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            F.col("bid"),
            F.col("sid").alias("match_id"),
            F.round("est_jaccard", 6).alias("est_jaccard"),
        )
    )
    return (
        batch.select(F.col(col_id))
        .join(best, batch[col_id] == best.bid, "left")
        .select(
            col_id,
            F.when(F.col("match_id").isNotNull(), "near_dup")
            .otherwise("new")
            .alias("status"),
            "match_id",
            "est_jaccard",
        )
    )


def duplicated_spans(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k: int = 3,
    min_run: int = 2,
) -> DataFrame:
    """Span-level duplication extraction — the actionable form of the
    corpus-repetition signal: for each document, the maximal runs of
    consecutive word-``k``-gram shingle positions whose shingle occurs
    in at least one OTHER document, reported as token spans
    [start_tok, end_tok]. This is what a span-removal rewriter (the
    exact-substring dedup of Lee et al. 2022, at shingle granularity)
    consumes, where dup_ngram_fraction only scores.

    Plan: positions ride the shingle construction (posexplode), the
    document-frequency aggregate is the same vocabulary-scale table
    the Jaccard family uses, and run assembly is the gaps-and-islands
    pattern (pos − row_number) inside per-document windows — groups
    bounded by document length, never corpus-wide."""
    from pyspark.sql.window import Window

    sh_pos = _gram_rows(df, col_id, col_text, k, pos=True)
    # distinct-doc frequency per shingle (word_shingles is already
    # doc-distinct, so its groupBy counts documents)
    dfreq = (
        word_shingles(df, col_id, col_text, k)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
    )
    dup_pos = (
        sh_pos.join(dfreq, "shingle")
        .filter(F.col("n_docs_with") >= 2)
        .select(col_id, "pos")
    )
    w = Window.partitionBy(col_id).orderBy("pos")
    runs = (
        dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy(col_id, "grp")
        .agg(
            F.min("pos").cast("bigint").alias("start_tok"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("end_tok"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_shingles"),
        )
        .filter(F.col("n_dup_shingles") >= min_run)
        .select(col_id, "start_tok", "end_tok", "n_dup_shingles")
    )
    return runs


def containment_pairs(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-SUPERSET detection: document pairs where the smaller
    document's shingle set is largely CONTAINED in the larger's —
    containment = |A ∩ B| / min(|A|, |B|) ≥ threshold. Symmetric
    Jaccard misses these (a paragraph quoted inside a much longer doc
    scores low Jaccard but containment ~1), which is why
    exact-substring dedup pipelines (Lee et al. 2022) track
    containment separately from resemblance.

    Reads the same shared pair table as ngram_jaccard_pairs (one
    inverted index over the df-capped shingle universe, worst key
    bounded at max_df²/2 pairs); only the filter differs. Output:
    (id_a, id_b, n_inter, containment, jaccard) for pairs over
    threshold — jaccard rides along so consumers can see both
    signals."""
    return (
        _pair_table(df, col_id, col_text, k, max_df)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_inter", "containment", "jaccard")
    )


def prefix_dedup(
    df: DataFrame,
    k_tokens: int = 4,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_source: str = "source",
    limit: int = 50,
) -> DataFrame:
    """Boilerplate/template detection by shared document PREFIX: docs
    whose first ``k_tokens`` whitespace tokens are identical form a
    group — the cheap headline filter (mirrored boilerplate, scraped
    templates, licence headers) that whole-document hashing
    (``dedup_exact``) and span mining (``duplicated_spans``) both miss
    when bodies diverge after a common opening.

    Output: one row per duplicated-prefix group (n_docs ≥ 2):
    md5 ``prefix_hash``, ``n_docs``, ``keeper`` (min doc id — the
    canonical survivor), ``n_sources`` (distinct origins, the
    cross-site-boilerplate signal), ranked by group size then keeper.

    Scale shape: ONE groupBy on the prefix hash (never the raw prefix
    string — constant 32-byte keys), global top-k via orderBy+limit.
    No joins, no pair materialization — group count is bounded by the
    corpus, and a hot template key is one reducer's count, not a
    quadratic blow-up (nothing ever pairs group members)."""
    toks = F.split(F.col(col_text), " ")
    prefix = F.concat_ws(
        " ", F.slice(toks, 1, k_tokens)
    )
    from .ranking import ranked_topk

    g = (
        df.select(
            F.md5(prefix).alias("prefix_hash"),
            F.col(col_id).alias("id"),
            F.col(col_source).alias("src"),
        )
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("id").alias("keeper"),
            F.countDistinct("src").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return ranked_topk(g, [F.desc("n_docs"), F.asc("keeper")], limit)


def ngram_novelty_by_source(
    df: DataFrame,
    k: int = 3,
    col_id: str = "doc_id",
    col_text: str = "text",
    col_source: str = "source",
) -> DataFrame:
    """Per-source n-gram novelty: for each document, the fraction of
    its word ``k``-gram shingles that the document INTRODUCES to the
    corpus (no lower-id document contains them), averaged per source —
    the ingest-curation signal for ranking feeds by how much genuinely
    new text they contribute (the inverse of ``dup_ngram_fraction``'s
    repetition view, attributed by origin and with first-seen credit).

    A shingle's introducer is min(doc_id) over the docs containing it;
    doc order stands in for arrival order (the incremental ingest
    pipeline supplies true arrival ids). Per-doc fractions are
    pre-rounded to DECIMAL(18,9) and averaged exactly, so the 6-decimal
    per-source means are partial-aggregation-order independent.

    Scale shape: rides the session-shared shingle table; one
    vocabulary-scale min aggregate, one shingle-scale join back, one
    doc-scale and one source-scale aggregate — no pair
    materialization, the same everything-stays-shingle-scale contract
    as dup_ngram_fraction."""
    sh = word_shingles(df, col_id, col_text, k)
    first_seen = sh.groupBy("shingle").agg(
        F.min(col_id).alias("first_doc")
    )
    per_doc = (
        sh.join(first_seen, "shingle")
        .groupBy(col_id)
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col(col_id), 1).otherwise(0)
            ).alias("n_new"),
        )
        .select(
            col_id,
            F.expr(
                "CAST(round(n_new / CAST(n_sh AS DOUBLE), 9)"
                " AS DECIMAL(18,9))"
            ).alias("novelty_dec"),
        )
    )
    src = df.select(F.col(col_id), F.col(col_source).alias("source"))
    return (
        per_doc.join(src, col_id)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            # exact DECIMAL sum, ONE double division (identical on any
            # engine) — never a decimal-typed avg, whose result scale
            # differs between Spark and DuckDB
            F.round(
                F.sum("novelty_dec").cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_novelty"),
        )
        .orderBy("source")
    )


def lsh_parameter_plan(
    spark,
    bands=(4, 8, 16, 32),
    rows_per_band=(2, 4, 8),
) -> DataFrame:
    """MinHash-LSH banding planner: for each (bands b, rows-per-band r)
    configuration, the approximate similarity threshold (1/b)^(1/r)
    where the S-curve crosses ½, and the capture probability
    1 − (1 − s^r)^b at four representative Jaccard levels — the table
    an engineer reads to pick minhash_lsh_pairs' parameters for a
    target near-dup threshold BEFORE burning a corpus-scale run.

    Pure closed-form math over a bands × rows grid (no input tables;
    constant rows at any scale). Transcendental powers are pre-rounded
    to 9 decimals before the 6-decimal output — the standard
    cross-engine drift guard."""
    grid = spark.createDataFrame(
        [(b, r) for b in bands for r in rows_per_band],
        "bands INT, rows_per_band INT",
    )

    def p_at(s: float):
        return F.round(
            F.round(
                1.0
                - F.pow(
                    1.0 - F.pow(F.lit(s), F.col("rows_per_band")),
                    F.col("bands"),
                ),
                9,
            ),
            6,
        )

    return grid.select(
        "bands",
        "rows_per_band",
        F.round(
            F.round(
                F.pow(
                    1.0 / F.col("bands"),
                    1.0 / F.col("rows_per_band"),
                ),
                9,
            ),
            6,
        ).alias("approx_threshold"),
        p_at(0.5).alias("p_at_s50"),
        p_at(0.7).alias("p_at_s70"),
        p_at(0.8).alias("p_at_s80"),
        p_at(0.9).alias("p_at_s90"),
    ).orderBy("bands", "rows_per_band")


def ngram_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    eval_col_id: str = "doc_id",
    eval_col_text: str = "text",
    k: int = 13,
    broadcast_eval_limit: int = 5_000_000,
    normalize: bool = False,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus eval decontamination: flag every TRAIN document
    that shares at least one word k-gram with the EVAL corpus — the
    GPT-3/PaLM-style 13-gram collision scan every LLM training
    pipeline runs so benchmark answers don't leak into the training
    set (Brown et al. 2020 appendix C; the within-corpus twins are
    split_leakage_audit for exact-hash and dup_ngram_fraction for
    repetition). ``normalize=True`` applies the paper's
    normalization before shingling — lowercase, punctuation stripped
    to spaces ([^a-z0-9] → ' ') — so 'The Answer!' and 'the answer'
    collide; default off because the raw-token scan is what the
    declared oracle pins (reported collisions are then verbatim
    substrings, which auditors prefer). Output: one row per CONTAMINATED train document —
    (train id, n_collisions = distinct colliding shingles,
    n_eval_docs = distinct eval documents hit, sample_shingle = the
    lexicographically smallest collision as an audit witness). Clean
    documents emit nothing; callers drop contamination with one
    anti-join of the train table against this output.

    Short eval documents follow GPT-3's min(k, len) rule in BOTH
    directions: an eval doc with fewer than k words contributes its
    whole text as one partial shingle, AND the train side emits full
    n-grams at each distinct short-eval length so a sub-k-word
    benchmark answer QUOTED INSIDE a long training page still
    collides (the distinct short lengths — at most k−1 values — are
    probed from the benchmark-sized eval side before the train scan
    and compiled into the same single-pass gram emitter).
    Zero-token documents are excluded on both sides: without the
    filter a whitespace-only train doc would collide with any
    whitespace-only eval doc through the empty partial shingle.

    Tokenization is the WHITESPACE-CLASS split (empty tokens
    dropped), not the single-space split the within-corpus shingle
    family pins: a line-wrapped or double-spaced copy of a
    single-spaced benchmark answer must still collide — formatting
    noise across corpora is exactly what an exact-token scan would
    otherwise hide behind (the same defect class ADVICE r7 flagged in
    gopher_quality_flags; the DuckDB oracle mirrors the class split).

    Scale: the eval side is benchmark-sized (thousands of documents
    against a 100 TB train corpus); its distinct shingles BROADCAST
    under the house size guard, and past ``broadcast_eval_limit``
    rows the join falls back to a plain shuffle hash join rather
    than OOMing the executors. Nothing is persisted by default —
    the guard count and short-length probe re-derive the cheap eval
    stream instead of leaking a cached table into the session per
    call; a session sweeping many benchmarks passes
    ``eval_shingles=build_eval_shingles(...)`` to both grains and
    owns that one cache (unpersist when done). The train side
    streams SHUFFLE-FREE: raw un-deduplicated gram rows
    (_gram_rows with the short-eval levels — never a materialized or even
    set-deduplicated corpus-scale table; the per-doc distinct would
    cost a token-scale exchange the final countDistinct makes
    redundant) flow scan → explode → broadcast-join, and only
    COLLISION-scale rows reach the one doc-grain aggregate shuffle.
    Counts are exact integers; the sample witness is a
    deterministic min."""
    hits = _decontamination_hits(
        train_df, eval_df, col_id, col_text, eval_col_id,
        eval_col_text, k, broadcast_eval_limit, normalize,
        eval_shingles,
    )
    return hits.groupBy(F.col(col_id)).agg(
        F.countDistinct("shingle").cast("bigint").alias("n_collisions"),
        F.countDistinct("__eval_id").cast("bigint").alias("n_eval_docs"),
        F.min("shingle").alias("sample_shingle"),
    )


def build_eval_shingles(
    eval_df: DataFrame,
    eval_col_id: str = "doc_id",
    eval_col_text: str = "text",
    k: int = 13,
    normalize: bool = False,
) -> DataFrame:
    """Persisted distinct eval-corpus shingle rows
    ``(eval_col_id, shingle)`` for the decontamination pair —
    benchmark-sized, whitespace-class tokenized, zero-token docs
    dropped, eval docs shorter than ``k`` contributing their
    whole-doc partial shingle (the GPT-3 min(k, len) rule's eval
    side). Pass the result to BOTH ``ngram_decontaminate`` and
    ``eval_contamination_report`` via their ``eval_shingles``
    parameter so a session sweeping many benchmarks fills the
    (benchmark-sized) table once. THE CALLER OWNS THE CACHE: call
    ``.unpersist()`` when done — the default (no injection) path
    builds an unpersisted stream per call and leaks nothing."""
    if normalize:
        eval_df = _decontamination_normalize(
            eval_df, eval_col_id, eval_col_text
        )
    out = (
        _gram_rows(
            eval_df, eval_col_id, eval_col_text, k,
            whitespace=True, skip_empty=True,
        )
        .distinct()
        .select(
            F.col(eval_col_id),
            # the (k, normalize) stamp rides the SCHEMA (no extra
            # column, no extra job): the consuming grains refuse a
            # mismatched injection instead of silently reporting a
            # clean corpus through a join that can never collide
            F.col("shingle").alias(
                "shingle",
                metadata={
                    "decontam_k": int(k),
                    "decontam_normalize": bool(normalize),
                },
            ),
        )
        .persist()
    )
    out.count()
    return out


def _decontamination_normalize(
    d: DataFrame, cid: str, ctext: str
) -> DataFrame:
    """GPT-3-style normalization: lowercase, punctuation to spaces."""
    return d.select(
        F.col(cid),
        F.regexp_replace(
            F.lower(F.col(ctext)), "[^a-z0-9]", " "
        ).alias(ctext),
    )


def _decontamination_hits(
    train_df: DataFrame,
    eval_df: DataFrame,
    col_id: str,
    col_text: str,
    eval_col_id: str,
    eval_col_text: str,
    k: int,
    broadcast_eval_limit: int,
    normalize: bool,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """(train id, __eval_id, shingle) collision rows — the shared
    join behind ngram_decontaminate (train-grain report) and
    eval_contamination_report (eval-grain report). Plan shape is
    documented on ngram_decontaminate. Nothing is persisted here:
    the eval side is benchmark-sized, so the combined guard/probe
    job and the join each re-derive it from a cheap scan rather
    than leaking a cached table into the session per call (pass
    ``eval_shingles`` from build_eval_shingles to share one
    persisted fill across both grains — the caller unpersists; a
    stamped-mismatched injection raises instead of silently
    reporting a clean corpus)."""
    if eval_shingles is not None:
        meta = (
            eval_shingles.schema["shingle"].metadata
            if "shingle" in eval_shingles.columns
            else None
        ) or {}
        if "decontam_k" in meta and (
            int(meta["decontam_k"]) != int(k)
            or bool(meta.get("decontam_normalize", False))
            != bool(normalize)
        ):
            raise ValueError(
                "eval_shingles was built with k="
                f"{meta['decontam_k']}, normalize="
                f"{meta.get('decontam_normalize', False)} but this "
                f"call uses k={k}, normalize={normalize} — the train "
                "side would emit grams the injected shingles can "
                "never collide with, silently reporting a clean "
                "corpus. Rebuild with build_eval_shingles(..., k="
                f"{k}, normalize={normalize})."
            )
        ev = eval_shingles.select(
            F.col(eval_col_id), F.col("shingle")
        )
    else:
        if normalize:
            eval_df = _decontamination_normalize(
                eval_df, eval_col_id, eval_col_text
            )
        ev = _gram_rows(
            eval_df, eval_col_id, eval_col_text, k,
            whitespace=True, skip_empty=True,
        ).distinct()
    if normalize:
        train_df = _decontamination_normalize(
            train_df, col_id, col_text
        )
    # ONE benchmark-scale job yields the guard count (sum of group
    # counts), the short-eval length probe (keys < k), and — for
    # injected shingles without the build_eval_shingles metadata
    # stamp — a length sanity check (the eval corpus is thousands of
    # docs against a 100 TB train side, so re-deriving the stream is
    # noise; a persisted fill is only worth sharing across grains,
    # which is what build_eval_shingles is for)
    len_counts = (
        ev.select(F.size(F.split("shingle", " ")).alias("__n"))
        .groupBy("__n")
        .count()
        .collect()
    )
    ev_rows = sum(r["count"] for r in len_counts)
    short_ns = [r["__n"] for r in len_counts if r["__n"] < k]
    if eval_shingles is not None:
        over = [r["__n"] for r in len_counts if r["__n"] > k]
        if over:
            raise ValueError(
                f"eval_shingles carries {max(over)}-token shingles "
                f"but this call uses k={k} — they were built with a "
                "larger k and can never collide with the train "
                f"side's grams. Rebuild with build_eval_shingles(..., "
                f"k={k})."
            )
    ev = ev.select(F.col(eval_col_id).alias("__eval_id"), "shingle")
    # raw (un-deduplicated) train grams at k and at each short eval
    # length: shuffle-free up to the collision join
    tr = _gram_rows(
        train_df, col_id, col_text, k,
        whitespace=True, skip_empty=True, short_ns=short_ns,
    )
    ev_side = F.broadcast(ev) if ev_rows <= broadcast_eval_limit else ev
    return tr.join(ev_side, "shingle")


def eval_contamination_report(
    train_df: DataFrame,
    eval_df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    eval_col_id: str = "doc_id",
    eval_col_text: str = "text",
    k: int = 13,
    broadcast_eval_limit: int = 5_000_000,
    normalize: bool = False,
    eval_shingles: DataFrame | None = None,
) -> DataFrame:
    """The eval-grain flip side of ngram_decontaminate: one row per
    BURNED eval document — (eval id, n_collisions = distinct leaked
    shingles, n_train_docs = distinct train documents carrying them,
    sample_shingle = deterministic min witness). This is the report a
    benchmark owner reads ("which eval items leaked into training and
    how widely?") while ngram_decontaminate is the one the data
    curator acts on; both ride the IDENTICAL collision join
    (_decontamination_hits — same tokenization, same min(k, len)
    short-eval rule, same size-guarded broadcast, same shuffle-free
    train side). A session computing both grains passes the same
    ``eval_shingles=build_eval_shingles(...)`` table to share one
    benchmark-sized cache fill (caller unpersists); the default path
    persists nothing."""
    hits = _decontamination_hits(
        train_df, eval_df, col_id, col_text, eval_col_id,
        eval_col_text, k, broadcast_eval_limit, normalize,
        eval_shingles,
    )
    return hits.groupBy(F.col("__eval_id").alias("eval_id")).agg(
        F.countDistinct("shingle").cast("bigint").alias("n_collisions"),
        F.countDistinct(col_id).cast("bigint").alias("n_train_docs"),
        F.min("shingle").alias("sample_shingle"),
    )


def _line_rows(
    df: DataFrame,
    col_id: str,
    col_text: str,
    binary_key: bool,
) -> DataFrame:
    """Line-grain rows ``(col_id, pos, line, __key)`` shared by the
    line-dedup family: split on newline (NULL text reads as empty
    text — split(NULL) would explode to ZERO rows and silently drop
    the document, breaking the one-row-per-doc contract), CCNet-style
    normalization (lowercase, digits stripped, [ \\t] runs collapsed,
    space-trimmed), ``__key`` = md5 of the normalization (16-byte
    binary for in-query exchanges, 32-char hex for keys that land in
    a persisted state table), NULL key for empty normalizations
    (blank/whitespace lines never participate in dedup)."""
    lines = df.select(
        F.col(col_id),
        F.posexplode(
            F.split(F.coalesce(F.col(col_text), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("line")), "[0-9]", ""),
            "[ \\t]+",
            " ",
        )
    )
    key = F.md5(norm)
    if binary_key:
        key = F.unhex(key)
    return lines.select(
        F.col(col_id),
        "pos",
        "line",
        F.when(norm != "", key).alias("__key"),
    )


def line_dedup(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    min_df: int = 2,
    mode: str = "keep_first",
) -> DataFrame:
    """Cross-document LINE-grain deduplication with document rewrite —
    the CCNet / RefinedWeb curation staple the doc-grain family
    (exact_dedup, minhash) and the within-doc measures
    (gopher_quality_flags' dup-line fractions) both miss: navigation
    chrome, cookie banners, and share buttons repeat VERBATIM across
    millions of pages that are otherwise distinct documents, and the
    fix is to drop the duplicated LINES and keep the pages.

    One row per input document — including NULL-text documents,
    which read as empty text (one empty line, kept): ``(col_id,
    clean_text, n_lines, n_lines_kept, frac_lines_dropped)`` where
    clean_text is the surviving lines re-joined by ``\\n`` in
    original order ('' when nothing survives). A line participates in dedup under a
    CCNet-style normalization (lowercase, digits stripped,
    whitespace runs collapsed, trimmed — "Page 1 of 20" and
    "page 2 of 20" are the same banner); lines whose normalization
    is empty are always kept (blank separators are structure, not
    boilerplate). A normalized line occurring in >= ``min_df``
    DISTINCT documents is duplicated: ``mode='keep_first'`` (CCNet's
    global paragraph dedup) keeps exactly the one occurrence with
    the smallest (doc id, position) and drops every other;
    ``mode='drop_all'`` (RefinedWeb-style boilerplate removal) drops
    every occurrence. Within-ONE-doc repeats never trip the gate
    (distinct-doc counting) — that axis belongs to the Gopher gate.

    Plan (scale: corpus line count L, line vocabulary V): one
    scan-side posexplode to line grain; ONE (md5-key) aggregate for
    the distinct-doc count AND the first occurrence — min over
    struct(id, pos), a partial-aggregable min, NOT a per-key window,
    so a banner line occurring in billions of documents combines
    map-side instead of single-tasking one executor; one L-scale
    join back on the 16-byte key (the stats side is V-scale —
    broadcastable for real vocabularies, left to AQE); one doc-grain
    rebuild aggregate (collect_list bounded by lines-per-document,
    array_sort by position — never a corpus-wide sort). Shuffles:
    stats agg + join + rebuild = 3, all on linear grains.
    """
    if mode not in ("keep_first", "drop_all"):
        raise ValueError(
            f"mode must be 'keep_first' or 'drop_all', got {mode!r}"
        )
    # unhex(md5): the key that crosses the wire twice (stats agg
    # + join-back) is 16 BINARY bytes, not the 32-char hex string
    keyed = _line_rows(df, col_id, col_text, binary_key=True)
    stats = (
        keyed.filter(F.col("__key").isNotNull())
        .groupBy("__key")
        .agg(
            F.countDistinct(col_id).alias("__n_docs"),
            F.min(F.struct(F.col(col_id), F.col("pos"))).alias(
                "__first"
            ),
        )
    )
    joined = keyed.join(stats, "__key", "left")
    keep = F.col("__key").isNull() | (F.col("__n_docs") < min_df)
    if mode == "keep_first":
        keep = keep | (
            (F.col(col_id) == F.col(f"__first.{col_id}"))
            & (F.col("pos") == F.col("__first.pos"))
        )
    return _rebuild_docs(joined, keep, col_id)


def _rebuild_docs(joined, keep, col_id: str) -> DataFrame:
    """Doc-grain rewrite shared by the line-dedup family: surviving
    lines re-joined by newline in original position order (bounded
    collect_list — lines-per-document, never corpus-wide), plus the
    line accounting columns."""
    return (
        joined.groupBy(col_id)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(keep.cast("int")).cast("bigint").alias(
                "n_lines_kept"
            ),
        )
        .select(
            col_id,
            "clean_text",
            "n_lines",
            "n_lines_kept",
            F.round(
                (F.col("n_lines") - F.col("n_lines_kept"))
                / F.col("n_lines").cast("double"),
                6,
            ).alias("frac_lines_dropped"),
        )
    )


def line_stats_table(
    df: DataFrame, col_id: str = "doc_id", col_text: str = "text"
) -> DataFrame:
    """The persistent STATE of incremental line dedup: one row per
    distinct normalized line — ``(line_key, n_docs)`` where line_key
    is the 32-char hex md5 of the normalization (hex, not binary:
    this table lands in parquet and gets read by later ingests) and
    n_docs the count of DISTINCT documents carrying it. Append-merge
    per accepted batch via ``merge_line_stats`` — documents arrive in
    exactly one batch, so distinct-doc counts ADD across batches and
    the historical corpus is never re-split. Line-vocabulary-sized."""
    return (
        _line_rows(df, col_id, col_text, binary_key=False)
        .filter(F.col("__key").isNotNull())
        .groupBy(F.col("__key").alias("line_key"))
        .agg(F.countDistinct(col_id).cast("bigint").alias("n_docs"))
    )


def merge_line_stats(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold one batch's ``line_stats_table`` into the accumulated
    state: union + sum on the 32-char hex line_key — a
    vocabulary-scale aggregate, the only state maintenance
    incremental line dedup needs."""
    return (
        a.unionByName(b)
        .groupBy("line_key")
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
    )


def incremental_line_dedup(
    new_batch: DataFrame,
    line_stats: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    min_df: int = 2,
) -> DataFrame:
    """Rewrite an incoming batch against the accumulated line-hash
    state — the steady-state shape of boilerplate removal in a
    production ingest pipeline, where re-splitting the historical
    corpus per batch is off the table (the incremental twin of
    ``line_dedup``, same family as incremental_dedup /
    incremental_neardup + lsh_index).

    Semantics are the STREAM-consistent keep_first: a line's
    duplication count is history ``n_docs`` + the batch's distinct-doc
    count, and when that total reaches ``min_df`` the only occurrence
    kept is the earliest one that can still be kept — the history's
    copy if the line was ever seen before (already shipped; history
    is immutable), else the batch's smallest (id, pos) occurrence.
    This equals batch ``line_dedup(mode='keep_first')`` over
    history ∪ batch restricted to batch documents whenever history
    precedes the batch in id order (the property tests pin that
    equivalence); ``drop_all`` has NO incremental form — a batch
    line duplicating a history line would require rewriting the
    already-shipped history copy, so it is deliberately absent here.

    Output: the ``line_dedup`` doc-grain schema over the batch.
    Cost model at 100 TB: only the BATCH is split and shuffled (one
    md5-key aggregate at batch-line scale); the state contributes one
    hash-key join whose probe side is batch-scale — with ``line_stats``
    bucketed by line_key the join is exchange-free, and a runtime
    bloom filter prunes the state scan to candidate keys. The caller
    appends ``line_stats_table(new_batch)`` via ``merge_line_stats``
    to roll the state forward."""
    keyed = _line_rows(new_batch, col_id, col_text, binary_key=False)
    batch_stats = (
        keyed.filter(F.col("__key").isNotNull())
        .groupBy("__key")
        .agg(
            F.countDistinct(col_id).alias("__bn"),
            F.min(F.struct(F.col(col_id), F.col("pos"))).alias(
                "__first"
            ),
        )
    )
    hist = line_stats.select(
        F.col("line_key").alias("__key"),
        F.col("n_docs").alias("__hn"),
    )
    joined = (
        keyed.join(batch_stats, "__key", "left")
        .join(hist, "__key", "left")
        .withColumn("__hn", F.coalesce(F.col("__hn"), F.lit(0)))
    )
    keep = (
        F.col("__key").isNull()
        | (F.col("__bn") + F.col("__hn") < min_df)
        | (
            (F.col("__hn") == 0)
            & (F.col(col_id) == F.col(f"__first.{col_id}"))
            & (F.col("pos") == F.col("__first.pos"))
        )
    )
    return _rebuild_docs(joined, keep, col_id)


def remove_duplicated_spans(
    df: DataFrame,
    col_id: str = "doc_id",
    col_text: str = "text",
    k: int = 3,
    min_run: int = 2,
) -> DataFrame:
    """Span-removal rewrite — the treatment step of exact-substring
    dedup (Lee et al. 2022 DELETE duplicated substrings from the
    corpus; :func:`duplicated_spans` is the detector, this is the
    consumer): every token inside any duplicated span, in every
    document carrying one, is removed and the document re-assembled
    in original token order (the drop-all convention, matching
    ``line_dedup(mode='drop_all')`` at line grain). Documents with
    no spans pass through unchanged; a fully-duplicated document
    becomes the empty string, which a downstream length filter
    kills explicitly.

    Plan: rides the detector's shuffles, then ONE doc-grain
    collect_list of span structs (span count is bounded by doc
    length / min_run) joined back to the scan; the rewrite itself is
    an array-local filter over token positions — `exists` against
    the per-doc span array, no per-token shuffle, no second corpus
    pass. Output: (id, clean_text, n_tokens, n_tokens_removed)."""
    spans = duplicated_spans(df, col_id, col_text, k, min_run)
    sp = spans.groupBy(col_id).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias(
            "__spans"
        )
    )
    kept = F.expr(
        """
filter(
  transform(split(text, ' '), (t, i) -> struct(t AS t, i + 1 AS p)),
  s -> __spans IS NULL OR NOT exists(
    __spans, x -> s.p >= x.start_tok AND s.p <= x.end_tok))
"""
    )
    return (
        df.select(F.col(col_id), F.col(col_text).alias("text"))
        .join(sp, col_id, "left")
        .select(
            col_id,
            kept.alias("__kept"),
            F.size(F.split(F.col("text"), " "))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .select(
            col_id,
            F.concat_ws(
                " ", F.expr("transform(__kept, s -> s.t)")
            ).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.size("__kept"))
            .cast("bigint")
            .alias("n_tokens_removed"),
        )
    )


def jaccard_threshold_sweep(
    pairs: DataFrame,
    thresholds: tuple[float, ...] = (
        0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9,
    ),
    col_a: str = "id_a",
    col_b: str = "id_b",
    col_sim: str = "jaccard",
) -> DataFrame:
    """Dedup threshold-sizing report over an exact pair table (the
    :func:`ngram_jaccard_pairs` output): for each candidate
    threshold, how many pairs survive and how many DISTINCT documents
    are implicated — the table an engineer reads to pick the near-dup
    cut BEFORE burning a corpus-scale dedup run (the exact-truth
    sibling of :func:`lsh_parameter_plan`, which sizes the
    approximate banding for the chosen threshold).

    Scale shape: the input is the already-declared pair table
    (output-scale, never the corpus); one threshold-explode over it
    (|thresholds| x pairs rows, all counting-only columns), one
    aggregate for pairs, one distinct-stack aggregate for docs.
    Every threshold must be <= the pair table's own cut or the row
    undercounts — callers pass the table's native floor first.

    Output: (threshold, n_pairs, n_docs), ordered by threshold."""
    th = F.array(*[F.lit(float(t)) for t in thresholds])
    hits = (
        pairs.select(col_a, col_b, col_sim)
        .select(
            F.explode(th).alias("threshold"),
            F.col(col_a).alias("a"),
            F.col(col_b).alias("b"),
            F.col(col_sim).alias("s"),
        )
        .filter(F.col("s") >= F.col("threshold"))
    )
    n_pairs = hits.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    docs = (
        hits.select("threshold", F.col("a").alias("doc"))
        .unionByName(hits.select("threshold", F.col("b").alias("doc")))
        .groupBy("threshold")
        .agg(F.count_distinct("doc").cast("bigint").alias("n_docs"))
    )
    return (
        n_pairs.join(docs, "threshold")
        .select(
            F.round("threshold", 6).alias("threshold"),
            "n_pairs",
            "n_docs",
        )
        .orderBy("threshold")
    )
