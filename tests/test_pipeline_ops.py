"""Invariant tests for the training-pipeline operators added in round 2:
sequence packing, bigram LM, vocabulary encoding, Gram matrix, and the
MinHash sketch-accuracy report. Each checks a mathematical property the
DuckDB oracle can't express (the oracle proves value equality; these
prove the SEMANTICS are right)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from recmetrics_pyspark_spark.functions.text import (
    bigram_lm,
    pack_sequences,
    vocab_encode,
)
from recmetrics_pyspark_spark.operators.dedup import minhash_jaccard_estimate
from recmetrics_pyspark_spark.operators.similarity import embedding_gram


def _docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(5 + i % 9)))
        for i in range(40)
    ]
    # plant an exact near-dup pair so the estimate query is non-empty
    rows.append((100, rows[0][1]))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pack_sequences_bins_respect_budget_and_order(spark):
    docs = _docs(spark)
    out = pack_sequences(docs, budget=16, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        cum = 0
        prev_bin = 0
        for r in rows:
            assert r["bin_id"] == cum // 16  # exclusive prefix sum
            cum += r["n_tokens"]
            assert r["cum_tokens"] == cum
            assert r["bin_id"] >= prev_bin  # bins monotone within shard
            prev_bin = r["bin_id"]


def test_bigram_lm_probabilities_conditionally_normalize(spark):
    docs = _docs(spark)
    # top_n large enough to keep every bigram -> P(.|w1) sums to 1
    rows = bigram_lm(docs, top_n=10_000).collect()
    by_w1: dict[str, float] = {}
    for r in rows:
        by_w1[r["w1"]] = by_w1.get(r["w1"], 0.0) + r["p_cond"]
        assert r["c1"] >= r["c12"] > 0
    for w1, total in by_w1.items():
        assert total == pytest.approx(1.0, abs=1e-4), w1
    # ranking is by count desc
    counts = [r["c12"] for r in sorted(rows, key=lambda r: r["rnk"])]
    assert counts == sorted(counts, reverse=True)


def _edge_docs(spark):
    """Tokenization edge cases: double, leading and trailing spaces,
    a one-token document, empty text and NULL text."""
    rows = [
        (1, "a b  c a b"),
        (2, " a b"),
        (3, "b a "),
        (4, "solo"),
        (5, ""),
        (6, None),
        (7, "a b c a"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_text_family_shares_one_bigram_definition(spark):
    """bigram_lm, corpus_entropy_rates and doc_perplexity count the
    same bigrams (adjacent pairs of the single-space split, empty
    tokens included) on edge-case text."""
    from collections import Counter

    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.functions.text import (
        corpus_entropy_rates,
        doc_perplexity,
    )

    docs = _edge_docs(spark)
    want = Counter(
        pair
        for _, t in docs.collect()
        if t is not None
        for pair in zip(t.split(" "), t.split(" ")[1:])
    )
    lm = bigram_lm(docs, top_n=10**6).collect()
    assert {(r.w1, r.w2): r.c12 for r in lm} == dict(want)
    assert len(lm) == corpus_entropy_rates(docs).first().n_bigrams
    n_scored = doc_perplexity(docs).agg(F.sum("n_bigrams")).first()[0]
    assert sum(r.c12 for r in lm) == n_scored == sum(want.values())


def test_text_scorers_leave_no_cache_manager_entries(spark):
    """The LM scorers persist nothing: after a cleared cache, building
    and running each of them leaves the CacheManager empty."""
    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.functions.curation import (
        ccnet_perplexity_buckets,
        dsir_importance,
        nb_quality_classifier,
        nb_score,
        nb_train,
    )
    from recmetrics_pyspark_spark.functions.text import (
        doc_perplexity,
        excess_surprisal,
    )

    spark.catalog.clearCache()
    docs = _edge_docs(spark).select(
        "doc_id",
        "text",
        (F.col("doc_id") % 2 == 0).alias("y"),
        F.when(F.col("doc_id") < 4, "en").otherwise("de").alias("lang"),
    )
    for out in (
        doc_perplexity(docs),
        ccnet_perplexity_buckets(docs),
        nb_quality_classifier(docs, "y"),
        nb_score(nb_train(docs, "y"), docs),
        excess_surprisal(docs, docs),
        dsir_importance(docs),
    ):
        out.collect()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "a text scorer left cached plans"


def test_vocab_encode_ids_dense_and_frequency_ranked(spark):
    docs = _docs(spark)
    rows = sorted(vocab_encode(docs).collect(), key=lambda r: r["token_id"])
    ids = [r["token_id"] for r in rows]
    assert ids == list(range(1, len(rows) + 1))  # dense, 1-based
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    total = sum(freqs)
    n_tokens = sum(
        len(r["text"].split(" ")) for r in docs.select("text").collect()
    )
    assert total == n_tokens  # every token counted exactly once


def test_embedding_gram_matches_numpy(spark):
    rng = np.random.RandomState(7)
    mat = rng.rand(20, 6).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    rows = embedding_gram(df).collect()
    expect = mat.T @ mat
    assert len(rows) == 6 * 7 // 2  # upper triangle incl. diagonal
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        assert i <= j
        assert r["g"] == pytest.approx(round(expect[i, j], 6), abs=2e-6)


def test_minhash_estimate_exact_dup_scores_one(spark):
    docs = _docs(spark)
    rows = minhash_jaccard_estimate(docs, threshold=0.1).collect()
    planted = [r for r in rows if {r["id_a"], r["id_b"]} == {0, 100}]
    assert len(planted) == 1  # the planted exact dup pair is found
    r = planted[0]
    assert r["jaccard"] == 1.0 and r["mh_est"] == 1.0 and r["abs_err"] == 0.0
    for r in rows:
        assert 0.0 <= r["mh_est"] <= 1.0
        assert r["abs_err"] == pytest.approx(
            round(abs(r["mh_est"] - r["jaccard"]), 6), abs=1e-9
        )
        assert not math.isnan(r["jaccard"])


def test_pagerank_conserves_mass_and_favors_hubs(spark):
    from recmetrics_pyspark_spark.operators.graph import pagerank_from_edges

    # star graph 0-1,0-2,0-3 plus a 4-5 edge, symmetric
    und = [(0, 1), (0, 2), (0, 3), (4, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    rows = {r["node"]: r["pagerank"] for r in pagerank_from_edges(edges).collect()}
    # symmetric graph, no dangling nodes -> total mass conserved
    assert sum(rows.values()) == pytest.approx(1.0, abs=1e-4)
    # the hub outranks its leaves, leaves are symmetric
    assert rows[0] > rows[1] == rows[2] == rows[3]
    assert rows[4] == rows[5]


def test_pagerank_shuffle_fallback_matches_broadcast(spark):
    # broadcast_node_limit=0 forces the shuffle-join branch; both
    # physical strategies must produce identical ranks
    from recmetrics_pyspark_spark.operators.graph import pagerank_from_edges

    und = [(0, 1), (0, 2), (0, 3), (4, 5), (1, 2)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], ["src", "dst"]
    )
    bcast = {r["node"]: r["pagerank"] for r in pagerank_from_edges(edges).collect()}
    shuf = {
        r["node"]: r["pagerank"]
        for r in pagerank_from_edges(edges, broadcast_node_limit=0).collect()
    }
    assert bcast == shuf


def test_pagerank_asymmetric_contract(spark):
    import pytest as _pytest

    from recmetrics_pyspark_spark.operators.graph import pagerank_from_edges

    # node 3 has outbound only (no inbound) — violates the symmetric
    # contract and would silently vanish under the fast path
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (3, 0)], ["src", "dst"]
    )
    with _pytest.raises(ValueError, match="asymmetric"):
        pagerank_from_edges(edges).collect()
    # keep mode retains every node: the inbound-less node 3 is held at
    # the base score instead of disappearing
    rows = {
        r["node"]: r["pagerank"]
        for r in pagerank_from_edges(edges, on_asymmetric="keep").collect()
    }
    assert set(rows) == {0, 1, 3}
    assert rows[3] == _pytest.approx((1 - 0.85) / 3, abs=1e-6)
    # ignore mode reproduces the documented fast path: node 3 drops out
    rows_i = {
        r["node"]: r["pagerank"]
        for r in pagerank_from_edges(edges, on_asymmetric="ignore").collect()
    }
    assert set(rows_i) == {0, 1}
    # a dst-only (dangling) node also trips the check
    edges2 = spark.createDataFrame([(0, 1), (1, 0), (0, 2)], ["src", "dst"])
    with _pytest.raises(ValueError, match="asymmetric"):
        pagerank_from_edges(edges2).collect()


def test_association_rules_math(spark):
    from recmetrics_pyspark_spark.operators.recommend import (
        association_rules,
    )

    # 4 users; {1,2} together 3x, {1,3} together 2x -> known metrics
    rows = [
        (100, 1), (100, 2), (100, 3),
        (101, 1), (101, 2),
        (102, 1), (102, 2),
        (103, 1), (103, 3),
    ]
    df = spark.createDataFrame(rows, ["user", "item"])
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, min_common=2, top_k=10).collect()
    }
    # support(1,2) = 3/4; conf(2->1) = 3/3 = 1; lift = (3*4)/(4*3) = 1
    assert out[(2, 1)]["support"] == 0.75
    assert out[(2, 1)]["confidence"] == 1.0
    assert out[(2, 1)]["lift"] == 1.0
    # conf(3->1) = 2/2 = 1, lift(3->1) = 2*4/(2*4) = 1
    assert out[(3, 1)]["confidence"] == 1.0
    # conf(1->3) = 2/4 = 0.5
    assert out[(1, 3)]["confidence"] == 0.5


def test_baseline_predictor_beats_mean(spark):
    from recmetrics_pyspark_spark.operators.recommend import (
        baseline_predictor_rmse,
    )

    # strong user and item biases: the baseline must slash RMSE vs
    # predicting the global mean
    rows = []
    for u in range(8):
        for i in range(8):
            rows.append((u, i, 3.0 + (u % 4) - (i % 3)))
    df = spark.createDataFrame(rows, ["user", "item", "rating"])
    out = baseline_predictor_rmse(df).collect()[0]
    assert out["n_ratings"] == 64
    assert out["rmse"] < out["rmse_mean_only"] * 0.5
    assert out["mae"] <= out["rmse"]


def test_item_exposure_discount_math(spark):
    from recmetrics_pyspark_spark.operators.recommend import item_exposure

    # item 1 at rank 1 twice, item 2 at rank 3 once:
    # exposure(1) = 2/log2(2) = 2.0; exposure(2) = 1/log2(4) = 0.5
    recs = spark.createDataFrame(
        [(10, 1, 1), (11, 1, 1), (10, 2, 3)], ["user", "item", "rnk"]
    )
    rows = {r["item"]: r for r in item_exposure(recs).collect()}
    assert rows[1]["exposure"] == 2.0 and rows[1]["rnk"] == 1
    assert rows[2]["exposure"] == 0.5
    assert rows[1]["exposure_share"] == 0.8
    assert rows[2]["exposure_share"] == 0.2


def test_calibration_kl_zero_when_mix_matches(spark):
    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.operators.recommend import calibration_kl

    cats = spark.createDataFrame(
        [(i, "A" if i < 50 else "B") for i in range(100)],
        ["item", "category"],
    )
    # history: user consumes A and B equally; recs mirror the mix ->
    # KL tiny (only smoothing noise); skewed recs -> clearly larger
    hist = spark.createDataFrame(
        [(1, i) for i in range(0, 20)] + [(1, i) for i in range(50, 70)],
        ["user", "item"],
    )
    matched = spark.createDataFrame(
        [(1, 0), (1, 51)], ["user", "item"]
    ).withColumn("rnk", F.lit(1))
    skewed = spark.createDataFrame(
        [(1, 0), (1, 1)], ["user", "item"]
    ).withColumn("rnk", F.lit(1))
    kl_m = calibration_kl(hist, matched, cats).collect()[0]["mean_kl"]
    kl_s = calibration_kl(hist, skewed, cats).collect()[0]["mean_kl"]
    assert kl_m < 0.01
    assert kl_s > kl_m * 10


def test_serendipity_baseline_and_hit_logic(spark):
    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.operators.recommend import (
        serendipity_at_k,
    )

    # items 1,2 dominate popularity (baseline_k=2); user 1 is
    # recommended: item 1 (expected hit), item 50 (unexpected hit),
    # item 60 (unexpected miss), item 2 (expected miss)
    truth = spark.createDataFrame(
        [(u, 1) for u in range(10)] + [(u, 2) for u in range(5, 14)]
        + [(1, 50)],
        ["user", "item"],
    )
    recs = spark.createDataFrame(
        [(1, 1, 1), (1, 50, 2), (1, 60, 3), (1, 2, 4)],
        ["user", "item", "rnk"],
    )
    row = serendipity_at_k(
        recs, truth, k=4, baseline_k=2
    ).collect()[0]
    assert row["n_users"] == 1
    assert row["unexpectedness"] == 0.5   # 2 of 4 outside baseline
    assert row["serendipity"] == 0.25     # 1 unexpected hit / k=4


def test_mmr_rerank_diversifies_greedily(spark):
    from recmetrics_pyspark_spark.operators.recommend import mmr_rerank

    # user 1: items 10, 11 are near-duplicates (sim 0.9) with the two
    # best relevances; item 20 is dissimilar but third-best. Plain
    # ranking picks (10, 11); MMR must pick 10 then 20.
    cands = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 0.95), (1, 20, 0.6)],
        ["user_id", "item_id", "score"],
    )
    # canonical similarity table: each unordered pair once, ia < ib
    sims = spark.createDataFrame(
        [(10, 11, 0.9), (10, 20, 0.05), (11, 20, 0.05)],
        ["ia", "ib", "sim"],
    )
    rows = sorted(
        (r["step"], r["item_id"])
        for r in mmr_rerank(cands, sims, k=3, lam=0.5).collect()
    )
    # step1: 10 (best rel); step2: 11 scores .5*.95-.5*.9=0.025 vs
    # 20 at .5*.6-.5*.05=0.275 -> 20; step3: the remaining 11
    assert rows == [(1, 10), (2, 20), (3, 11)]


def test_mmr_rejects_unrepresentable_lambda(spark):
    import pytest as _pytest

    from recmetrics_pyspark_spark.operators.recommend import mmr_rerank

    cands = spark.createDataFrame(
        [(1, 10, 1.0)], ["user_id", "item_id", "score"]
    )
    sims = spark.createDataFrame([(10, 11, 0.5)], ["ia", "ib", "sim"])
    with _pytest.raises(ValueError):
        mmr_rerank(cands, sims, lam=0.333)


def test_source_overlap_hand_computed(spark):
    from recmetrics_pyspark_spark.operators.dedup import source_overlap

    # src0: shingles of "a b c d" = {a b c, b c d}
    # src1: doc2 "a b c e" -> {a b c, b c e}; doc3 "b c d x" ->
    #       {b c d, c d x} — source-level set {a b c, b c e, b c d, c d x}
    # shared = {a b c, b c d} -> 2; overlap = 2/min(2,4) = 1.0;
    # jaccard = 2/(2+4-2) = 0.5
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "src0"),
            (2, "a b c e", "src1"),
            (3, "b c d x", "src1"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = source_overlap(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_a"], r["source_b"]) == ("src0", "src1")
    assert r["n_shared"] == 2
    assert r["overlap"] == 1.0
    assert r["jaccard"] == 0.5


def test_sequence_examples_bounded_context(spark):
    from recmetrics_pyspark_spark.operators.recommend import (
        sequence_examples,
    )

    # one user, 5 interactions in time order; max_len=2 caps context
    timed = spark.createDataFrame(
        [(1, d, d, it) for d, it in
         [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]],
        ["user", "dt", "ok", "item"],
    )
    out = {
        r["pos"]: (r["context"], r["label"])
        for r in sequence_examples(timed, max_len=2).collect()
    }
    # pos 1 is dropped (no context); contexts carry at most 2 priors
    assert out == {
        2: ("10", 20),
        3: ("10>20", 30),
        4: ("20>30", 40),
        5: ("30>40", 50),
    }


def test_sequence_examples_single_interaction_user_emits_nothing(spark):
    from recmetrics_pyspark_spark.operators.recommend import (
        sequence_examples,
    )

    timed = spark.createDataFrame(
        [(7, 1, 1, 99)], ["user", "dt", "ok", "item"]
    )
    assert sequence_examples(timed).count() == 0


def test_adamic_adar_path_graph(spark):
    from recmetrics_pyspark_spark.operators.graph import adamic_adar_links

    # path 1-2-3: the only wedge pivots at 2 (deg 2), predicting the
    # missing link (1,3) with score 1/ln(2); existing edges excluded
    import math

    pairs = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 5.0)], ["ia", "ib", "sim"]
    )
    rows = adamic_adar_links(pairs, col_w="sim").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.item_a, r.item_b, r.rnk) == (1, 3, 1)
    assert abs(r.aa_score - round(1.0 / math.log(2.0), 6)) < 1e-9


def test_ips_offline_eval_hand_computed(spark):
    from recmetrics_pyspark_spark.operators.recommend import (
        ips_offline_eval,
    )

    # two logs, equal popularity (propensity .5), policy slate = {i1},
    # k=1: w(i1) = 1/(1*.5) = 2, w(i2) = 0
    # IPS = (2*2 + 0)/2 = 2.0 ; SNIPS = 4/2 = 2.0 ; match_rate = .5
    logs = spark.createDataFrame(
        [(1, 10, 2.0), (1, 20, 4.0)], ["user", "item", "rating"]
    )
    recs = spark.createDataFrame([(1, 10)], ["user", "item"])
    r = ips_offline_eval(logs, recs, k=1).collect()[0]
    assert r.n_logs == 2
    assert r.match_rate == 0.5
    assert r.ips_value == 2.0
    assert r.snips_value == 2.0


def test_ips_offline_eval_no_overlap_snips_null(spark):
    # policy slate overlaps NO logged interaction: Σw = 0, SNIPS is
    # undefined — must be an explicit NULL (not NaN/Infinity), with
    # match_rate = 0.0 exposing the degenerate case
    from recmetrics_pyspark_spark.operators.recommend import (
        ips_offline_eval,
    )

    logs = spark.createDataFrame(
        [(1, 10, 2.0), (1, 20, 4.0)], ["user", "item", "rating"]
    )
    recs = spark.createDataFrame([(1, 99)], ["user", "item"])
    r = ips_offline_eval(logs, recs, k=1).collect()[0]
    assert r.match_rate == 0.0
    assert r.ips_value == 0.0
    assert r.snips_value is None


def test_canonical_docs_survivor_and_singleton(spark):
    from recmetrics_pyspark_spark.operators.dedup import canonical_docs

    # docs 1 and 2 share nearly all shingles (near-dups); doc 1 ends in
    # a non-alpha token so its alpha-ratio (and quality) is strictly
    # lower -> doc 2 survives; doc 3 is a singleton, its own canonical
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog 0123456789"),
            (2, "the quick brown fox jumps over the lazy dog wonderful"),
            (3, "completely different content about spark engines"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in canonical_docs(docs).collect()}
    assert rows[1].component_id == 1 and rows[2].component_id == 1
    assert rows[2].is_canonical and not rows[1].is_canonical
    assert rows[1].n_members == 2
    assert rows[3].is_canonical and rows[3].n_members == 1
    assert rows[3].component_id == 3


def test_incremental_neardup_classifies_batch(spark):
    from recmetrics_pyspark_spark.operators.dedup import (
        incremental_neardup,
        lsh_index,
    )

    seen = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            # identical to doc 1 -> every minhash agrees -> near_dup
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            # disjoint vocabulary -> new
            (11, "red green blue cyan magenta yellow black white"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.status, r.match_id, r.est_jaccard)
        for r in incremental_neardup(batch, lsh_index(seen)).collect()
    }
    assert out[10] == ("near_dup", 1, 1.0)
    assert out[11][0] == "new" and out[11][1] is None
    # state contract: appending the accepted batch rows keeps the
    # index ready for the next batch
    idx2 = lsh_index(seen).unionByName(lsh_index(batch))
    batch2 = spark.createDataFrame(
        [(20, "red green blue cyan magenta yellow black white")],
        ["doc_id", "text"],
    )
    r2 = incremental_neardup(batch2, idx2).collect()[0]
    assert (r2.status, r2.match_id) == ("near_dup", 11)


def test_duplicated_spans_extracts_shared_run(spark):
    from recmetrics_pyspark_spark.operators.dedup import duplicated_spans

    # docs 1 and 2 share the 5-token run "a b c d e" (3 consecutive
    # duplicated 3-gram positions); surrounding tokens are unique
    docs = spark.createDataFrame(
        [
            (1, "x1 x2 a b c d e x3 x4"),
            (2, "y1 a b c d e y2 y3 y4"),
            (3, "z1 z2 z3 z4 z5 z6 z7 z8"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        r.doc_id: (r.start_tok, r.end_tok, r.n_dup_shingles)
        for r in duplicated_spans(docs).collect()
    }
    # doc 1: "a" is token 3 -> positions 3,4,5 dup -> span [3, 7]
    assert spans[1] == (3, 7, 3)
    # doc 2: "a" is token 2 -> span [2, 6]
    assert spans[2] == (2, 6, 3)
    assert 3 not in spans


def test_interactions_memo_survives_clear_cache(spark, shared_names):
    """spark.catalog.clearCache() drops the persisted frame but not
    the shared build: the next interactions() call must re-persist
    (not hand out an uncached frame forever), and release_shared()
    unpersists and forgets the build itself."""
    from recmetrics_pyspark_spark import release_shared
    from recmetrics_pyspark_spark.operators import recommend as R

    sf = "/root/testdata/sf0.001"
    df = R.interactions(spark, sf, with_rating=True)
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    spark.catalog.clearCache()
    df2 = R.interactions(spark, sf, with_rating=True)
    assert df2.storageLevel.useMemory or df2.storageLevel.useDisk
    assert df2 is df  # the same entry, re-persisted
    release_shared(spark)
    assert "interactions" not in shared_names()
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    # and the next call rebuilds from scratch without error
    assert R.interactions(spark, sf).columns == ["user", "item"]
    release_shared(spark)


def test_doc_perplexity_hand_computed(spark):
    from recmetrics_pyspark_spark.functions.text import doc_perplexity

    # corpus bigrams: c(a,b)=3 of c1(a)=3 -> 0 bits;
    # c(b,a)=1, c(b,c)=1 of c1(b)=2 -> 1 bit each
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in doc_perplexity(docs).collect()}
    assert 3 not in out  # single-token doc has no bigrams
    assert out[1].n_bigrams == 3
    assert out[1].avg_bits == round(1 / 3, 6)
    assert out[1].bits_bucket == 0
    assert out[2].n_bigrams == 2
    assert out[2].avg_bits == 0.5
    assert out[2].bits_bucket == 0


def test_common_neighbor_links_math(spark):
    from recmetrics_pyspark_spark.operators.graph import (
        common_neighbor_links,
    )

    # path 1-2-3: the only unlinked wedge pair is (1,3) through z=2;
    # deg(1)=deg(3)=1 -> jaccard = 1/(1+1-1) = 1.0
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8)], ["ia", "ib", "sim"]
    )
    rows = common_neighbor_links(pairs, col_w="sim").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.item_a, r.item_b, r.n_common_nbrs, r.rnk) == (1, 3, 1, 1)
    assert r.jaccard_nbrs == 1.0

    # square 1-2, 2-3, 3-4, 1-4: candidates (1,3) via {2,4} and (2,4)
    # via {1,3}, both n_common=2, jaccard = 2/(2+2-2) = 1.0
    sq = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (3, 4, 0.7), (1, 4, 0.6)],
        ["ia", "ib", "sim"],
    )
    out = {
        (r.item_a, r.item_b): (r.n_common_nbrs, r.jaccard_nbrs)
        for r in common_neighbor_links(sq, col_w="sim").collect()
    }
    assert out == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_skipgram_pairs_hand_computed(spark):
    import datetime as _dt

    from recmetrics_pyspark_spark.operators.recommend import skipgram_pairs

    # one user, sequence [1, 2, 3] (window 2): directed pairs are all
    # ordered pairs within distance <= 2 -> each unordered pair twice
    d = _dt.date(2024, 1, 1)
    timed = spark.createDataFrame(
        [(7, d, 1, 1), (7, d, 2, 2), (7, d, 3, 3)],
        ["user", "dt", "ok", "item"],
    )
    out = {
        (r.center, r.context): r.n_cooc
        for r in skipgram_pairs(timed, window=2).collect()
    }
    assert out == {
        (1, 2): 1, (2, 1): 1, (1, 3): 1, (3, 1): 1, (2, 3): 1, (3, 2): 1,
    }
    # window=1 drops the distance-2 pair
    out1 = {
        (r.center, r.context): r.n_cooc
        for r in skipgram_pairs(timed, window=1).collect()
    }
    assert out1 == {(1, 2): 1, (2, 1): 1, (2, 3): 1, (3, 2): 1}


def test_sequential_rules_direction_and_math(spark):
    import datetime as _dt

    from recmetrics_pyspark_spark.operators.recommend import (
        sequential_rules,
    )

    def d(day):
        return _dt.date(2024, 1, day)

    # u1: A(1) then B(2); u2: A(1) then B(5); u3: B(3) then A(4);
    # u4: A and B same day -> no direction
    rows = [
        (1, d(1), 10), (1, d(2), 20),
        (2, d(1), 10), (2, d(5), 20),
        (3, d(3), 20), (3, d(4), 10),
        (4, d(6), 10), (4, d(6), 20),
    ]
    timed = spark.createDataFrame(rows, ["user", "dt", "item"])
    out = {
        (r.antecedent, r.consequent): r
        for r in sequential_rules(timed, min_common=1).collect()
    }
    # A->B twice (u1,u2); B->A once (u3); ties (u4) contribute nothing
    ab = out[(10, 20)]
    assert ab.n_ab == 2 and ab.rnk == 1
    # n_A = 4 adopters of 10 -> confidence 0.5
    assert ab.confidence == 0.5
    # lift = n_ab * N / (n_a * n_b) = 2*4/(4*4) = 0.5
    assert ab.lift == 0.5
    ba = out[(20, 10)]
    assert ba.n_ab == 1


def test_rule_and_ips_construction_triggers_no_jobs(spark):
    # sequential_rules and ips_offline_eval must be FULLY declarative:
    # constructing the plan (no action) may not launch a Spark job —
    # the formula scalars (N, n_logs) enter as one-row broadcast
    # frames, not build-time .count() actions.
    import datetime as _dt

    from recmetrics_pyspark_spark.operators.recommend import (
        ips_offline_eval,
        sequential_rules,
    )

    timed = spark.createDataFrame(
        [(1, _dt.date(2024, 1, 1), 10), (1, _dt.date(2024, 1, 2), 20)],
        ["user", "dt", "item"],
    )
    logs = spark.createDataFrame(
        [(1, 10, 2.0), (1, 20, 4.0)], ["user", "item", "rating"]
    )
    recs = spark.createDataFrame([(1, 10)], ["user", "item"])

    sc = spark.sparkContext
    group = "declarative-construction-gate"
    sc.setJobGroup(group, "construction must not run jobs")
    try:
        rules = sequential_rules(timed, min_common=1)
        ips = ips_offline_eval(logs, recs, k=1)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert jobs == [], f"construction launched jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")
    # and the plans still evaluate correctly afterwards
    assert rules.count() >= 1
    r = ips.collect()[0]
    assert r.ips_value == 2.0 and r.snips_value == 2.0
