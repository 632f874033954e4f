"""Unit semantics for the round-3 curation operators (oracle parity
covers value equivalence; these pin the edge-case contracts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recmetrics_pyspark_spark.functions.curation import (
    curriculum_order,
    dpo_pair_mining,
    loss_mask_spans,
    seqlen_histogram,
)


def test_dpo_pair_mining_tiebreaks_and_margin(spark):
    ratings = spark.createDataFrame(
        [
            # user 1: clear winner/loser, margin 4
            (1, 10, 5.0), (1, 11, 1.0), (1, 12, 3.0),
            # user 2: all tied -> chosen=min id, rejected=max id,
            # margin 0 -> filtered out
            (2, 20, 2.0), (2, 21, 2.0),
            # user 3: single item -> chosen == rejected -> dropped
            (3, 30, 4.0),
            # user 4: repeat purchases collapse to mean before extremes
            (4, 40, 1.0), (4, 40, 5.0), (4, 41, 4.0),  # mean(40)=3.0
        ],
        ["user", "item", "rating"],
    )
    rows = {r["user"]: r for r in dpo_pair_mining(ratings).collect()}
    assert set(rows) == {1, 4}
    assert (rows[1]["chosen_item"], rows[1]["rejected_item"]) == (10, 11)
    assert rows[1]["margin"] == 4.0
    assert (rows[4]["chosen_item"], rows[4]["rejected_item"]) == (41, 40)
    assert rows[4]["margin"] == 1.0


def test_seqlen_histogram_bucket_edges(spark):
    docs = spark.createDataFrame(
        [
            (1, "a"),                    # 1 token  -> bucket 1
            (2, "a b"),                  # 2 tokens -> bucket 2
            (3, "a b c"),                # 3 tokens -> bucket 4
            (4, "a b c d"),              # 4 tokens -> bucket 4 (exact pow2)
            (5, " ".join(["x"] * 5)),    # 5 tokens -> bucket 8
        ],
        ["doc_id", "text"],
    )
    rows = {r["len_bucket"]: r for r in seqlen_histogram(docs).collect()}
    assert set(rows) == {1, 2, 4, 8}
    assert rows[4]["n_docs"] == 2 and rows[4]["n_tokens"] == 7
    assert rows[8]["cum_token_share"] == 1.0


def test_loss_mask_counts_are_disjoint_and_total(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat in 42 mats near 7 rivers")],
        ["doc_id", "text"],
    )
    r = loss_mask_spans(docs).collect()[0]
    # "the" + "in" are stopwords, "42" + "7" numeric -> 4 masked of 9
    assert r["n_tokens"] == 9
    assert r["n_masked"] == 4
    assert r["n_loss_tokens"] == 5
    assert r["mask_ratio"] == pytest.approx(4 / 9, abs=1e-6)


def test_curriculum_order_stages_partition_corpus(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["word"] * (i + 1))) for i in range(20)],
        ["doc_id", "text"],
    )
    rows = curriculum_order(docs, n_stages=4).collect()
    assert [r["stage"] for r in rows] == [1, 2, 3, 4]
    assert sum(r["n_docs"] for r in rows) == 20
    # stages are difficulty-ordered and non-overlapping
    for a, b in zip(rows, rows[1:]):
        assert a["max_difficulty"] <= b["min_difficulty"]
    total_tokens = sum(i + 1 for i in range(20))
    assert sum(r["n_tokens"] for r in rows) == total_tokens


def test_pmi_bounds_kill_hub_tokens(spark):
    from recmetrics_pyspark_spark.functions.curation import (
        doc_cooccurrence_pmi,
    )

    # "hub" appears in every doc (df = N > max_df_ratio*N) and must be
    # excluded; "aa bb" co-occur in 6 docs and must surface
    docs = spark.createDataFrame(
        [(i, f"hub aa bb unique{i}") for i in range(6)]
        + [(10 + i, "hub zz") for i in range(6)],
        ["doc_id", "text"],
    )
    rows = doc_cooccurrence_pmi(
        docs, min_df=2, max_df_ratio=0.6, min_pair_count=2, top_k=10
    ).collect()
    toks = {t for r in rows for t in (r["tok_a"], r["tok_b"])}
    assert "hub" not in toks
    assert ("aa", "bb") in {(r["tok_a"], r["tok_b"]) for r in rows}


def test_zipf_fit_recovers_planted_slope(spark):
    from recmetrics_pyspark_spark.functions.curation import zipf_fit

    # plant an exact power law: token t_r appears round(1000 / r) times
    # -> slope of ln(freq) on ln(rank) must come out near -1
    rows = []
    doc = 0
    for r in range(1, 21):
        n = round(1000 / r)
        for _ in range(n):
            rows.append((doc, f"tok{r:02d}"))
            doc += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = zipf_fit(docs, min_count=1, top_k=100).collect()[0]
    assert out["n_tokens_fit"] == 20
    assert abs(out["zipf_slope"] - (-1.0)) < 0.01


def test_mad_outliers_flags_only_extremes(spark):
    from recmetrics_pyspark_spark.functions.curation import (
        mad_outlier_docs,
    )

    # 20 docs of 10+-1 tokens, one of 100 tokens: only the giant is
    # flagged, and mean/stddev-poisoning can't hide it (the point of
    # MAD over z-score)
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + (i % 3) - 1))) for i in range(20)]
        + [(99, " ".join(["w"] * 100))],
        ["doc_id", "text"],
    )
    out = mad_outlier_docs(docs, cutoff=3.5).collect()
    assert [r["doc_id"] for r in out] == [99]
    assert out[0]["n_tokens"] == 100
    assert out[0]["mod_zscore"] > 3.5


def test_semantic_dedup_accounting(spark):
    from recmetrics_pyspark_spark.operators.similarity import (
        semantic_dedup,
    )

    # two tight groups of near-identical vectors plus one isolate:
    # within each group all-but-the-lowest-id are dropped; the isolate
    # survives. k=2 puts the groups in separate cells.
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.001, 0.0]),
        (2, [0.998, 0.002, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 0.999, 0.001]),
        (20, [0.5, 0.5, 0.70711]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    rows = semantic_dedup(df, k=2, iters=2, threshold=0.99).collect()
    assert sum(r["n_dropped"] for r in rows) == 3
    assert sum(r["n_kept"] for r in rows) == 3
    for r in rows:
        assert r["n_docs"] == r["n_dropped"] + r["n_kept"]


def test_trained_artifact_memo_contract(spark):
    from recmetrics_pyspark_spark import release_shared
    from recmetrics_pyspark_spark.operators.similarity import (
        kmeans_centroids,
        pq_codebooks,
    )

    release_shared(spark)
    vecs = [(i, [float(i % 4), float(i % 3), 1.0, 0.5]) for i in range(32)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    # identical (corpus plan, params) -> the SAME DataFrame object
    a = kmeans_centroids(df, k=4, refinements=1)
    b = kmeans_centroids(df, k=4, refinements=1)
    assert a is b
    # different params -> a fresh training run
    c = kmeans_centroids(df, k=2, refinements=1)
    assert c is not a
    # the key is the analyzed plan's SEMANTIC hash, not Python object
    # identity: two independent reads of the same parquet hit one key
    # (separately-built LocalRelations hash apart — their literal data
    # arrays carry distinct expression ids — which is also fine: a miss
    # only costs a redundant training run, never a wrong result)
    emb_path = "/root/testdata/sf0.001/embeddings.parquet"
    r1 = kmeans_centroids(spark.read.parquet(emb_path), k=4, refinements=1)
    r2 = kmeans_centroids(spark.read.parquet(emb_path), k=4, refinements=1)
    assert r1 is r2
    # the PQ trainer shares the registry namespace without collisions
    p1 = pq_codebooks(df, m=2, k_codes=4)
    p2 = pq_codebooks(df, m=2, k_codes=4)
    assert p1 is p2 and p1 is not a
    release_shared(spark)
    assert kmeans_centroids(df, k=4, refinements=1) is not a


def test_hashing_vectorize_sums_signed_buckets(spark):
    from recmetrics_pyspark_spark.functions.text import hashing_vectorize

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a")], ["doc_id", "text"]
    )
    import hashlib

    def dim_sign(tok, d=64):
        h = hashlib.md5(tok.encode()).hexdigest()
        return int(h[:8], 16) % d, 1 if int(h[8], 16) % 2 == 0 else -1

    da, sa = dim_sign("a")
    db, sb = dim_sign("b")
    got = {
        (r.doc_id, r.dim): r.weight
        for r in hashing_vectorize(docs).collect()
    }
    want = {}
    want[(1, da)] = want.get((1, da), 0) + 2 * sa
    want[(1, db)] = want.get((1, db), 0) + sb
    want[(2, da)] = sa
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want


def test_log_odds_terms_sign_and_rank(spark):
    from recmetrics_pyspark_spark.functions.text import log_odds_terms

    # src0 overuses "x", src1 overuses "y"; shared filler "c"
    docs = spark.createDataFrame(
        [
            (1, "x x x c", "src0"),
            (2, "x x c c", "src0"),
            (3, "y y y c", "src1"),
            (4, "y y c c", "src1"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = log_odds_terms(docs, k=1).collect()
    top = {r.source: (r.token, r.log_odds_z) for r in rows}
    assert top["src0"][0] == "x" and top["src0"][1] > 0
    assert top["src1"][0] == "y" and top["src1"][1] > 0


def test_weighted_sample_heavy_weight_wins_and_caps_n(spark):
    from recmetrics_pyspark_spark.functions.curation import weighted_sample

    # u^(1/w) -> 1 as w grows: the giant-weight doc must outrank any
    # unit-weight doc regardless of its md5 draw
    docs = spark.createDataFrame(
        [(i, 1) for i in range(1, 10)] + [(99, 10**9)],
        ["doc_id", "wt"],
    )
    top = weighted_sample(docs, n=3, col_weight="wt").collect()
    assert len(top) == 3
    assert top[0].doc_id == 99 and top[0].rnk == 1
    # stratified path: exactly n per stratum, rnk dense within stratum
    docs2 = spark.createDataFrame(
        [(i, 1 + i % 3, "a" if i % 2 else "b") for i in range(1, 21)],
        ["doc_id", "wt", "grp"],
    )
    out = weighted_sample(
        docs2, n=4, col_weight="wt", col_stratum="grp"
    ).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r.rnk)
    assert all(sorted(v) == [1, 2, 3, 4] for v in by_grp.values())


def test_langid_confusion_recall_sums_to_one(spark):
    from recmetrics_pyspark_spark.functions.text import langid_confusion

    docs = spark.createDataFrame(
        [
            (1, "the and of to in", "en"),
            (2, "the and of to in", "en"),
            (3, "el la de que y", "es"),
            (4, "der die und das ist", "de"),
            (5, "xyzzy qwerty asdf", "zh"),  # no lexicon hits -> 'en' tie
            (6, "le et les des une", "fr"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = langid_confusion(docs).collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r.lang_true, []).append(r)
    # recall within each true language sums to 1
    for grp in by_true.values():
        assert abs(sum(r.recall for r in grp) - 1.0) < 1e-6
    # correctly-detected cells
    en = {r.lang_pred: r.n_docs for r in by_true["en"]}
    assert en == {"en": 2}
    assert {r.lang_pred for r in by_true["zh"]} == {"en"}
    assert {r.lang_pred for r in by_true["fr"]} == {"fr"}


def test_quantile_normalize_bins_within_group(spark):
    from recmetrics_pyspark_spark.functions.curation import (
        quantile_normalize,
    )

    # group a: values 1..10 -> deciles 0..9; group b: shifted by 100
    # but bins identical — that's the cross-group calibration point
    rows = [(i, i, "a") for i in range(1, 11)] + [
        (i + 10, i + 100, "b") for i in range(1, 11)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "v", "g"])
    out = {
        r.doc_id: r.qbin
        for r in quantile_normalize(
            docs, col_value="v", col_group="g"
        ).collect()
    }
    assert [out[i] for i in range(1, 11)] == list(range(10))
    assert [out[i + 10] for i in range(1, 11)] == list(range(10))


def test_weighted_sample_calibration_sf01(spark):
    """Pin the md5-uniform's calibration at a second scale (sf0.1,
    5000 docs): under Efraimidis–Spirakis with ideal uniforms the
    selection threshold t solves Σ_classes N_c·(1-t^w_c) = n, giving
    per-class target inclusion rates 1-t^w — the achieved rates from
    the md5-derived u must sit within 4σ binomial bounds of those
    targets. Fails if the hash-uniform trick ever drifts from uniform
    (e.g. a biased substring or an off-by-one in the +1/2^32 map)."""
    import math

    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.functions.curation import weighted_sample
    from recmetrics_pyspark_spark.sources.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id",
        # two weight classes keyed by doc id parity: 1 vs 9
        F.when(F.col("doc_id") % 2 == 0, 1.0).otherwise(9.0).alias("wt"),
    )
    n_total = docs.count()
    n_even = docs.filter(F.col("doc_id") % 2 == 0).count()
    n_odd = n_total - n_even
    n = 500
    # solve N_e(1-t) + N_o(1-t^9) = n for t by bisection
    lo, hi = 0.0, 1.0
    for _ in range(80):
        t = (lo + hi) / 2
        kept = n_even * (1 - t) + n_odd * (1 - t**9)
        lo, hi = (lo, t) if kept < n else (t, hi)
    target_even, target_odd = 1 - t, 1 - t**9

    sample = weighted_sample(docs, n=n, col_weight="wt").collect()
    assert len(sample) == n
    got_even = sum(1 for r in sample if r.doc_id % 2 == 0)
    got_odd = n - got_even
    for got, n_class, target in (
        (got_even, n_even, target_even),
        (got_odd, n_odd, target_odd),
    ):
        sigma = math.sqrt(target * (1 - target) / n_class)
        assert abs(got / n_class - target) <= 4 * sigma + 1 / n_class, (
            got / n_class,
            target,
        )


def test_freshness_decay_targets_sf01(spark):
    """The freshness sampler's achieved per-year keep rate must sit
    within 4σ binomial bounds of its 0.5^age target at sf0.1 — pins
    the md5-threshold selection's calibration at a second scale."""
    import math
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    rows = e.queries()["freshness_decay_sample"](
        spark, "/root/testdata/sf0.1"
    ).collect()
    assert rows, "no per-year rows"
    for r in rows:
        sigma = math.sqrt(
            r.target_rate * (1 - r.target_rate) / r.n_orders
        )
        assert (
            abs(r.achieved_rate - r.target_rate)
            <= 4 * sigma + 1 / r.n_orders
        ), (r.o_year, r.achieved_rate, r.target_rate)


def test_dsir_importance_hand_computed_and_directional(spark):
    import hashlib
    import math

    from pyspark.sql import functions as F

    from recmetrics_pyspark_spark.functions.curation import dsir_importance
    from recmetrics_pyspark_spark.sources.io import load_table

    docs = spark.createDataFrame(
        [(1, "x x", "en"), (2, "y y", "de")],
        ["doc_id", "text", "lang"],
    )

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 64

    assert bucket("x") != bucket("y"), "fixture tokens collide — pick others"
    # corpus: r_bx=2, r_by=2, r_total=4; target(en): t_bx=2, t_total=2
    lr_x = math.log2(3 / 66) - math.log2(3 / 68)
    lr_y = math.log2(1 / 66) - math.log2(3 / 68)
    out = {r.doc_id: r for r in dsir_importance(docs).collect()}
    assert out[1].n_tokens == 2 and out[1].lang == "en"
    assert abs(out[1].avg_log_ratio - round(round(lr_x, 9), 6)) < 1e-6
    assert abs(out[2].avg_log_ratio - round(round(lr_y, 9), 6)) < 1e-6

    # directional sanity on real data: English docs must score higher
    # under the English-target importance ratio than non-English docs
    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    scored = dsir_importance(corpus)
    means = {
        r.is_en: r.m
        for r in scored.groupBy(
            (F.col("lang") == "en").alias("is_en")
        ).agg(F.avg("avg_log_ratio").alias("m")).collect()
    }
    assert means[True] > means[False]


def test_split_leakage_audit_detects_planted_leak(spark):
    from recmetrics_pyspark_spark.functions.curation import (
        split_leakage_audit,
    )

    # find two ids on opposite sides of the md5 split, plant the SAME
    # text on both -> exactly one leaked hash
    import hashlib

    def side(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10 < 8

    train_id = next(i for i in range(100) if side(i))
    eval_id = next(i for i in range(100) if not side(i))
    other_train = next(i for i in range(100) if side(i) and i != train_id)
    docs = spark.createDataFrame(
        [
            (train_id, "the shared leaked document text"),
            (eval_id, "the shared leaked document text"),
            (other_train, "a perfectly clean training doc"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.status: (r.n_hashes, r.n_docs)
        for r in split_leakage_audit(docs).collect()
    }
    assert out["leaked"] == (1, 2)
    assert out["train_only"] == (1, 1)
    assert "eval_only" not in out
