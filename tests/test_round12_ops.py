"""Round-12 additions: the _exact_pairs shared build (the exact
word-3-gram Jaccard truth table shared by ngram_jaccard_pairs,
lsh_recall_report, and simhash_recall_report — round-11 verdict weak
mark) and the shared ANN brute-force truth build behind the recall
reports. Every test starts and ends with ``release_shared`` so it
sees the registry empty."""

import os

import pytest

F = pytest.importorskip("pyspark.sql.functions")

from recmetrics_pyspark_spark import release_shared  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)


def test_exact_pairs_memo_shared_and_equal(spark, shared_names):
    """All three exact-Jaccard consumers hit ONE memo entry per
    (application, sf_dir), and the memoized table is row-identical to
    a fresh ngram_jaccard_pairs derivation (the memo changes where
    the table is materialized, never its values)."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators import dedup as D

    release_shared(spark)
    qs = e.queries()
    memo_rows = sorted(
        map(tuple, qs["ngram_jaccard_pairs"](spark, SF_DIR).collect())
    )
    assert shared_names().count("exact_pairs") == 1
    qs["lsh_recall_report"](spark, SF_DIR).collect()
    qs["simhash_recall_report"](spark, SF_DIR).collect()
    # both reports hit the entry
    assert shared_names().count("exact_pairs") == 1

    fresh = sorted(
        map(
            tuple,
            D.ngram_jaccard_pairs(
                e._docs(spark, SF_DIR), threshold=0.1
            ).collect(),
        )
    )
    assert memo_rows == fresh
    assert len(memo_rows) > 0
    release_shared(spark)


def test_recall_reports_consistent_with_memoized_truth(spark):
    """lsh/simhash recall rows computed THROUGH the memo agree with
    the same aggregation computed from a fresh truth table — n_exact
    must equal the fresh pair count in every row."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators import dedup as D

    release_shared(spark)
    qs = e.queries()
    n_fresh = D.ngram_jaccard_pairs(
        e._docs(spark, SF_DIR), threshold=0.1
    ).count()
    lsh = qs["lsh_recall_report"](spark, SF_DIR).collect()
    sim = qs["simhash_recall_report"](spark, SF_DIR).collect()
    assert [r.n_exact for r in lsh] == [n_fresh]
    assert sorted(r.max_hamming for r in sim) == [1, 3]
    for r in list(lsh) + list(sim):
        assert r.n_exact == n_fresh
        assert 0 <= r.n_hit <= r.n_exact
    release_shared(spark)


def test_jaccard_threshold_sweep_exact_counts(spark):
    """Fixture-exact rows: counts are monotone non-increasing in the
    threshold, and each row matches a hand-computed filter of the
    pair table."""
    from recmetrics_pyspark_spark.operators.dedup import (
        jaccard_threshold_sweep,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 0.95), (1, 3, 0.55), (2, 3, 0.5), (4, 5, 0.15),
         (6, 7, 0.1)],
        ["id_a", "id_b", "jaccard"],
    )
    rows = {
        r.threshold: (r.n_pairs, r.n_docs)
        for r in jaccard_threshold_sweep(pairs).collect()
    }
    assert rows[0.1] == (5, 7)
    assert rows[0.2] == (3, 3)   # the 0.15 and 0.1 pairs drop
    assert rows[0.5] == (3, 3)
    assert rows[0.6] == (1, 2)   # only (1,2,0.95) survives
    assert rows[0.9] == (1, 2)
    assert 0.3 in rows and 0.4 in rows and 0.7 in rows and 0.8 in rows
    seq = [rows[t] for t in sorted(rows)]
    assert all(a >= b for (a, _), (b, _) in zip(seq, seq[1:]))


def test_bt_shared_fit_matches_standalone(spark):
    """Ratings and sensitivity computed off ONE bt_fit_chain (round 4
    marked) are row-identical to each operator fitting its own chain
    — marking extra rounds records snapshots without changing the
    chain, so the _bt_chain shared build is a pure sharing move."""
    from recmetrics_pyspark_spark.operators.ranking import (
        bradley_terry_rank_sensitivity,
        bradley_terry_ratings,
        bt_fit_chain,
    )

    games = spark.createDataFrame(
        [("a", "b")] * 4 + [("b", "c")] * 3 + [("c", "a")] * 2
        + [("a", "d"), ("d", "b")],
        ["winner", "loser"],
    )
    fit = bt_fit_chain(games, iters=8, marks=(4,))
    shared_r = sorted(
        map(tuple, bradley_terry_ratings(games, iters=8, fit=fit).collect())
    )
    solo_r = sorted(
        map(tuple, bradley_terry_ratings(games, iters=8).collect())
    )
    assert shared_r == solo_r and len(shared_r) == 4
    shared_s = bradley_terry_rank_sensitivity(
        games, iters_a=4, iters_b=8, fit=fit
    ).collect()
    solo_s = bradley_terry_rank_sensitivity(
        games, iters_a=4, iters_b=8
    ).collect()
    assert [tuple(r) for r in shared_s] == [tuple(r) for r in solo_s]


def test_bt_chain_memo_shared_across_arena_queries(spark, shared_names):
    """Both arena queries hit ONE _bt_chain entry per (application,
    sf_dir)."""
    import __spark_entry__ as e

    release_shared(spark)
    qs = e.queries()
    qs["arena_bt_ratings"](spark, SF_DIR).collect()
    assert shared_names().count("bt_chain") == 1
    qs["arena_bt_sensitivity"](spark, SF_DIR).collect()
    assert shared_names().count("bt_chain") == 1
    release_shared(spark)


def test_ann_truth_memo_shared_and_equal(spark, shared_names):
    """The declared ann_bruteforce_topk query, the four recall
    reports, and hybrid_rrf_topk all hit ONE _ann_truth entry per
    (application, sf_dir); the memoized ranking is row-identical to
    a fresh brute-force derivation."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators import similarity as S

    release_shared(spark)
    qs = e.queries()
    memo_rows = sorted(
        map(tuple, qs["ann_bruteforce_topk"](spark, SF_DIR).collect())
    )
    assert shared_names().count("ann_truth") == 1
    for name in (
        "ann_recall_report",
        "sq_recall_report",
        "ivf_recall_report",
        "pq_recall_report",
        "hybrid_rrf_topk",
    ):
        qs[name](spark, SF_DIR).collect()
    # every consumer hit the entry
    assert shared_names().count("ann_truth") == 1

    embs = e._embs(spark, SF_DIR)
    fresh = sorted(
        map(
            tuple,
            S.ann_bruteforce_topk(
                embs, embs.filter(F.col("vec_id") < 5), k=10
            ).collect(),
        )
    )
    assert memo_rows == fresh
    assert len(memo_rows) > 0
    release_shared(spark)


def test_kcore_memo_matches_fresh_converged(spark, shared_names):
    """The _kcore_core shared build (one fixed-8-round peel shared by
    kcore_items and kcore_items_converged) is row-identical to a
    FRESH until_converged=True run — the equality that lets the
    converged declared row read the memo — and both declared queries
    hit one memo entry."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark import operators as _ops  # noqa: F401
    from recmetrics_pyspark_spark.operators import metrics as M
    from recmetrics_pyspark_spark.operators import recommend as R
    from recmetrics_pyspark_spark.operators.graph import k_core_decompose

    release_shared(spark)
    qs = e.queries()
    memo_rows = sorted(map(tuple, qs["kcore_items"](spark, SF_DIR).collect()))
    assert shared_names().count("kcore") == 1
    conv_rows = sorted(
        map(tuple, qs["kcore_items_converged"](spark, SF_DIR).collect())
    )
    # second query hit the same entry
    assert shared_names().count("kcore") == 1
    assert memo_rows == conv_rows

    inter = R.interactions(spark, SF_DIR)
    pairs = M.item_similarity_pairs(
        inter, "user", "item", min_common=2, max_basket=e.MAX_BASKET
    )
    fresh = sorted(
        map(
            tuple,
            k_core_decompose(pairs, k=3, until_converged=True).collect(),
        )
    )
    assert memo_rows == fresh
    assert len(memo_rows) > 0
    assert all(r[2] is True for r in memo_rows)  # converged witness
    release_shared(spark)


def test_neardup_comps_memo_shared_and_equal(spark, shared_names):
    """The _neardup_comps shared build feeds the declared
    neardup_components query AND the comps= handle of canonical_docs /
    soft_dedup_weights; the memoized table is row-identical to a fresh
    neardup_components derivation, and canonical_docs through the
    handle equals the standalone operator."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators import dedup as D

    release_shared(spark)
    qs = e.queries()
    memo_rows = sorted(
        map(tuple, qs["neardup_components"](spark, SF_DIR).collect())
    )
    assert shared_names().count("neardup_comps") == 1
    canon_rows = sorted(
        map(tuple, qs["canonical_docs"](spark, SF_DIR).collect())
    )
    soft_rows = sorted(
        map(tuple, qs["soft_dedup_weights"](spark, SF_DIR).collect())
    )
    # all three hit one entry
    assert shared_names().count("neardup_comps") == 1

    docs = e._docs(spark, SF_DIR)
    fresh_comps = sorted(
        map(
            tuple,
            D.neardup_components(docs, threshold=0.5, iters=4).collect(),
        )
    )
    assert memo_rows == fresh_comps
    assert len(memo_rows) > 0

    fresh_canon = sorted(map(tuple, D.canonical_docs(docs).collect()))
    assert canon_rows == fresh_canon

    fresh_soft = sorted(
        map(
            tuple,
            D.canonical_docs(docs)
            .select(
                "doc_id",
                "component_id",
                "n_members",
                F.round(F.lit(1.0) / F.col("n_members"), 6).alias("weight"),
            )
            .collect(),
        )
    )
    assert soft_rows == fresh_soft
    release_shared(spark)


def test_synth_recs_memo_shared_and_equal(spark, shared_names):
    """The _synth_recs shared build (one ranked top-10 rec table shared
    by eleven declared queries) is row-identical to a fresh
    synthetic_recommendations derivation, and consumers all hit one
    memo entry."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators import recommend as R

    release_shared(spark)
    qs = e.queries()
    memo_rows = sorted(
        map(tuple, qs["recommendations_topk"](spark, SF_DIR).collect())
    )
    assert shared_names().count("synth_recs") == 1
    qs["coverage"](spark, SF_DIR).collect()
    qs["item_exposure"](spark, SF_DIR).collect()
    qs["ranking_metrics"](spark, SF_DIR).collect()
    # all consumers hit the entry, and coverage's catalog side read
    # the same distinct-pairs build the recs rank
    assert shared_names().count("synth_recs") == 1
    assert shared_names().count("distinct_pairs") == 1

    fresh = sorted(
        map(
            tuple,
            R.synthetic_recommendations(spark, SF_DIR)
            .select("user", "item", F.col("rnk").cast("long").alias("rnk"))
            .collect(),
        )
    )
    assert memo_rows == fresh
    assert len(memo_rows) > 0
    release_shared(spark)
