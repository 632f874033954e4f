"""Recall gate for the multi-probe LSH ANN: the approximate top-k must
recover ≥60% of the exact top-k on the synthetic embeddings (a hard,
near-orthogonal corpus — real clustered embeddings do better). Also
the degenerate-vector rule every embedding scorer shares: an all-zero
vector scores NULL, ranks last and passes no threshold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recmetrics_pyspark_spark.operators.similarity import (
    ann_bruteforce_topk,
    ann_lsh_topk,
    probe_masks,
)
from recmetrics_pyspark_spark.sources.io import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_probe_masks():
    masks = probe_masks(4, 2)
    assert masks[0] == 0 and len(masks) == 1 + 4 + 6
    assert all(bin(m).count("1") <= 2 for m in masks)


def test_multiprobe_recall_at_10(spark):
    embs = load_table(spark, SF_DIR, "embeddings")
    qset = embs.filter(F.col("vec_id") < 50)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(embs, qset, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_lsh_topk(embs, qset, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.60, f"multi-probe recall@10 regressed: {recall:.2%}"


def test_pq_adc_recall_at_10(spark):
    """PQ-ADC recall floor. Context for the low bar: the synthetic
    corpus is ISOTROPIC random vectors — the worst case for product
    quantization, which exploits clustered subspace distributions
    (measured 34% at m=4, 38% at m=16; real embeddings do far
    better). The gate catches regressions in the codebook/encode/ADC
    chain, not the data's intrinsic quantizability."""
    from recmetrics_pyspark_spark.operators.similarity import pq_ann_topk

    embs = load_table(spark, SF_DIR, "embeddings")
    qset = embs.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(embs, qset, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(embs, qset, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.25, f"PQ-ADC recall@10 regressed: {recall:.2%}"


def test_ivfpq_recall_at_10(spark):
    """IVF-PQ composition: cell restriction + code quantization.
    Measured 40% on the isotropic worst-case corpus (nprobe=3 of 8
    cells); the gate catches chain regressions."""
    from recmetrics_pyspark_spark.operators.similarity import ivfpq_ann_topk

    embs = load_table(spark, SF_DIR, "embeddings")
    qset = embs.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(embs, qset, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_ann_topk(embs, qset, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.25, f"IVF-PQ recall@10 regressed: {recall:.2%}"


def test_pq_rerank_recall_at_10(spark):
    """Two-stage retrieve-rerank: exact scoring of the ADC top-8k pool
    lifts recall 34% → 90% while touching 16% of the corpus — the gate
    pins the production pattern's payoff."""
    from recmetrics_pyspark_spark.operators.similarity import pq_ann_topk

    embs = load_table(spark, SF_DIR, "embeddings")
    qset = embs.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce_topk(embs, qset, k=10).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(embs, qset, k=10, rerank_factor=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.70, f"PQ rerank recall@10 regressed: {recall:.2%}"


# ---------------------------------------------------------------------------
# Degenerate vectors: one all-zero vector, in the corpus and the queries
# ---------------------------------------------------------------------------

_ZERO_ID = 11
_N_VECS = 24
_QUERY_IDS = (0, 5, _ZERO_ID)


@pytest.fixture(scope="module")
def zero_corpus(spark):
    """24 seeded 8-dim vectors with labels id % 3; vector 11 is all
    zeros and is also one of the three queries."""
    import random

    rnd = random.Random(7)
    rows = [
        (
            i,
            [0.0] * 8
            if i == _ZERO_ID
            else [rnd.uniform(-1, 1) for _ in range(8)],
            i % 3,
        )
        for i in range(_N_VECS)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    return corpus, corpus.filter(F.col("vec_id").isin(*_QUERY_IDS))


# (retriever, score column, whether the corpus side is scored through a
# quantized reconstruction — then only the zero QUERY's norm is zero)
_TOPK = {
    "ann_bruteforce": ("ann_bruteforce_topk", {}, "cos_sim", False),
    "ann_lsh": ("ann_lsh_topk", {"dim": 8}, "cos_sim", False),
    "ivf": ("ivf_ann_topk", {}, "cos_sim", False),
    "pq": ("pq_ann_topk", {}, "cos_est", True),
    "pq_rerank": ("pq_ann_topk", {"k": 5, "rerank_factor": 4}, "cos_sim", False),
    "ivfpq": ("ivfpq_ann_topk", {}, "cos_est", True),
    "sq": ("sq_ann_topk", {}, "cos_sim", True),
    "ivfsq": ("ivfsq_ann_topk", {}, "cos_sim", True),
    "hard_negative_mining": ("hard_negative_mining", {}, "cos_sim", False),
}


def _pair_scorer(name, corpus, queries):
    from recmetrics_pyspark_spark.operators import similarity as S

    if name == "embedding_near_duplicates":
        rows = S.embedding_near_duplicates(
            corpus, threshold=-1.0, col_block=None
        ).collect()
        # every real pair passes a -1 threshold; no zero-vector pair does
        assert len(rows) == (_N_VECS - 1) * (_N_VECS - 2) // 2
        assert all(_ZERO_ID not in (r.id_a, r.id_b) for r in rows)
    elif name == "semantic_dedup":
        # one cluster: every vector but the lowest id is a duplicate at
        # threshold -1, except the zero vector, which no pair can drop
        (r,) = S.semantic_dedup(corpus, k=1, threshold=-1.0).collect()
        assert (r.n_docs, r.n_dropped, r.n_kept) == (_N_VECS, _N_VECS - 2, 2)
    else:
        fn = getattr(S, name)
        rows = fn(corpus, queries, threshold=-1.0).collect()
        assert rows
        assert all(r.train_id != _ZERO_ID for r in rows)
        assert all(r.best_eval_id != _ZERO_ID for r in rows)
        assert all(r.best_cos is not None for r in rows)
        # the zero eval vector is never counted as a hit
        assert all(r.n_eval_hits <= len(_QUERY_IDS) - 1 for r in rows)
        if name == "semantic_decontaminate":
            real = set(range(_N_VECS)) - {_ZERO_ID}
            assert {r.train_id for r in rows} == real
            assert all(r.n_eval_hits == len(_QUERY_IDS) - 1 for r in rows)


@pytest.mark.parametrize(
    "name",
    [
        *_TOPK,
        "embedding_near_duplicates",
        "semantic_dedup",
        "semantic_decontaminate",
        "semantic_decontaminate_ivf",
    ],
)
def test_zero_vector_scores_null_and_ranks_last(zero_corpus, name):
    """An all-zero vector makes no scorer raise (ANSI DIVIDE_BY_ZERO):
    every pair whose cosine divides by its zero norm scores NULL,
    ranks after every real score of its query, and never passes a
    threshold."""
    corpus, queries = zero_corpus
    if name not in _TOPK:
        _pair_scorer(name, corpus, queries)
        return
    from recmetrics_pyspark_spark.operators import similarity as S

    op, kwargs, score, quantized = _TOPK[name]
    rows = getattr(S, op)(corpus, queries, **{"k": _N_VECS, **kwargs}).collect()
    assert rows
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
        zero_norm = r.query_id == _ZERO_ID or (
            not quantized and r.neighbor_id == _ZERO_ID
        )
        assert (r[score] is None) == zero_norm, r
    assert _ZERO_ID in by_query
    for got in by_query.values():
        real = [r.rnk for r in got if r[score] is not None]
        null = [r.rnk for r in got if r[score] is None]
        if real and null:
            assert max(real) < min(null)
        assert sorted(r.rnk for r in got) == list(range(1, len(got) + 1))
