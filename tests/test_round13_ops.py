"""Round-13 optimization pins: the mmr_rerank canonical-sims join
(each i<j pair looked up once, used in both directions) and the
k-core memo's convergence guard
(the memoized fixed-8 peel is served to kcore_items_converged only
when its `converged` witness is true; otherwise a real
until-converged peel runs)."""

import os

import pytest

pytest.importorskip("pyspark")

from recmetrics_pyspark_spark import release_shared, shared  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present"
)


def test_mmr_canonical_sims_rows_by_hand(spark):
    """mmr_rerank over a canonical (ia < ib) similarity table looks
    each pair up in both directions — including users whose
    candidates share no sims (map absent -> penalty 0) and
    pool-exhaustion tails. Rows derived by hand at lam = 0.5."""
    from recmetrics_pyspark_spark.operators.recommend import mmr_rerank

    cands = spark.createDataFrame(
        [
            (1, 10, 1.0), (1, 11, 0.95), (1, 20, 0.6), (1, 21, 0.59),
            (2, 10, 0.8), (2, 30, 0.7),            # no sims between them
            (3, 11, 0.4),                           # single-candidate pool
        ],
        ["user_id", "item_id", "score"],
    )
    canon = spark.createDataFrame(
        [(10, 11, 0.9), (10, 20, 0.05), (11, 20, 0.05), (20, 21, 0.8)],
        ["ia", "ib", "sim"],
    )
    got = sorted(
        map(tuple, mmr_rerank(cands, canon, k=3, lam=0.5).collect()),
        key=lambda r: (r[0], r[2]),  # (user, step)
    )
    assert got == [
        # step 1: best relevance. step 2: 11 -> .475 - .5*sim(10,11)
        # = .025, 20 -> .3 - .5*.05 = .275, 21 -> .295 - 0 = .295.
        # step 3: 11 -> .025 again, 20 -> .3 - .5*sim(20,21) = -.1
        (1, 10, 1, 1.0), (1, 21, 2, 0.295), (1, 11, 3, 0.025),
        # no sims: pure relevance order, pool of two ends at step 2
        (2, 10, 1, 0.8), (2, 30, 2, 0.35),
        (3, 11, 1, 0.4),
    ]


def test_kcore_converged_guard_falls_back_on_unconverged_memo(spark):
    """If the shared fixed-8 peel did NOT converge (adversarial
    graph: a long path peels only from the ends), the declared
    until-converged query must NOT serve the superset table — it
    serves a real until-converged peel instead (round-12 verdict
    item 5). That fallback is itself a shared build: two calls peel
    once, and its rows carry a true ``converged`` witness."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators.graph import k_core_decompose

    # lollipop: a 25-node path 0-1-...-24 hanging off the triangle
    # {100, 101, 102}, k=2. Each peel only removes the path's free
    # end, so 8 rounds leave a superset with converged=false; the true
    # 2-core is the triangle
    n = 25
    edges = [(i, i + 1) for i in range(n - 1)]
    edges += [(24, 100), (100, 101), (101, 102), (100, 102)]
    pairs = spark.createDataFrame(edges, ["ia", "ib"])
    fixed8 = k_core_decompose(pairs, k=2, rounds=8)
    rows8 = fixed8.collect()
    assert rows8 and not rows8[0]["converged"]  # precondition violated

    sf = "<r13-kcore-guard>"
    release_shared(spark)
    shared(spark, "kcore", sf, lambda: fixed8)
    calls = {"n": 0}

    def fake_pairs(*a, **kw):
        calls["n"] += 1
        return pairs

    orig_inter = e.R.interactions
    orig_sims = e.M.item_similarity_pairs
    orig_k = e._KCORE_K
    e.R.interactions = lambda spark, sf: None
    e.M.item_similarity_pairs = fake_pairs
    e._KCORE_K = 2
    try:
        first = e._kcore_items_converged(spark, sf)
        second = e._kcore_items_converged(spark, sf)
        rows = first.collect()
    finally:
        e.R.interactions = orig_inter
        e.M.item_similarity_pairs = orig_sims
        e._KCORE_K = orig_k
        release_shared(spark)

    assert calls["n"] == 1  # the fallback peel ran, once for two calls
    assert second is first
    assert sorted(r["node"] for r in rows) == [100, 101, 102]
    assert all(r["converged"] is True for r in rows)


def test_kcore_converged_guard_no_core_is_empty(spark):
    """A plain 25-node path has NO 2-core: the fallback's true fixed
    point is empty, never the unconverged fixed-8 superset."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators.graph import k_core_decompose

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], ["ia", "ib"]
    )
    sf = "<r13-kcore-path>"
    release_shared(spark)
    shared(spark, "kcore", sf, lambda: k_core_decompose(pairs, k=2, rounds=8))
    orig_inter = e.R.interactions
    orig_sims = e.M.item_similarity_pairs
    orig_k = e._KCORE_K
    e.R.interactions = lambda spark, sf: None
    e.M.item_similarity_pairs = lambda *a, **kw: pairs
    e._KCORE_K = 2
    try:
        rows = e._kcore_items_converged(spark, sf).collect()
    finally:
        e.R.interactions = orig_inter
        e.M.item_similarity_pairs = orig_sims
        e._KCORE_K = orig_k
        release_shared(spark)

    assert rows == []


def test_kcore_converged_guard_serves_converged_memo(spark):
    """Happy path: a shared table whose witness is true is served
    as-is (no rebuild)."""
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.operators.graph import k_core_decompose

    # triangle: already a 2-core, converges in round 1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], ["ia", "ib"]
    )
    memo = k_core_decompose(pairs, k=2, rounds=8)
    sf = "<r13-kcore-happy>"
    release_shared(spark)
    shared(spark, "kcore", sf, lambda: memo)

    def boom(*a, **kw):  # the fallback must NOT run
        raise AssertionError("fallback peel ran on a converged memo")

    orig_sims = e.M.item_similarity_pairs
    e.M.item_similarity_pairs = boom
    try:
        out = e._kcore_items_converged(spark, sf)
        rows = sorted(r["node"] for r in out.collect())
    finally:
        e.M.item_similarity_pairs = orig_sims
        release_shared(spark)

    assert out is memo
    assert rows == [1, 2, 3]
