"""The session's shared-build registry (session.py::shared): one build
per (application, name, key) however many threads ask at once, the
re-persist guard on a hit, and release_shared."""

import os
import sys
import threading
import time

import pytest

pytest.importorskip("pyspark")

from recmetrics_pyspark_spark import release_shared, shared  # noqa: E402


def _persisted(df):
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_concurrent_requests_build_once_and_release_rebuilds(spark):
    release_shared(spark)
    calls = []

    def build():
        calls.append(threading.get_ident())
        time.sleep(0.2)  # hold the build open while the others arrive
        return spark.range(10).persist()

    start = threading.Barrier(8, timeout=60)
    got = [None] * 8

    def ask(i):
        start.wait()
        got[i] = shared(spark, "registry-test", "k", build)

    threads = [threading.Thread(target=ask, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)

    assert len(calls) == 1
    first = got[0]
    assert all(df is first for df in got)
    assert _persisted(first)

    release_shared(spark)
    assert not _persisted(first)
    again = shared(spark, "registry-test", "k", build)
    assert len(calls) == 2
    assert again is not first
    release_shared(spark)


def test_hit_repersists_after_clear_cache(spark):
    release_shared(spark)
    df = shared(spark, "registry-test", "p", lambda: spark.range(5).persist())
    spark.catalog.clearCache()
    assert not _persisted(df)
    assert shared(spark, "registry-test", "p", lambda: None) is df
    assert _persisted(df)
    release_shared(spark)


def test_nested_builds_and_keys(spark):
    """A build may request another shared build (the lock is
    reentrant); names and keys both separate entries."""
    release_shared(spark)
    inner = shared(spark, "registry-inner", "k", lambda: spark.range(3))
    outer = shared(
        spark,
        "registry-outer",
        "k",
        lambda: (shared(spark, "registry-inner", "k", lambda: None), 7),
    )
    assert outer == (inner, 7)
    other = shared(spark, "registry-inner", "k2", lambda: spark.range(4))
    assert other is not inner
    release_shared(spark)


def test_item_pair_table_is_one_named_build(spark, shared_names):
    """The graph and MMR queries read the item-pair table through one
    named build (`_item_sims`), not through plan matching of separate
    item_similarity_pairs calls: two of them leave one entry."""
    from tests.oracle import SF_DIR_SMALL

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", SF_DIR_SMALL)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    import __spark_entry__ as e

    release_shared(spark)
    qs = e.queries()
    assert qs["degree_distribution"](spark, sf_dir).count() > 0
    assert qs["item_triangles"](spark, sf_dir).count() > 0
    assert shared_names().count("item_sims") == 1
    release_shared(spark)


def test_km_base_is_one_named_build(spark, shared_names):
    """The IVF lanes read the k-means base frame (vid, v, v_sq) through
    one named build (`km_base`), not through plan matching of separate
    persist() calls: two of them leave one entry."""
    from tests.oracle import SF_DIR_SMALL

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", SF_DIR_SMALL)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    import __spark_entry__ as e

    release_shared(spark)
    qs = e.queries()
    assert qs["ivf_ann_topk"](spark, sf_dir).count() > 0
    assert qs["ivfsq_ann_topk"](spark, sf_dir).count() > 0
    assert shared_names().count("km_base") == 1
    release_shared(spark)


_DEDUP_BUILDS = (
    "word_shingles", "capped_shingles", "minhash_bands", "minhash_candidates",
)


def test_dedup_builds_key_on_projected_plan(spark, shared_names):
    """The url-augmented frame of domain_neardup_rates reads the same
    dedup builds as minhash_lsh_pairs over the bare documents: the
    builds key on the optimized plan of the (doc_id, text) projection,
    which the extra column does not change (their analyzed plans
    differ)."""
    from tests.oracle import SF_DIR_SMALL

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", SF_DIR_SMALL)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    import __spark_entry__ as e
    from recmetrics_pyspark_spark.functions.curation import (
        domain_neardup_rates,
    )
    from recmetrics_pyspark_spark.operators.dedup import minhash_lsh_pairs

    release_shared(spark)
    assert minhash_lsh_pairs(e._docs(spark, sf_dir)).count() > 0
    assert domain_neardup_rates(e._docs_with_urls(spark, sf_dir)).count() > 0
    names = shared_names()
    assert {n: names.count(n) for n in _DEDUP_BUILDS} == dict.fromkeys(
        _DEDUP_BUILDS, 1
    )
    release_shared(spark)


def test_plan_hash_collision_gets_its_own_build(
    spark, shared_names, monkeypatch
):
    """The plan hash only picks a bucket: with every plan hashing alike,
    two corpora still get one build each (a hit must pass sameResult),
    each holding its own rows, and a repeat request hits its own."""
    from recmetrics_pyspark_spark import session
    from recmetrics_pyspark_spark.operators.dedup import word_shingles

    monkeypatch.setattr(session, "_plan_hash", lambda plan: 0)
    a = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    b = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
    release_shared(spark)
    sh_a = word_shingles(a, "doc_id", "text")
    sh_b = word_shingles(b, "doc_id", "text")
    assert shared_names().count("word_shingles") == 2
    assert sorted(r.shingle for r in sh_a.collect()) == ["a b c", "b c d"]
    assert [r.shingle for r in sh_b.collect()] == ["x y z"]
    assert word_shingles(a, "doc_id", "text") is sh_a
    assert word_shingles(b, "doc_id", "text") is sh_b
    release_shared(spark)


def test_release_leaves_no_dedup_cache_entries(spark):
    """Every table the dedup family persists is a shared build, so
    release_shared leaves the CacheManager empty (the same check as
    test_funnel_leaves_no_cache_manager_entries)."""
    from recmetrics_pyspark_spark.operators import dedup as D

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat today"),
            (2, "the cat sat on the mat yesterday"),
            (3, "a dog ran in the park"),
            (4, "the cat sat on the mat"),
        ],
        ["doc_id", "text"],
    )
    for q in (
        D.ngram_jaccard_pairs,
        D.containment_pairs,
        D.dup_ngram_fraction,
        D.minhash_lsh_pairs,
        D.simhash_near_pairs,
    ):
        q(docs).collect()
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    release_shared(spark)
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    assert cache_mgr.isEmpty(), "dedup builds outlived release_shared"
