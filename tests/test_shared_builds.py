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
