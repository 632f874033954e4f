"""Round-11 additions: the size-guarded IVF probe join (broadcast vs
cid-shuffle result equality), the Bradley-Terry self-game gate and
pair-grain partitioning guard, plus the new witnessed rows (simhash
recall report, arena iteration-sensitivity, PQ-lane recall report)."""

import pytest

F = pytest.importorskip("pyspark.sql.functions")


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _clustered_vectors():
    rows = []
    for i in range(20):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        jitter = 0.01 * (i % 5)
        rows.append((i, [base[0] + jitter, base[1] + jitter, 0.0, 0.1]))
    return rows


# ---------------------------------------------------------------------------
# semantic_decontaminate_ivf: size-guarded probe join
# ---------------------------------------------------------------------------


def test_ivf_probe_guard_broadcast_and_shuffle_agree(spark):
    """broadcast_probe_limit=0 forces the cid-shuffle fallback; its
    output is row-identical to the broadcast path (the guard changes
    the physical join strategy only, never values)."""
    from recmetrics_pyspark_spark.operators.similarity import (
        semantic_decontaminate_ivf,
    )

    vecs = _vec_df(spark, _clustered_vectors())
    train = vecs.filter(F.col("vec_id") >= 8)
    ev = vecs.filter(F.col("vec_id") < 8)
    kw = dict(threshold=0.9, n_cells=4, nprobe=2, quantizer=vecs)
    bcast = {
        r.train_id: (r.n_eval_hits, r.best_eval_id, r.best_cos)
        for r in semantic_decontaminate_ivf(train, ev, **kw).collect()
    }
    shuffled = {
        r.train_id: (r.n_eval_hits, r.best_eval_id, r.best_cos)
        for r in semantic_decontaminate_ivf(
            train, ev, broadcast_probe_limit=0, **kw
        ).collect()
    }
    assert bcast == shuffled
    assert len(bcast) > 0


def test_ivf_probe_guard_shuffle_plan_has_no_probe_broadcast(spark):
    """Above the limit the probe side must NOT appear under a
    BroadcastExchange: the lane's whole point is bounding memory when
    the eval set is too large to broadcast."""
    from recmetrics_pyspark_spark.operators.similarity import (
        semantic_decontaminate_ivf,
    )

    vecs = _vec_df(spark, _clustered_vectors())
    train = vecs.filter(F.col("vec_id") >= 8)
    ev = vecs.filter(F.col("vec_id") < 8)
    out = semantic_decontaminate_ivf(
        train, ev, threshold=0.9, n_cells=4, nprobe=2,
        quantizer=vecs, broadcast_probe_limit=0,
    )
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    # centroid cross-joins legitimately broadcast (k x dim); the pin
    # is on the probe-vs-cells join SPECIFICALLY — the only equi-join
    # keyed on cid — which must run as a shuffle join and must not be
    # planned (or AQE-converted) back under a BroadcastExchange.
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin)[^\n]*\[cid", plan), plan
    assert not re.search(r"BroadcastHashJoin[^\n]*\[cid", plan), plan


# ---------------------------------------------------------------------------
# bradley_terry_ratings: self-game gate + partitioning guard
# ---------------------------------------------------------------------------


def test_bradley_terry_self_games_dropped(spark):
    """Appending winner==loser rows leaves ratings bit-identical —
    self-games are not pairwise outcomes and must not inject wins or
    MM denominator self-terms."""
    from recmetrics_pyspark_spark.operators.ranking import (
        bradley_terry_ratings,
    )

    games = [("a", "b")] * 3 + [("b", "c")] * 2 + [("c", "a")]
    clean = spark.createDataFrame(games, ["winner", "loser"])
    dirty = spark.createDataFrame(
        games + [("a", "a")] * 4 + [("c", "c")], ["winner", "loser"]
    )
    ref = sorted(
        (r.item, r.n_wins, r.n_games, r.rating, r.rnk)
        for r in bradley_terry_ratings(clean).collect()
    )
    got = sorted(
        (r.item, r.n_wins, r.n_games, r.rating, r.rnk)
        for r in bradley_terry_ratings(dirty).collect()
    )
    assert ref == got


def test_bradley_terry_partition_guard_paths_agree(spark):
    """small_pair_limit=0 forces the hash-distributed pair table; the
    fit is bit-identical to the single-partition path (DECIMAL exact
    sums are partition-order independent by construction — this pins
    that claim)."""
    from recmetrics_pyspark_spark.operators.ranking import (
        bradley_terry_ratings,
    )

    games = [
        (f"i{g % 7}", f"i{(g * 3 + 1) % 7}")
        for g in range(40)
        if g % 7 != (g * 3 + 1) % 7
    ]
    df = spark.createDataFrame(games, ["winner", "loser"])
    one = sorted(
        (r.item, r.n_wins, r.n_games, r.rating, r.rnk)
        for r in bradley_terry_ratings(df).collect()
    )
    many = sorted(
        (r.item, r.n_wins, r.n_games, r.rating, r.rnk)
        for r in bradley_terry_ratings(df, small_pair_limit=0).collect()
    )
    assert one == many


# ---------------------------------------------------------------------------
# data_mixture_pipeline: streaming smoke (foreachBatch incremental recompute)
# ---------------------------------------------------------------------------


def test_data_mixture_pipeline_under_foreach_batch(spark, tmp_path):
    """The mixture plan is a GLOBAL computation (tercile cutoffs,
    dedup components, and the temperature normalizer all depend on
    the whole corpus), so its streaming shape is
    recompute-over-accumulated-corpus: each micro-batch lands in the
    accumulated documents table inside foreachBatch and the full
    ccnet-gate -> soft-dedup-weights -> T=0.7 allocation chain
    re-runs over it. Pins that the stage handoffs survive
    incremental recomputation: the plan after the final micro-batch
    is row-identical to the one-shot batch run over the same corpus
    (the incremental_line_dedup smoke pattern applied to the
    selection/mixture layer)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet")
    half1 = docs.filter("doc_id % 2 = 0")
    half2 = docs.filter("doc_id % 2 = 1")

    src = tmp_path / "stream_src"
    src.mkdir()
    acc = tmp_path / "acc"  # accumulated-corpus dir fed to the query
    acc.mkdir()

    plans = []

    def handle(bdf, _bid):
        bdf.select("doc_id", "text", "lang", "source", "n_chars").write.mode(
            "append"
        ).parquet(str(acc / "documents.parquet"))
        plan = e.queries()["data_mixture_pipeline"](spark, str(acc))
        plans.append(sorted(map(tuple, plan.collect())))

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .start()
    )
    try:
        half1.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        half2.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(plans) == 2
    batch = sorted(
        map(tuple, e.queries()["data_mixture_pipeline"](spark, sf).collect())
    )
    assert plans[-1] == batch
    # the half-corpus plan must itself be a non-empty allocation
    # (it need not equal the full-corpus one — global cutoffs move)
    assert len(plans[0]) > 0


def test_bt_sensitivity_matches_two_independent_fits(spark):
    """The marked one-chain sensitivity equals the naive
    two-independent-fits comparison (prefix property of the fixed-
    iteration MM chain), and a rank-stable arena reports zero
    moves."""
    from recmetrics_pyspark_spark.operators.ranking import (
        bradley_terry_ratings,
        bradley_terry_rank_sensitivity,
    )

    games = [
        (f"i{g % 6}", f"i{(g * 5 + 2) % 6}")
        for g in range(60)
        if g % 6 != (g * 5 + 2) % 6
    ]
    df = spark.createDataFrame(games, ["winner", "loser"])
    row = bradley_terry_rank_sensitivity(
        df, iters_a=4, iters_b=8, top_k=10
    ).collect()[0]
    b8 = {r.item: r.rnk for r in bradley_terry_ratings(df, iters=8).collect()}
    b4 = {r.item: r.rnk for r in bradley_terry_ratings(df, iters=4).collect()}
    assert row.n_items == len(b8) == len(b4)
    moves = [i for i in b8 if b8[i] != b4[i]]
    assert row.n_rank_moves == len(moves)
    assert row.max_rank_delta == max(
        (abs(b8[i] - b4[i]) for i in b8), default=0
    )
    assert row.top10_overlap == sum(
        1 for i in b8 if b8[i] <= 10 and b4[i] <= 10
    )


def test_ivf_recall_report_bounds_and_consistency(spark):
    """One row per query; recall in [0, 1]; n_hit never exceeds the
    IVF lane's own row count for that query (the report only counts
    exact-side matches)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    rows = e.queries()["ivf_recall_report"](spark, sf).collect()
    assert len(rows) == 5  # vec_id < 5 query set
    ivf = e.queries()["ivf_ann_topk"](spark, sf)
    per_q = {
        r.query_id: r.n
        for r in ivf.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_exact == 10
        assert 0 <= r.n_hit <= min(10, per_q.get(r.query_id, 0))
        assert 0.0 <= r.recall_at_10 <= 1.0


def test_capped_adjacency_memo_shared_and_clearable(spark, shared_names):
    """The two link predictors over the same pair table share one
    (capped, deg) shared build; release_shared drops it; and
    predictor outputs are identical whether the build is cold or
    warm."""
    from recmetrics_pyspark_spark import release_shared
    from recmetrics_pyspark_spark.operators.graph import (
        adamic_adar_links,
        common_neighbor_links,
    )

    pairs = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 2), ("b", "c", 2), ("b", "d", 1)],
        ["ia", "ib", "n_common"],
    )
    release_shared(spark)
    cold_aa = sorted(map(tuple, adamic_adar_links(pairs).collect()))
    assert shared_names().count("capped_adjacency") == 1
    cold_cn = sorted(map(tuple, common_neighbor_links(pairs).collect()))
    # second predictor hit the same entry
    assert shared_names().count("capped_adjacency") == 1
    release_shared(spark)
    assert shared_names() == []
    warm_aa = sorted(map(tuple, adamic_adar_links(pairs).collect()))
    warm_cn = sorted(map(tuple, common_neighbor_links(pairs).collect()))
    assert cold_aa == warm_aa and cold_cn == warm_cn
