"""SparkSession factory with scale-oriented defaults.

The reference (recmetrics_pyspark.py:264) leans on an ambient global
``spark``; we thread an explicit session everywhere and centralize the
conf that matters at 100 TB: AQE (runtime coalesce + skew-join splitting,
the long-tail item skew is real), broadcast threshold, Arrow for any
pandas-UDF path, UTC session time so event-time semantics are stable.
It also holds the registry of shared builds: intermediates several
queries read, built once per application (:func:`shared`).
"""

from __future__ import annotations

import os
import threading
from typing import Any, Callable, Hashable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "recmetrics_pyspark_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` with a pre-configured environment and the builder
    simply inherits it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core avoids tiny-task
        # overhead at test scale; AQE coalesces further at runtime. On a
        # cluster this should be ~2-3x total cores (set explicitly).
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/repartition outputs of persisted plans too —
        # our operators persist vocabulary-scale fan-out tables, and
        # without this their partitioning is frozen pre-AQE
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE picks the real reducer count per shuffle: start wide and
        # coalesce down to the target size. Wide-start matters for the
        # few large-cardinality aggregations (pair counting in
        # item_item_topk: 13M mostly-unique keys — measured 8.7s at 32
        # reducers vs 6.5s at 96 on local[32]); small shuffles coalesce
        # back to a handful of partitions so they pay nothing.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(4 * int(cpus)),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects; read as long and convert in the loader
        # (lossless: the generator emits microsecond precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/recmetrics-warehouse"),
        )
    )
    return builder.getOrCreate()


# (applicationId, name, key) -> (value, its frames persisted at build,
# the optimized plan a plan-keyed entry was built for, else None)
_SHARED: dict[tuple, tuple[Any, list[DataFrame], Any]] = {}
# reentrant: builds nest (_bt_chain -> _arena_games -> interactions)
_SHARED_LOCK = threading.RLock()


def _frames(value: Any) -> list[DataFrame]:
    """The DataFrames in a shared value: a frame, or a tuple, list or
    dict holding frames."""
    if isinstance(value, DataFrame):
        return [value]
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (tuple, list)):
        return [df for v in value for df in _frames(v)]
    return []


def _persisted(df: DataFrame) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def _get_or_build(
    full_key: tuple, build: Callable[[], Any], plan: Any
) -> Any:
    with _SHARED_LOCK:
        if full_key not in _SHARED:
            value = build()
            _SHARED[full_key] = (
                value, [df for df in _frames(value) if _persisted(df)], plan
            )
            return value
        value, persisted, _ = _SHARED[full_key]
        for df in persisted:
            if not _persisted(df):
                df.persist()
        return value


def shared(
    spark: SparkSession, name: str, key: Hashable, build: Callable[[], Any]
) -> Any:
    """Get-or-build one shared intermediate, keyed by
    ``(applicationId, name, key)``. ``build`` runs at most once per
    key, under one lock, so concurrent first requests all get the same
    object; it also picks the materialization (eager
    ``localCheckpoint``, ``persist()`` + an action, or a lazy
    ``persist()``). A hit re-persists any frame that was persisted at
    build time and has lost its storage level since
    (``spark.catalog.clearCache()``), so an entry never silently
    recomputes its lineage per consumer."""
    return _get_or_build(
        (spark.sparkContext.applicationId, name, key), build, None
    )


def _plan_hash(plan: Any) -> int:
    """The semantic hash of a Catalyst plan: 32 bits, so a bucket
    rather than an identity."""
    return plan.semanticHash()


def shared_plan(
    name: str, df: DataFrame, params: Hashable, build: Callable[[], Any]
) -> Any:
    """:func:`shared` for an intermediate derived from a DataFrame the
    caller holds: keyed by the OPTIMIZED plan of ``df`` (pass the
    projection of the columns the build reads) and ``params``.

    The optimized plan is what makes two derivations of one input the
    same key: a frame with extra columns the build never reads (a
    url-augmented document table) optimizes to the same projection as
    the bare one, while their analyzed plans differ. The plan hash only
    picks a bucket; a hit must also pass ``sameResult`` against the
    plan the entry was built for, and a colliding plan takes the next
    slot of the bucket with a build of its own. An input that is itself
    cached optimizes to its cache entry, so a frame unpersisted and
    persisted again keys a new entry."""
    plan = df._jdf.queryExecution().optimizedPlan()
    app = df.sparkSession.sparkContext.applicationId
    with _SHARED_LOCK:
        slot = 0
        while True:
            full_key = (app, name, (_plan_hash(plan), params, slot))
            held = _SHARED.get(full_key)
            if held is None or held[2].sameResult(plan):
                return _get_or_build(full_key, build, plan)
            slot += 1


def release_shared(spark: SparkSession) -> None:
    """Unpersist and forget every shared build of ``spark``'s
    application; the next request rebuilds. Checkpointed frames have
    nothing to unpersist: their blocks go once nothing refers to them."""
    app = spark.sparkContext.applicationId
    with _SHARED_LOCK:
        for full_key in [k for k in _SHARED if k[0] == app]:
            for df in _frames(_SHARED.pop(full_key)[0]):
                df.unpersist()
