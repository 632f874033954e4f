"""One benchmark client process: one JVM, one workload, one closed loop.

Started by ``run.py`` with the repository root as working directory and
on ``PYTHONPATH``. It builds the session with the package's
``get_spark``, warms it up, then runs the workload's queries one at a
time in declaration order, each forced with the noop-sink action that
``bench.py`` uses: one timed pass over the list, so every run times the
same work on a cold session. Afterwards every query's output is
checked against its DuckDB oracle, untimed. The run record is written
as JSON to ``--record``. With ``--setup-only`` the client stops once the
session is ready: ``run.py`` starts such clients besides the main one and
reports the median set-up time.

With ``--trace 1`` each query also gets a layer breakdown read from
outside the package: Spark work launched while the query callable runs
(its job group), Catalyst phase times and exchange count of the action's
own QueryExecution (a QueryExecutionListener), and the action's jobs,
stages and task metrics (the status store, scoped to the query's job
group).
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

import pyspark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from recmetrics_pyspark_spark import get_spark  # noqa: E402

import check  # noqa: E402
import proctree  # noqa: E402
import workloads  # noqa: E402


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _warm_up(spark, sf_dir: str) -> None:
    """The warm-up of ``bench.py``: the code paths every query shares
    (scan, hash aggregate, broadcast join, window), once."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .count()
        .withColumn(
            "r",
            F.row_number().over(Window.partitionBy("o_custkey").orderBy("count")),
        )
        .write.format("noop").mode("overwrite").save()
    )


def _run_query(spark, sc, fn, sf_dir: str, tag: str, tracer) -> dict:
    rec: dict = {}
    sc.setJobGroup(f"{tag}/build", tag)
    t0 = time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}/exec", tag)
        if tracer:
            tracer.before_action()
        w0, ta = time.time(), time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        w1, t2 = time.time(), time.perf_counter()
        rec.update(build_s=t1 - t0, action_s=t2 - ta, wall_s=(t1 - t0) + (t2 - ta))
    except Exception as exc:  # the query failed; its wall time still counts
        rec.update(wall_s=time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:500])
    finally:
        sc._jsc.clearJobGroup()
    if tracer and "error" not in rec:
        rec["layers"] = tracer.query_layers(tag, w0, w1)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True, help="input tables")
    ap.add_argument("--record", required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall clock at process spawn")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--no-check", action="store_true")
    ap.add_argument("--setup-only", action="store_true", help="stop once the session is ready")
    ap.add_argument("--perturb", default="", help="query whose checked output is altered")
    args = ap.parse_args()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = workloads.WORKLOADS[args.workload]["queries"]
    unknown = [n for n in names if n not in qs]
    no_oracle = [n for n in names if n in qs and n not in oracles]
    if unknown or no_oracle:
        print(f"[perfbench] workload {args.workload}: not in queries(): {unknown}; "
              f"without an oracle: {no_oracle}", file=sys.stderr)
        return 3

    record: dict = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "queries": names,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "loadavg_start": _loadavg(),
        },
    }
    t_sess = time.time()
    spark = get_spark("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    t_warm = time.time()
    _warm_up(spark, args.data)
    t_ready = time.time()
    record["setup"] = {
        "setup_s": t_ready - args.t0,
        "interpreter_s": T_IMPORT - args.t0,
        "import_s": t_sess - T_IMPORT,
        "start_s": t_warm - t_sess,
        "warmup_s": t_ready - t_warm,
    }
    record["env"]["java"] = sc._jvm.java.lang.System.getProperty("java.version")
    if args.setup_only:
        spark.stop()
        with open(args.record, "w") as fh:
            json.dump(record, fh)
        return 0

    tracer = None
    if args.trace:
        import tracer as tracer_mod

        tracer = tracer_mod.Tracer(spark)

    cpu0 = proctree.cpu_seconds(os.getpid())
    steal0, ticks0 = _steal_ticks()
    results = []
    t_begin = time.perf_counter()
    for i, name in enumerate(names):
        rec = _run_query(spark, sc, qs[name], args.data, f"q{i}", tracer)
        results.append({"name": name, **rec})
    record["pass"] = {"wall_s": time.perf_counter() - t_begin, "results": results}
    record["cpu_s"] = proctree.cpu_seconds(os.getpid()) - cpu0
    steal1, ticks1 = _steal_ticks()
    # CPU time the hypervisor gave to other guests while the queries ran
    record["env"]["steal_frac"] = (steal1 - steal0) / max(1, ticks1 - ticks0)
    record["peak_rss_mb"] = proctree.peak_rss_mb(os.getpid())

    t_check = time.time()
    record["check"] = []
    if not args.no_check:
        with ThreadPoolExecutor(max_workers=1) as pool:
            wants = [pool.submit(check.run_oracle, oracles[n], args.data) for n in names]
            for name, want in zip(names, wants):
                record["check"].append({"name": name, **check.check_query(
                    spark, qs[name], want, args.data, perturb=(name == args.perturb))})
    record["env"]["loadavg_end"] = _loadavg()
    t_stop = time.time()
    spark.stop()
    record["phases_s"] = {"check": t_stop - t_check, "stop": time.time() - t_stop}
    with open(args.record, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
