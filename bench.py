#!/usr/bin/env python3
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed with a count-style action that forces full
evaluation without collecting rows to the driver. Queries run one at
a time, so each wall time is the query's own.

$SPARK_GRAFT_BENCH_RUNS>1 switches to the pinned variance protocol
(SCALE.md "Bench protocol"): the process re-execs itself N times —
each run a FRESH solo JVM, because queries persist shared
intermediates and a same-session rerun would measure the cache, not
the plan — and reports the per-query MEDIAN. Identical-run totals on
this box have been observed ±25% apart, so single runs cannot
attribute a move to code; the median-of-3 can. Default stays 1 (the
driver's per-round call); BENCH_LOCAL.json records the protocol used.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from statistics import median


def _bench_local_path() -> str:
    return os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        ),
    )


def _loadavg() -> list | None:
    """1/5/15-min load averages — recorded in BENCH_HISTORY entries so
    environmental claims about a run ('the box was busy') carry
    evidence instead of inference (round-11 verdict item 3c). The
    solo-JVM protocol expects ~0 background load; a 1-min figure near
    or above the core count at run start marks the total as
    contaminated for cross-round comparison."""
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except (OSError, ValueError):
        return None


def _append_history(payload: dict) -> None:
    """Append the FULL per-query payload to the tracked
    BENCH_HISTORY.jsonl (one line per run, wall-clock stamped). The
    driver's per-round BENCH_rN.json keeps only the compact stdout
    line (top-10 slowest), so cross-round per-query archaeology
    previously needed git spelunking through BENCH_LOCAL.json
    overwrites — this file keeps every run's full map in-tree
    (round-10 verdict item 8)."""
    line = json.dumps(
        {"ts": int(time.time()), **payload}, separators=(",", ":")
    )
    hist = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
    )
    try:
        with open(hist, "a") as fh:
            fh.write(line + "\n")
    except OSError as exc:
        print(f"[bench] could not append {hist}: {exc}", file=sys.stderr)


def _emit_compact(total: float, sf: str, timings: dict, extra: dict) -> None:
    """One compact JSON line on the REAL stdout. The driver keeps only
    the last ~2000 chars of stdout, so the full per-query map goes to
    BENCH_LOCAL.json and this line stays under ~1900 chars (dropping
    detail fields if a failure-heavy round would blow the budget)."""
    failed = sorted(n for n, v in timings.items() if v < 0)
    slowest = dict(sorted(
        ((n, v) for n, v in timings.items() if v >= 0),
        key=lambda kv: -kv[1],
    )[:10])
    base = {
        "metric": "total_query_wall_sec", "value": total, "unit": "sec",
        "sf": sf, "n_queries": len(timings),
        "n_failed": len(failed), "failed": failed[:20],
        "queries": slowest,
        "queries_file": os.path.basename(_bench_local_path()),
        **extra,
    }
    compact = json.dumps(base)
    if len(compact) > 1900:  # paranoia: never exceed the tail window
        base.pop("failed", None)
        base.pop("queries", None)
        compact = json.dumps(base)
    sys.stderr.flush()
    os.write(_REAL_STDOUT, (compact + "\n").encode())


def _select_queries(qs: dict, only: str) -> dict:
    """The ``SPARK_GRAFT_BENCH_ONLY`` subset (comma-separated names, in
    the order given). Exits non-zero, naming them, if any name is not
    a declared query."""
    keep = [n.strip() for n in only.split(",") if n.strip()]
    unknown = [n for n in keep if n not in qs]
    if unknown:
        sys.exit(
            "[bench] SPARK_GRAFT_BENCH_ONLY names unknown queries: "
            + ", ".join(unknown)
        )
    return {n: qs[n] for n in keep}


def _multi_run(n_runs: int) -> None:
    """Parent mode: N fresh solo-JVM child runs, median per query.
    Each child writes its payload to its OWN temp file (never the
    committed BENCH_LOCAL.json — a failed child must not alias a
    previous run's data, or a previous ROUND's committed medians,
    into this protocol); failed or unreadable runs are dropped and
    the median is taken over the runs that actually completed."""
    import tempfile

    runs: list[dict] = []
    loadavg_trace: list = [_loadavg()]
    for i in range(n_runs):
        fd, tmp = tempfile.mkstemp(prefix="bench_run_", suffix=".json")
        os.close(fd)
        os.unlink(tmp)  # child recreates it; absence == failed run
        env = dict(os.environ, SPARK_GRAFT_BENCH_RUNS="1",
                   SPARK_GRAFT_BENCH_OUT=tmp)
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        wall = time.perf_counter() - t0
        payload = None
        if proc.returncode == 0:
            try:
                with open(tmp) as fh:
                    payload = json.loads(fh.read())
            except (OSError, ValueError) as exc:
                print(f"[bench] run {i + 1}: unreadable payload: {exc}",
                      file=sys.stderr)
        else:
            print(f"[bench] run {i + 1} exited {proc.returncode} — dropped",
                  file=sys.stderr)
        try:
            os.unlink(tmp)
        except OSError:
            pass
        loadavg_trace.append(_loadavg())
        if payload is not None:
            runs.append(payload)
            print(f"[bench] run {i + 1}/{n_runs}: "
                  f"{payload['value']}s ({wall:.0f}s wall)",
                  file=sys.stderr)
    if not runs:
        print("[bench] all runs failed — no payload", file=sys.stderr)
        sys.exit(1)
    names = sorted({n for r in runs for n in r["queries"]})

    def _med(n: str) -> float:
        # median over the runs where the query actually SUCCEEDED —
        # mixing the -1.0 failure sentinel into the median would
        # silently deflate it toward the fastest success; a query that
        # never succeeded stays a loud -1.0
        ok = [v for r in runs
              if (v := r["queries"].get(n, -1.0)) >= 0]
        return round(median(ok), 3) if ok else -1.0

    med = {n: _med(n) for n in names}
    total = round(sum(v for v in med.values() if v >= 0), 3)
    protocol = (
        f"median-of-{len(runs)}-completed-of-{n_runs} solo-JVM "
        "(SCALE.md Bench protocol)"
    )
    payload = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": med,
        "sf": runs[0]["sf"],
        "protocol": protocol,
        "run_totals": [r["value"] for r in runs],
        # loadavg sampled before run 1 and after each child run —
        # run_totals[i] pairs with the [i], [i+1] bracket
        "loadavg_trace": loadavg_trace,
    }
    # Parent honors SPARK_GRAFT_BENCH_OUT exactly like single-run mode
    # (the children were pointed at their own temp files above, so the
    # inherited value is free for the parent to consume); the median
    # payload is ALSO written to the tracked BENCH_MEDIAN.json so
    # round-over-round comparisons diff a committed file, not prose —
    # but only for protocol runs: an explicit SPARK_GRAFT_BENCH_OUT
    # marks a scratch run that must not clobber the committed artifact.
    payload_line = json.dumps(payload) + "\n"
    with open(_bench_local_path(), "w") as fh:
        fh.write(payload_line)
    if ("SPARK_GRAFT_BENCH_OUT" not in os.environ
            and not os.environ.get("SPARK_GRAFT_BENCH_ONLY")):
        median_out = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_MEDIAN.json"
        )
        with open(median_out, "w") as fh:
            fh.write(payload_line)
        # protocol runs only — a scratch multi-run (explicit
        # SPARK_GRAFT_BENCH_OUT) must not pollute the committed
        # history, same rule as BENCH_MEDIAN.json above
        _append_history(payload)
    _emit_compact(total, runs[0]["sf"], med, {
        "protocol": protocol, "run_totals": payload["run_totals"],
    })

# The driver parses our stdout for the single JSON line, but the JVM
# (launched as a child inheriting fd 1) prints banner noise there that
# has broken the parse two rounds running ("Using incubator modules",
# log4j init lines). Guarantee a clean channel at the OS level: park
# the real stdout on a saved fd and point fd 1 at stderr BEFORE any
# Spark import/launch, so every byte the JVM or a library prints goes
# to stderr; only the final JSON payload is written to the saved fd.
_REAL_STDOUT = os.dup(1)
os.dup2(2, 1)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from recmetrics_pyspark_spark import get_spark  # noqa: E402


def main() -> None:
    qs = entrymod.queries()
    # SPARK_GRAFT_BENCH_ONLY: comma-separated declared-query subset for
    # SCRATCH lanes (the r13 sf1.0 scaling lane runs just the top-10
    # heavies at 10x data). Unset, a run times the full declared set in
    # declared order. Checked before any JVM starts, so a typo fails fast.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        qs = _select_queries(qs, only)
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "1"))
    if n_runs > 1:
        _multi_run(n_runs)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_start = _loadavg()
    spark = get_spark("recmetrics-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up so the first timed query doesn't absorb
    # session startup: exercise the codepaths every query shares —
    # parquet scan, hash-agg shuffle, broadcast join, window rank —
    # once, outside the timed region (measured: first query drops from
    # ~6.6s to its ~1.1s steady-state at sf0.1 on local[32])
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as WF

        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_custkey")
            .count()
            .withColumn(
                "r",
                WF.row_number().over(
                    Window.partitionBy("o_custkey").orderBy("count")
                ),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception as exc:
        print(f"[bench] warm-up skipped: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    t0_all = time.perf_counter()
    # DECLARED order, not alphabetical: composite operators are declared
    # after their parts (item_item_topk before item_based_recommendations),
    # so each query's timing reflects its own marginal cost — the shared
    # persisted lineage is paid by the operator that owns it, and
    # composites reuse the session's plan cache exactly as a user's
    # notebook session would.
    for name, fn in qs.items():
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            # force full evaluation of every column without driver collect:
            # the noop sink consumes all rows JVM-side, so the timing is
            # the query plan's cost alone. (foreach(lambda ..) also
            # evaluates fully, but serializes every output row through
            # Python workers — an artifact cost that grows with result
            # size and isn't part of the plan being measured.)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # keep benching the rest
            timings[name] = -1.0
            print(f"[bench] {name} FAILED: {exc}", file=sys.stderr)
    total = round(time.perf_counter() - t0_all, 3)

    # Full per-query map goes to a well-known file (overridable via
    # SPARK_GRAFT_BENCH_OUT — the multi-run parent points each child at
    # its own temp file); stdout gets the shared COMPACT summary line.
    full_payload = json.dumps(
        {
            "metric": "total_query_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
    )
    out_path = _bench_local_path()
    try:
        with open(out_path, "w") as fh:
            fh.write(full_payload + "\n")
    except OSError as exc:
        print(f"[bench] could not write {out_path}: {exc}", file=sys.stderr)

    # history: standalone runs only — a multi-run child (or any scratch
    # run, marked by an explicit SPARK_GRAFT_BENCH_OUT or a
    # SPARK_GRAFT_BENCH_ONLY subset) is aggregated into its parent's
    # median line instead, the BENCH_MEDIAN rule
    if ("SPARK_GRAFT_BENCH_OUT" not in os.environ
            and not os.environ.get("SPARK_GRAFT_BENCH_ONLY")):
        _append_history(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "protocol": "single-run",
                "loadavg": {"start": load_start, "end": _loadavg()},
            }
        )
    _emit_compact(total, sf, timings, {})


if __name__ == "__main__":
    main()
