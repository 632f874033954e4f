#!/usr/bin/env python3
"""Layered benchmark of recmetrics_pyspark_spark: one workload, one run.

    python3 perfbench/run.py --workload recsys-sf0.01 --seed 1 --seconds 10 --trace 0

Reads the seed-42 test corpus committed under perfbench/data, starts a
fresh client process (client.py: one JVM, ``local[$(nproc)]``) that
sets up, runs the workload's queries once and checks their outputs,
then another client that only sets up, for the median set-up time.
Every run does the same work: ``--seconds`` is recorded, not used to
repeat the queries (the lists are sized so that one pass takes longer,
11-21 s on 4 cores). It prints, as the last line of standard output,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
The full run record, per query, goes to perfbench/runs/. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import proctree
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # a run must end within 180 s
SETUPS = 2  # set-ups per untraced run; setup_s is their median
# units of what end_to_end() reports, for the summary line
UNITS = {"setup_s": "s", "total_s": "s", "query_p50_s": "s", "query_tail_s": "s",
         "query_tail_pct": "%", "queries_timed": "count", "cpu_s": "s",
         "peak_rss_mb": "MB", "failed_frac": "fraction"}


def _data_dir(sf: float) -> str:
    return os.path.join(HERE, "data", f"sf{sf}")


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of a client's process group (JVM, Python
    workers) and wait until all of it is gone."""
    for _ in range(100):
        if not proctree.group_alive(pgid):
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _client(args, data: str, work: str, deadline: float, trace: int,
            setup_only: bool = False) -> dict:
    """Run one client process to completion; return its run record. The
    traced client skips the output check: its untraced twin does it."""
    os.makedirs(work, exist_ok=True)
    record = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # workers import the package too, whatever the working directory
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        # keep the JVM's temp files, and its perf-data file that ignores
        # java.io.tmpdir, out of /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "client.py"),
           "--workload", args.workload, "--seed", str(args.seed), "--data", data,
           "--record", record, "--trace", str(trace), "--t0", repr(time.time())]
    if trace:
        cmd.append("--no-check")
    if setup_only:
        cmd.append("--setup-only")
    if args.perturb:
        cmd += ["--perturb", args.perturb]
    log_path = os.path.join(work, "client.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"client exited with {code}:\n{tail}")
    with open(record) as fh:
        return json.load(fh)


def _tail(walls: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples above it, as
    (value, percentile). With 10 samples or fewer no percentile has, and
    the largest sample is reported."""
    s = sorted(walls)
    i = len(s) - 11 if len(s) > 10 else len(s) - 1
    return s[i], 100.0 * (i + 1) / len(s)


def end_to_end(rec: dict, setups: list[float]) -> dict:
    walls = [q["wall_s"] for q in rec["pass"]["results"]]
    tail, pct = _tail(walls)
    return {
        "setup_s": statistics.median(setups),
        "total_s": rec["pass"]["wall_s"],
        "query_p50_s": statistics.median(walls),
        "query_tail_s": tail,
        "query_tail_pct": pct,
        "queries_timed": len(walls),
        "cpu_s": rec["cpu_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
        "failed_frac": len(failed_queries(rec)) / len(rec["queries"]),
    }


def failed_queries(*recs: dict) -> list[str]:
    """Queries that raised in the timed pass or failed the output check."""
    bad = {q["name"] for r in recs for q in r["pass"]["results"] if "error" in q}
    bad |= {c["name"] for r in recs for c in r["check"] if not c["ok"]}
    return sorted(bad)


def per_layer(rec: dict, untraced: dict) -> dict:
    """Workload totals per layer from a traced record; the check and the
    untraced time come from its paired untraced record."""
    qs = [q for q in rec["pass"]["results"] if "layers" in q]
    out = {
        "session.start_s": rec["setup"]["start_s"],
        "session.warmup_s": rec["setup"]["warmup_s"],
        "build.s": sum(q["build_s"] for q in qs),
        "shared.builders": sum(q["layers"]["build"]["jobs"] > 0 for q in qs),
        "shared.build_s": sum(q["build_s"] for q in qs
                              if q["layers"]["build"]["jobs"] > 0),
        "plan.s": sum(q["layers"]["plan"].get("plan_s", 0.0) for q in qs),
        "plan.exchanges": sum(q["layers"]["plan"].get("exchanges", 0) for q in qs),
        "exec.action_s": sum(q["action_s"] for q in qs),
        "check.s": sum(c["s"] for c in untraced["check"]),
        "check.wrong": sum(not c["ok"] for c in untraced["check"]),
    }
    for layer, keys in (
        ("build", ("jobs", "stages", "executor_s")),
        ("exec", ("jobs", "stages", "tasks", "gap_s", "executor_s", "executor_cpu_s",
                  "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb")),
    ):
        for k in keys:
            out[f"{layer}.{k}"] = sum(q["layers"][layer].get(k, 0.0) for q in qs)
    stages = sum(q["layers"]["exec"]["stages"] + q["layers"]["exec"]["skipped"] for q in qs)
    skipped = sum(q["layers"]["exec"]["skipped"] for q in qs)
    out["exec.stage_reuse_frac"] = skipped / stages if stages else 0.0
    out["trace.overhead_frac"] = rec["pass"]["wall_s"] / untraced["pass"]["wall_s"] - 1
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="Layered benchmark of recmetrics_pyspark_spark.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal measuring time; recorded, the work per run is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", default="",
                    help="alter this query's checked output (self-test of the check)")
    args = ap.parse_args()
    start = time.time()
    deadline = start + DEADLINE_S

    missing = [p for p in ("__spark_entry__.py", "recmetrics_pyspark_spark")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"[perfbench] not a recmetrics_pyspark_spark checkout: missing {missing}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    data = _data_dir(workloads.WORKLOADS[args.workload]["sf"])
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(start)}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    try:
        if args.trace:
            # paired untraced and traced clients; the order alternates
            # with the seed so neither always runs on a warmer machine
            order = (0, 1) if args.seed % 2 == 0 else (1, 0)
            recs = {t: _client(args, data, os.path.join(work, f"trace{t}"), deadline, t)
                    for t in order}
            rec = recs[1]
            metrics = per_layer(rec, recs[0])
            summary = {"untraced": end_to_end(recs[0], [recs[0]["setup"]["setup_s"]]),
                       "traced": end_to_end(rec, [rec["setup"]["setup_s"]]),
                       "layers": metrics, "untraced_record": recs[0]}
            failed = failed_queries(*recs.values())
        else:
            rec = _client(args, data, os.path.join(work, "main"), deadline, 0)
            setups = [rec["setup"]] + [
                _client(args, data, os.path.join(work, f"setup{i}"), deadline, 0,
                        setup_only=True)["setup"]
                for i in range(1, SETUPS)]
            metrics = end_to_end(rec, [s["setup_s"] for s in setups])
            summary = {"end_to_end": metrics, "setups": setups}
            failed = failed_queries(rec)
    except RuntimeError as exc:
        print(f"[perfbench] {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "runs"), exist_ok=True)
    with open(os.path.join(HERE, "runs", run_id + ".json"), "w") as fh:
        json.dump({**summary, "failed": failed, "seconds": args.seconds,
                   "run_s": time.time() - start,
                   "record": rec}, fh)

    if args.trace:
        wanted = [(m["name"], m["unit"]) for m in _spec()["per_layer"]]
    else:
        wanted = [(m["name"], m["unit"]) for m in _spec()["end_to_end"]]
        print(f"[perfbench] {args.workload} seed {args.seed}: " + ", ".join(
            f"{k}={v:.4g} {UNITS[k]}" for k, v in metrics.items()))
    if failed:
        print(f"[perfbench] failed queries: {failed}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(rec["queries"]),
        "failed": len(failed),
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in wanted},
    }))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
