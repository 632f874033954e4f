#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread (interquartile range over median, the
steadiness measure the bounds in BENCHMARK.json are set against).

    python3 perfbench/sweep.py --workload recsys-sf0.01 --seeds 1-10
    python3 perfbench/sweep.py --all --seeds 1-10 --baseline perfbench/baseline.json

With ``--baseline`` the medians, spreads and the machine they were
measured on are written to that file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def sweep(workload: str, seeds: list[int], seconds: int) -> dict:
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
        lines = out.stdout.strip().splitlines()
        failed += json.loads(lines[-1])["failed"]
        # the summary line before the result has every end-to-end metric
        line = next(x for x in lines if x.startswith(f"[perfbench] {workload}"))
        for name, value in re.findall(r"(\w+)=(\S+) ", line):
            values.setdefault(name, []).append(float(value))
        print(line, flush=True)
    summary = {}
    for name, vals in values.items():
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        summary[name] = {"median": med, "spread": spread, "values": vals}
    return {"seeds": seeds, "failed": failed, "metrics": summary}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--baseline", help="write the medians to this file")
    args = ap.parse_args()
    if len(_seeds(args.seeds)) < 2:
        ap.error("a spread needs at least two seeds")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]] if args.all else args.workload
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    result = {}
    for w in names:
        result[w] = sweep(w, _seeds(args.seeds), spec["run_seconds"])
        for name, s in result[w]["metrics"].items():
            if name in bounds:
                flag = "" if s["spread"] < bounds[name] / 3 else "  <-- above a third of its bound"
                gate = f"bound {bounds[name]}"
            else:
                flag, gate = "", "not gated"
            print(f"  {w} {name}: median {s['median']:.4g}, spread {s['spread']:.3f} "
                  f"({gate}){flag}")
    if args.baseline:
        with open("/proc/loadavg") as fh:
            load = fh.read().split()[:3]
        out = {
            "measured": time.strftime("%Y-%m-%d", time.gmtime()),
            "machine": {"nproc": len(os.sched_getaffinity(0)), "loadavg_end": load},
            "run_seconds": spec["run_seconds"],
            "workloads": result,
        }
        with open(args.baseline, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
