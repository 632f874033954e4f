#!/usr/bin/env python3
"""Self-test of the benchmark's output check.

Runs one workload twice with the same seed: as it is, and with one
query's checked result altered (a row dropped). The first run must be
correct; the second must report that query as failed, so a wrong output
shows in ``failed`` (and in ``failed_frac``).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD, QUERY = "recsys-sf0.01", "coverage"


def run(*extra: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
         "--seed", "1", "--seconds", "1", "--trace", "0", *extra],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    clean = run()
    bad = run("--perturb", QUERY)
    if not (clean["correct"] and clean["failed"] == 0):
        print(f"FAIL: the unaltered run is not correct: {clean}")
        return 1
    if bad["correct"] or bad["failed"] != 1 or bad["attempted"] != clean["attempted"]:
        print(f"FAIL: the altered {QUERY} result was not caught: {bad}")
        return 1
    print(f"ok: {QUERY} altered -> failed {bad['failed']} of {bad['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
