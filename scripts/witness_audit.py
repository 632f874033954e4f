#!/usr/bin/env python3
"""Witness-freshness audit over the driver's CORRECTNESS_r*.json
records: for every declared query, its latest driver-witness round;
the vintage histogram; queries never witnessed; and any witnessed
query that has since been REMOVED from the declaration (a contract
regression). Run it when composing the next witness window: the
first 50 names of queries(), set by ``_DRIVER_WINDOW`` in
__spark_entry__.py.

Usage: python scripts/witness_audit.py [--window]
  --window  also diff the current first-50 declaration order against
            the audit (which witnesses the window would refresh).

No Spark session is created (queries() only reads the registry).
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402


def latest_witness() -> dict[str, int]:
    out: dict[str, int] = {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(f).split("_r")[1].split(".")[0])
        try:
            rows = json.load(open(f))
        except ValueError:
            continue
        for q in rows:
            out[q] = max(out.get(q, 0), rnd)
    return out


def main() -> int:
    qs = list(e.queries())
    seen = latest_witness()
    byround: dict[int, list[str]] = defaultdict(list)
    never = []
    for q in qs:
        if q in seen:
            byround[seen[q]].append(q)
        else:
            never.append(q)
    removed = sorted(set(seen) - set(qs))

    print(f"declared queries: {len(qs)}")
    print(f"witnessed (union r1..): {len(qs) - len(never)}")
    print("vintage histogram (latest witness round -> count):")
    for r in sorted(byround):
        print(f"  r{r}: {len(byround[r])}")
    oldest = min(byround) if byround else None
    if oldest is not None:
        print(f"oldest vintage r{oldest}: {sorted(byround[oldest])}")
    print(f"never witnessed ({len(never)}): {sorted(never)}")
    if removed:
        print(f"WITNESSED BUT NO LONGER DECLARED ({len(removed)}): {removed}")

    if "--window" in sys.argv:
        window = qs[:50]
        fresh = [q for q in window if q in seen]
        firsts = [q for q in window if q not in seen]
        print("\ncurrent first-50 window:")
        print(f"  first witnesses: {sorted(firsts)}")
        vint = sorted((seen[q], q) for q in fresh)
        print(f"  re-witnesses by prior vintage: {vint}")
        post = sorted(q for q in qs[50:] if q not in seen)
        if post:
            print(f"  NOT in window and never witnessed: {post}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
