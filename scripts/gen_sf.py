#!/usr/bin/env python3
"""Deterministic sf-scaling generator for the LOCAL perf lane only.

Builds an N-times-larger corpus from /root/testdata/sf0.1 by unioning
N key-shifted replicas of every table — a measurement dataset for the
scaling lane (OPTIMIZATION_r13.md), NOT driver data: no oracle ever
runs against it and nothing in any query path reads it unless
$SPARK_GRAFT_SF_DIR points at it explicitly.

Design notes (what "x10" means here):
- All integer keys are shifted into disjoint per-replica ranges, so
  the relational graph becomes N disjoint copies: interactions,
  co-occurrence pairs, components etc. all scale by ~N (the
  data-parallel shape we want to measure). Part keys stay < 2^31 so
  the packed-BIGINT pair key in item_cooccurrence_pairs keeps its
  32-bit-per-id invariant.
- documents: every whitespace token gets a per-replica suffix (r>0),
  so replicas share NO vocabulary — shingle/minhash/n-gram work
  scales ~N instead of creating a 45x cross-replica duplicate-pair
  explosion that sf1.0 data would not have. n_chars is recomputed for
  the suffixed replicas; replica 0 copies the source column through.
- embeddings: vectors are rotated by r positions (norm-preserving,
  decorrelates replicas); vec_id shifts.
- region/nation are dimension tables and copy through unchanged.

Deterministic: pure function of the sf0.1 input, no RNG, no clock.

Usage: python scripts/gen_sf.py [N] [OUT_DIR]
  defaults: N=10, OUT_DIR=/root/sfscale/sf1.0
"""
from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

SHIFTS = {
    # table -> {column: per-replica shift}
    "customer": {"c_custkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 100_000,
    },
    "part": {"p_partkey": 1_000_000},
    "supplier": {"s_suppkey": 100_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
COPY_ONLY = ("region", "nation")


def _suffix_tokens(texts: pa.ChunkedArray, r: int) -> pa.Array:
    """Append a per-replica letter to every whitespace token (pure
    Python over the synthetic word-salad corpus — 5k docs, fine)."""
    suf = chr(ord("a") + r)
    out = []
    for t in texts.to_pylist():
        out.append(" ".join(w + suf for w in t.split(" ")) if t else t)
    return pa.array(out, type=pa.string())


def _replica(name: str, tbl: pa.Table, r: int) -> pa.Table:
    if r == 0:
        return tbl  # replica 0 is the source, n_chars included
    t = tbl
    for col, shift in SHIFTS.get(name, {}).items():
        idx = t.schema.get_field_index(col)
        typ = t.schema.field(idx).type
        shifted = pc.add(t.column(col), pa.scalar(r * shift, type=typ))
        t = t.set_column(idx, t.schema.field(idx), shifted)
    if name == "documents":
        idx = t.schema.get_field_index("text")
        t = t.set_column(
            idx, t.schema.field(idx), _suffix_tokens(t.column("text"), r)
        )
        idx = t.schema.get_field_index("n_chars")
        nch = pc.cast(pc.utf8_length(t.column("text")), pa.int64())
        t = t.set_column(idx, t.schema.field(idx), nch)
    if name == "embeddings":
        idx = t.schema.get_field_index("embedding")
        vecs = t.column("embedding").to_pylist()
        rot = [v[r % len(v):] + v[: r % len(v)] if v else v for v in vecs]
        t = t.set_column(
            idx,
            t.schema.field(idx),
            pa.array(rot, type=t.schema.field(idx).type),
        )
    return t


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/sfscale/sf1.0"
    os.makedirs(out_dir, exist_ok=True)
    for name in list(SHIFTS) + list(COPY_ONLY):
        src = os.path.join(SRC, f"{name}.parquet")
        tbl = pq.read_table(src)
        reps = (
            [tbl]
            if name in COPY_ONLY
            else [_replica(name, tbl, r) for r in range(n)]
        )
        big = pa.concat_tables(reps)
        dst = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(big, dst, compression="snappy")
        print(f"{name}: {tbl.num_rows} -> {big.num_rows} rows -> {dst}",
              file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
