#!/usr/bin/env python3
"""Regenerate QUERIES.md: the declared query inventory with oracle
status and module provenance. Run from the repo root."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402


def main() -> None:
    qs = e.queries()
    oracles = e.oracle_sql()
    no_oracle = set(getattr(e, "NO_ORACLE", ()))
    lines = [
        "# QUERIES — declared driver-contract inventory",
        "",
        f"{len(qs)} queries; {len(oracles)} DuckDB-oracle-checked, "
        f"{len(no_oracle)} rows-only (sketch / Python-side pipelines).",
        "Generated by scripts/gen_queries_md.py — regenerate after adding queries.",
        "",
        "**`media_features` rows-only waiver (final).** Its float",
        "feature lane cannot carry a value-hash oracle: the image half",
        "ends in float32 block-mean pooling and the audio half is",
        "synthesized by float sine evaluation whose int16 quantization",
        "is not bit-portable across numpy and DuckDB (the same reason",
        "`decode_meta` reports `sum_r` NULL for audio). Everything",
        "deterministic about the lane IS oracle-checked elsewhere:",
        "`media_decode_meta` value-hashes the real PPM/WAV decodes",
        "(dims, payload bytes, exact red-channel sums) against a",
        "closed-form DuckDB recomputation, and the Spark-side plumbing",
        "(schema, batch shape, Arrow transfer) is pinned by",
        "tests/test_multimodal.py. The rows-only check covers only the",
        "residual float arithmetic.",
        "",
        "| query | backing module | check |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        mod = inspect.getmodule(fn).__name__
        if mod == "__spark_entry__":
            # the body only: the @_query(...) oracle SQL above it is not code
            src = inspect.getsource(fn).split("\ndef ", 1)[-1]
            for token, target in (
                ("operators.graph", "operators.graph"),
                ("Q.", "plans.relational"), ("M.", "operators.metrics"),
                ("R.", "operators.recommend"), ("D.", "operators.dedup"),
                ("S.", "operators.similarity"), ("T.", "functions.text"),
                ("W.", "streaming.windows"), ("J.", "operators.joins"),
                ("MM.", "multimodal"), ("profile_table", "operators.profile"),
            ):
                if token in src:
                    mod = f"recmetrics_pyspark_spark.{target}"
                    break
        check = "rows-only" if name in no_oracle else "DuckDB oracle"
        lines.append(f"| `{name}` | `{mod}` | {check} |")
    out = "\n".join(lines) + "\n"
    with open(os.path.join(os.path.dirname(__file__), "..", "QUERIES.md"), "w") as f:
        f.write(out)
    print(f"QUERIES.md: {len(qs)} queries")


if __name__ == "__main__":
    main()
