#!/usr/bin/env python3
"""Sorted-row fingerprints of declared queries, for checking that a
refactor leaves every result unchanged: run it on two checkouts and
diff the output.

Usage: python scripts/row_hashes.py --sf DIR [names...]

Prints one JSON line per query (every declared query when no names are
given, in ``queries()`` order): ``{"name", "schema", "sha256"}``, where
``schema`` is the DataFrame schema as JSON (names, types, nullability)
and ``sha256`` hashes the rows, each rendered exactly (floats by
``repr``, decimals and timestamps by ``str``) and sorted, so the hash
does not depend on partitioning or row order. A query that raises
prints ``{"name", "error"}`` instead. The session is ``get_spark()``.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _plain(v):
    """A JSON-able rendering of one collected value that keeps every
    digit (no float rounding) and orders map entries by key."""
    if isinstance(v, (list, tuple)):  # arrays, structs and Rows
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return sorted(
            ([_plain(k), _plain(x)] for k, x in v.items()),
            key=lambda kv: json.dumps(kv),
        )
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (decimal.Decimal, datetime.date, datetime.datetime)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def rows_sha256(rows) -> str:
    """sha256 over the sorted exact renderings of ``rows``."""
    lines = sorted(json.dumps(_plain(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def row_hash(name: str, df) -> dict:
    return {
        "name": name,
        "schema": df.schema.json(),
        "sha256": rows_sha256(df.collect()),
    }


def main(argv: list[str]) -> int:
    if "--sf" not in argv or argv.index("--sf") + 1 >= len(argv):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    i = argv.index("--sf")
    sf_dir = argv[i + 1]
    names = argv[:i] + argv[i + 2:]

    import __spark_entry__ as e

    qs = e.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries: " + ", ".join(unknown), file=sys.stderr)
        return 1

    from recmetrics_pyspark_spark import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for name in names or list(qs):
        try:
            out = row_hash(name, qs[name](spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 - report it, go on
            traceback.print_exc()
            out = {"name": name, "error": f"{type(ex).__name__}: {ex}"[:300]}
        print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
