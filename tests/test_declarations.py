"""Pins the declared query surface against tests/queries_snapshot.json:
the names and order of ``queries()`` and the exact text of every
``oracle_sql()`` entry (as a sha256). No Spark session is started.

After a deliberate change to the surface, rewrite the snapshot from the
repo root with ``python -m tests.test_declarations``.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import __spark_entry__ as entrymod

SNAPSHOT = os.path.join(os.path.dirname(__file__), "queries_snapshot.json")


def declarations() -> list[list]:
    """``[name, sha256(oracle) or None]`` in ``queries()`` order."""
    oracles = entrymod.oracle_sql()
    return [
        [name, hashlib.sha256(oracles[name].encode()).hexdigest()
         if name in oracles else None]
        for name in entrymod.queries()
    ]


def test_declarations_match_snapshot():
    with open(SNAPSHOT) as f:
        want = json.load(f)
    got = declarations()
    assert [n for n, _ in got] == [n for n, _ in want]
    changed = [n for (n, h), (_, w) in zip(got, want) if h != w]
    assert not changed, f"oracle SQL changed: {changed}"
    assert list(entrymod.NO_ORACLE) == [n for n, h in got if h is None]


def test_declaring_a_name_twice_raises():
    before = entrymod.queries()
    sql = entrymod.oracle_sql()["coverage"]
    with pytest.raises(ValueError, match="coverage"):
        entrymod._query("coverage", "SELECT 1")(lambda spark, sf_dir: None)
    assert entrymod.queries() == before
    assert entrymod.oracle_sql()["coverage"] == sql


if __name__ == "__main__":
    with open(SNAPSHOT, "w") as f:
        f.write("[\n" + ",\n".join(json.dumps(d) for d in declarations())
                + "\n]\n")
