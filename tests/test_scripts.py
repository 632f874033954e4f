"""Command-line helpers: bench.py's query subset check, the
replicas of scripts/gen_sf.py and scripts/row_hashes.py's
fingerprints."""

import importlib.util
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_only_rejects_unknown_names(tmp_path):
    """A misspelled SPARK_GRAFT_BENCH_ONLY name stops bench.py with a
    non-zero exit and a message naming every unknown query, before any
    query runs."""
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_ONLY="coverage,no_such_query,nor_this_one",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "bench.json"),
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "unknown queries: no_such_query, nor_this_one" in proc.stderr
    assert proc.stdout == ""
    assert not (tmp_path / "bench.json").exists()


def test_gen_sf_replica_zero_is_the_source():
    """Replica 0 copies n_chars through, whatever its semantics;
    later replicas recompute it for their suffixed text."""
    pa = pytest.importorskip("pyarrow")
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(ROOT, "scripts", "gen_sf.py")
    )
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)

    docs = pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": ["ab cd", "é"],
        "n_chars": pa.array([99, 2], pa.int64()),  # not utf8_length
    })
    assert gen_sf._replica("documents", docs, 0).equals(docs)
    r1 = gen_sf._replica("documents", docs, 1)
    assert r1.column("text").to_pylist() == ["abb cdb", "éb"]
    assert r1.column("n_chars").to_pylist() == [7, 2]
    assert r1.column("doc_id").to_pylist() == [1_000_001, 1_000_002]


def test_row_hashes_are_stable_and_see_an_altered_row(spark):
    """Two builds of one query hash alike (row order does not count);
    changing one value of one row changes the hash."""
    import __spark_entry__ as e
    from tests.oracle import SF_DIR_SMALL

    spec = importlib.util.spec_from_file_location(
        "row_hashes", os.path.join(ROOT, "scripts", "row_hashes.py")
    )
    row_hashes = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(row_hashes)

    q = e.queries()["dataset_split"]
    a = row_hashes.row_hash("dataset_split", q(spark, SF_DIR_SMALL))
    b = row_hashes.row_hash("dataset_split", q(spark, SF_DIR_SMALL))
    assert a == b

    rows = q(spark, SF_DIR_SMALL).collect()
    assert len(rows) > 1
    assert row_hashes.rows_sha256(rows[::-1]) == a["sha256"]
    first = rows[0].asDict()
    first["split"] = first["split"] + "x"
    altered = [type(rows[0])(**first)] + rows[1:]
    assert row_hashes.rows_sha256(altered) != a["sha256"]
