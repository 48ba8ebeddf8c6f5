"""Smoke tests for the driver contract (__spark_entry__)."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "_id" in df.columns


def test_registry_shapes():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    assert set(oracles) <= set(qs)
    # the vast majority must be oracle-checked, not rows-only
    assert len(oracles) >= 0.8 * len(qs)


def test_attestation_map_matches_the_registry():
    """COVERAGE.md's attestation map is what tools/gen_attestation.py
    renders from the registry and the committed CORRECTNESS_r*.json
    files: one row per entry, and the entry, oracle and driver-green
    counts it reports are the current ones."""
    from tools.gen_attestation import render

    block = render()[0]
    coverage = Path(__file__).resolve().parent.parent / "COVERAGE.md"
    assert block in coverage.read_text(), "run python tools/gen_attestation.py"


def test_all_queries_buildable_lazily(spark):
    """Every query constructs a DataFrame (plan analysis only, no
    execution) on sf0.001."""
    for name, fn in entrymod.queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.schema is not None, name


@pytest.mark.parametrize(
    "name",
    [
        "scan_csv",
        "scan_json",
        "sink_parquet",
        "sink_csv",
        "sink_json",
        "scan_orc",
        "scan_text",
        "maintenance_compact_execute",
    ],
)
def test_round_trip_entry_survives_a_second_run(spark, name):
    """Each run of a write-then-read-back entry writes its own temporary
    directory, so a second run leaves the first run's frame readable."""
    import duckdb

    from tools.verify_local import table_hash

    fn = entrymod.queries()[name]
    first = fn(spark, SF_DIR)
    fn(spark, SF_DIR).collect()
    con = duckdb.connect()
    for t in Path(SF_DIR).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    res = con.execute(entrymod.oracle_sql()[name])
    want = table_hash(res.fetchall(), [d[0] for d in res.description])
    assert table_hash(first.collect(), first.columns) == want


def test_round_trip_directories_are_removed_at_exit(tmp_path):
    """The round-trip entries' directories sit under one per-process
    parent that is removed when the interpreter exits: a process that
    made and filled two of them leaves no graft_* directory behind."""
    import os
    import subprocess

    code = (
        "from graphdbetl_spark.plans.registry import scratch_dir\n"
        "for prefix in ('graft_csv_', 'graft_orc_'):\n"
        "    d = scratch_dir(prefix)\n"
        "    open(d + '/part-0', 'w').write('x')\n"
        "    print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert len(out) == 2 and all(d.startswith(str(tmp_path)) for d in out)
    assert list(tmp_path.glob("graft_*")) == []
