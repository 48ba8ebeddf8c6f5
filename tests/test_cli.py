"""CLI entry-point test (reference R15 parity: bin/build-graph-db)."""

import os
import subprocess
import sys

import duckdb
import yaml


def test_cli_build_end_to_end(tmp_path):
    cfg = {
        "Database": {"name": "CliGraph", "version": "0.1"},
        "Sources": {"TPCH": {"source type": "parquet", "path": "/root/testdata/sf0.001"}},
        "Nodes": {
            "Nation": {
                "sources": {"TPCH": {"table": "nation", "id_key": "n_nationkey", "uri_key": "n_name"}}
            },
            "Region": {
                "sources": {"TPCH": {"table": "region", "id_key": "r_regionkey", "uri_key": "r_name"}}
            },
        },
        "Relationships": {
            "IN_REGION": {"sources": {"TPCH": {
                "type": "foreign_key",
                "start": {"node": "Nation", "table": "nation", "key": "n_regionkey", "id_key": "n_nationkey"},
                "end": {"node": "Region", "table": "region", "key": "r_regionkey"},
            }}},
        },
    }
    cfg_file = tmp_path / "config.yml"
    cfg_file.write_text(yaml.safe_dump(cfg))
    out = tmp_path / "out"

    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, "-m", "graphdbetl_spark", "build", "-f", str(cfg_file),
         "-o", str(out), "--neo4j"],
        capture_output=True, text=True, env=env, cwd="/root/repo", timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "built 2 node type(s), 1 relationship type(s)" in res.stdout
    # The neo4j CSVs hold exactly the written graph's rows, type by type.
    con = duckdb.connect()
    for kind, label, n in (("nodes", "Nation", 25), ("nodes", "Region", 5), ("relationships", "IN_REGION", 25)):
        written = con.execute(f"SELECT count(*) FROM read_parquet('{out}/{kind}/{label}/*.parquet')").fetchone()[0]
        exported = con.execute(
            f"SELECT count(*) FROM read_csv('{out}/neo4j/{kind}/{label}/*.csv', header = true, all_varchar = true)"
        ).fetchone()[0]
        assert written == exported == n, (kind, label)
    con.close()
