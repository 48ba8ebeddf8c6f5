import hashlib
import os

import duckdb
import yaml

from perfbench import gen


def _digests(path):
    return {name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
            for name in sorted(os.listdir(path))}


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_catalog(a, 3, 0.001)
    gen.write_catalog(b, 3, 0.001)
    gen.write_catalog(c, 4, 0.001)
    assert _digests(a) == _digests(b)
    assert _digests(a)["customer.parquet"] != _digests(c)["customer.parquet"]


def test_row_counts_follow_scale(tmp_path):
    rows = gen.write_catalog(str(tmp_path), 1, 0.001, ("customer", "lineitem", "documents"))
    want = gen.row_counts(0.001)
    assert rows == {t: want[t] for t in rows}


def test_documents_hold_exact_duplicates(tmp_path):
    gen.write_catalog(str(tmp_path), 1, 0.002, ("documents",))
    n, distinct = duckdb.sql(
        f"SELECT count(*), count(DISTINCT text) FROM '{tmp_path}/documents.parquet'").fetchone()
    assert distinct < n


def test_graph_input_sources_overlap(tmp_path):
    made = gen.write_graph_input(str(tmp_path), 5, 0.001, overlap=0.5)
    with open(made["config"]) as fh:
        config = yaml.safe_load(fh)
    assert set(config["Nodes"]["Customer"]["sources"]) == {"core", "crm"}
    shared = duckdb.sql(
        f"SELECT count(*) FROM read_json_auto('{tmp_path}/crm/customer.json') "
        f"WHERE c_custkey < {made['rows']['core.customer']}").fetchone()[0]
    assert 0 < shared < made["rows"]["crm.customer"]
