"""Empty inputs answer like the oracle: no crash, the usual schema."""

import re
import shutil

import duckdb
import pytest

from graphdbetl_spark.plans.registry import all_oracles, all_queries

SF_DIR = "/root/testdata/sf0.001"


def test_pagerank_without_vertices_is_empty(spark):
    from graphdbetl_spark.operators.graph import pagerank

    some = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    empty = pagerank(some.limit(0), iterations=3)
    assert empty.schema == pagerank(some, iterations=3).schema
    assert empty.collect() == []


def _answers_on(spark, tmp_path, name, cut, kept=(), rows=0):
    """(oracle rows, Spark rows) of entry ``name`` over ``SF_DIR``'s
    tables, with every table in ``cut`` cut to its first ``rows`` rows
    (to its schema alone by default)."""
    for t in kept:
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    con = duckdb.connect()
    for t in cut:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') LIMIT {rows}) "
            f"TO '{tmp_path}/{t}.parquet' (FORMAT PARQUET)"
        )
    for t in (*cut, *kept):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    want = con.execute(all_oracles()[name]).fetchall()
    got = all_queries()[name](spark, str(tmp_path)).collect()
    return want, [tuple(r) for r in got]


def test_agg_grouping_sets_empty_customer_matches_oracle(spark, tmp_path):
    """SQL's ROLLUP emits the () grand-total row on an empty input."""
    want, got = _answers_on(
        spark, tmp_path, "agg_grouping_sets", ["customer"], ["nation", "region"]
    )
    assert want == [(None, None, 0)]
    assert got == want


def test_semantic_ivf_auto_empty_embeddings_matches_oracle(spark, tmp_path):
    """Sums and a max over no rows are NULL; the attestation coalesces
    them to their identities, so every boolean holds as in the oracle."""
    want, got = _answers_on(
        spark, tmp_path, "decontaminate_semantic_ivf_auto", ["embeddings"]
    )
    assert want == [(0, 0, True, True, True, True)]
    assert got == want


def test_agg_grouping_sets_scans_customer_once(spark):
    """The () fill row reads the rollup's own exchange (reused once the
    plan has run), so customer is still scanned once."""
    df = all_queries()["agg_grouping_sets"](spark, SF_DIR)
    df.collect()
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    final = plan.split("== Initial Plan ==")[0]
    ids = re.findall(r"Scan parquet\s+\((\d+)\)", final)
    customer = [
        i for i in ids if "customer.parquet" in plan.split(f"\n({i}) Scan parquet")[1]
        .split("\n\n")[0]
    ]
    assert len(customer) == 1, plan


def test_semantic_decontaminate_empty_eval_set(spark):
    from graphdbetl_spark.operators.curation import (
        semantic_decontaminate,
        semantic_decontaminate_ivf,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    for fn in (semantic_decontaminate, semantic_decontaminate_ivf):
        full = fn(corpus, corpus.limit(1))
        empty = fn(corpus, corpus.limit(0))
        assert empty.schema == full.schema
        assert empty.collect() == []


def test_pq_adc_topk_empty_query_set(spark):
    """No queries over a non-empty corpus: no LUT rows to gather from,
    so no neighbours, in the usual (query_id, neighbor_id, adc_cosine,
    rank) schema."""
    from graphdbetl_spark.operators.similarity import pq_cosine_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    empty = pq_cosine_topk(e, e.limit(0))
    assert empty.schema == pq_cosine_topk(e, e.limit(1)).schema
    assert empty.collect() == []


def test_pca_fit_without_vectors_raises_value_error(spark):
    from graphdbetl_spark.operators.similarity import pca_fit

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="no vectors"):
        pca_fit(e.limit(0))


@pytest.mark.parametrize("name", ["select_kcenter_coreset", "select_mmr_diverse"])
def test_selection_on_empty_embeddings_matches_oracle(spark, tmp_path, name):
    """An empty corpus selects nothing: no seed row, no rounds."""
    want, got = _answers_on(spark, tmp_path, name, ["embeddings"])
    assert want == []
    assert got == want


@pytest.mark.parametrize(
    "name, picks", [("select_kcenter_coreset", 1), ("select_mmr_diverse", 0)]
)
def test_selection_on_one_row_embeddings_matches_oracle(spark, tmp_path, name, picks):
    """One vector: k-center selects it as the seed with a NULL radius;
    MMR takes it as the query, which is never a candidate."""
    want, got = _answers_on(spark, tmp_path, name, ["embeddings"], rows=1)
    assert len(want) == picks
    assert got == want


@pytest.mark.parametrize(
    "name", ["sim_ivf_recall_floor", "sim_lsh_recall_floor", "sim_pq_recall_floor"]
)
@pytest.mark.parametrize("rows", [0, 1])
def test_recall_floor_on_degenerate_embeddings_matches_oracle(spark, tmp_path, name, rows):
    """No corpus, or one vector that is its own only query: the floor
    counts the query set and holds vacuously, with no true neighbour
    to divide by."""
    want, got = _answers_on(spark, tmp_path, name, ["embeddings"], rows=rows)
    assert want == [(rows, True)]
    assert got == want


@pytest.mark.parametrize("name", ["sim_pq_topk_md5", "sim_ivfpq_topk"])
def test_pq_family_on_empty_embeddings_matches_oracle(spark, tmp_path, name):
    """An empty corpus has no codebook donors: no codes, no neighbours."""
    want, got = _answers_on(spark, tmp_path, name, ["embeddings"])
    assert want == []
    assert got == want
