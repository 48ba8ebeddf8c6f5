"""Golden end-to-end graph build (SURVEY.md §5.2): the FIXTURES.md §2
config over sf0.001 testdata; asserts the declared properties of the
built node/relationship tables."""

import os

import pyspark.sql.functions as F
import pytest

from graphdbetl_spark.etl.builder import GraphDBBuilder
from graphdbetl_spark.plans.graph_etl_q import fixture_config
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def builder(spark):
    return GraphDBBuilder(spark, fixture_config(SF_DIR)).build()


def test_party_union_schema_and_rowcount(builder):
    party = builder.nodes["Party"].dataframe
    cols = set(party.columns)
    # union schema of customer ∪ supplier + canonical columns
    assert {"c_custkey", "c_name", "s_suppkey", "s_name", "_id", "_uri", "_source"} <= cols
    assert party.count() == 160  # 150 customers + 10 suppliers, no id collisions


def test_party_null_fill_for_missing_source_fields(builder):
    party = builder.nodes["Party"].dataframe
    suppliers = party.filter(F.col("_source") == "TPCH2")
    assert suppliers.filter(F.col("c_mktsegment").isNotNull()).count() == 0
    assert suppliers.filter(F.col("s_name").isNull()).count() == 0


def test_ids_namespaced_and_unique(builder):
    party = builder.nodes["Party"].dataframe
    assert party.select("_id").distinct().count() == party.count()
    assert party.filter(~F.col("_id").rlike("^(customer|supplier):")).count() == 0


def test_uri_derived(builder):
    party = builder.nodes["Party"].dataframe
    sample = party.filter(F.col("_source") == "TPCH").select("_uri").first()[0]
    assert sample.startswith("TestGraph/Party/")


def test_fk_relationship_one_edge_per_customer(builder):
    rel = builder.relationships["CUSTOMER_FROM_NATION"].dataframe
    assert rel.count() == 150
    assert set(rel.columns) == {"_start_id", "_end_id", "_source"}


def test_bridge_relationship_one_edge_per_lineitem(builder, spark):
    rel = builder.relationships["ORDER_CONTAINS_PART"].dataframe
    lineitem_rows = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    assert rel.count() == lineitem_rows


def test_write_layout(builder, tmp_path):
    out = str(tmp_path / "graphdb")
    builder.write(out)
    assert os.path.isdir(os.path.join(out, "nodes", "Party"))
    assert os.path.isdir(os.path.join(out, "relationships", "CUSTOMER_FROM_NATION"))
    back = builder.spark.read.parquet(os.path.join(out, "nodes", "Party"))
    assert back.count() == 160


def test_csv_serialization(builder, tmp_path):
    out = str(tmp_path / "graphdb_csv")
    builder.serialize_data(out, to="csv")
    nation_dir = os.path.join(out, "nodes", "Nation")
    assert any(f.endswith(".csv") for f in os.listdir(nation_dir))


def test_unknown_source_raises(spark):
    cfg = fixture_config(SF_DIR)
    cfg["Nodes"]["Party"]["sources"]["MISSING"] = {"table": "x", "id_key": "y"}
    with pytest.raises(KeyError):
        GraphDBBuilder(spark, cfg).build_node("Party")


def test_mixed_format_sources_harmonize(spark, tmp_path):
    """One node type fed by a parquet source AND a csv source (D5): the
    schema-merge/conform/union path is format-agnostic, matching the
    reference's declared multi-DBMS intent (graph_db_builder.py:13-14)."""
    import pyspark.sql.functions as F

    from graphdbetl_spark.etl.builder import GraphDBBuilder
    from graphdbetl_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    csv_dir = str(tmp_path / "csv_src")
    load_table(spark, SF_DIR, "supplier").write.option("header", "true").csv(
        csv_dir + "/supplier"
    )
    cfg = {
        "Database": {"name": "Mixed", "version": "0", "author": "t"},
        "Sources": {
            "PQ": {"source type": "parquet", "path": SF_DIR},
            "CS": {"source type": "csv", "path": csv_dir},
        },
        "Nodes": {
            "Party": {
                "sources": {
                    "PQ": {"table": "customer", "id_key": "c_custkey", "uri_key": "c_name"},
                    "CS": {"table": "supplier", "id_key": "s_suppkey", "uri_key": "s_name"},
                }
            }
        },
        "Relationships": {},
    }
    df = GraphDBBuilder(spark, cfg).build_node("Party")
    pq_rows = load_table(spark, SF_DIR, "customer").count()
    cs_rows = load_table(spark, SF_DIR, "supplier").count()
    assert df.count() == pq_rows + cs_rows
    # both sources' uri keys survive harmonization
    assert df.filter(F.col("c_name").isNotNull()).count() == pq_rows
    assert df.filter(F.col("s_name").isNotNull()).count() == cs_rows


# -- source-plan cache and materialize-once ---------------------------------


def _copy_sf(dst) -> str:
    """A writable copy of the sf0.001 fixture (the original is read-only)."""
    import shutil

    os.makedirs(dst)
    for name in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, name), os.path.join(dst, name))
    return str(dst)


def _rewrite(spark, sf: str, table: str, n: int) -> None:
    """Overwrite ``table`` of the copy ``sf`` with ``n`` of its rows, as
    Spark rewrites a table: new part files, the old ones deleted."""
    src = spark.read.parquet(os.path.join(SF_DIR, f"{table}.parquet"))
    src.limit(n).write.mode("overwrite").parquet(os.path.join(sf, f"{table}.parquet"))


def _jobs_in(spark, group: str, fn):
    spark.sparkContext.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    return out, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_second_build_over_unchanged_files_runs_no_jobs(spark, tmp_path):
    cfg = fixture_config(_copy_sf(tmp_path / "sf"))
    _, first = _jobs_in(spark, "plan-cache-first", lambda: GraphDBBuilder(spark, cfg).build())
    b, second = _jobs_in(spark, "plan-cache-second", lambda: GraphDBBuilder(spark, cfg).build())
    assert first > 0  # parquet footer jobs of the first planning
    assert second == 0
    assert b.nodes["Party"].dataframe.count() == 160


def test_rewritten_source_is_seen_by_next_build(spark, tmp_path):
    from graphdbetl_spark.sources import catalog

    sf = _copy_sf(tmp_path / "sf")
    cfg = fixture_config(sf)
    assert GraphDBBuilder(spark, cfg).build_node("Party").count() == 160
    size = len(catalog._table_cache)
    _rewrite(spark, sf, "customer", 40)
    assert GraphDBBuilder(spark, cfg).build_node("Party").count() == 40 + 10
    assert len(catalog._table_cache) == size  # the new plan took the old one's slot
    assert GraphDBBuilder(spark, cfg).build_relationship("CUSTOMER_FROM_NATION").count() == 40


def test_load_table_sees_rewritten_table(spark, tmp_path):
    from graphdbetl_spark.sources.catalog import load_table

    sf = _copy_sf(tmp_path / "sf")
    assert load_table(spark, sf, "orders").count() == 1500
    assert load_table(spark, sf, "orders") is load_table(spark, sf, "orders")
    _rewrite(spark, sf, "orders", 123)
    assert load_table(spark, sf, "orders").count() == 123


def test_self_referencing_foreign_key(spark):
    """Both sides of a self-FK come from one cached plan; the join must
    still tell them apart (nation -> the nation whose key is its region)."""
    import pyarrow.parquet as pq

    cfg = fixture_config(SF_DIR)
    cfg["Relationships"] = {"NATION_REGION_TWIN": {"sources": {"TPCH": {
        "type": "foreign_key",
        "start": {"table": "nation", "key": "n_regionkey", "id_key": "n_nationkey"},
        "end": {"table": "nation", "key": "n_nationkey"},
    }}}}
    rel = GraphDBBuilder(spark, cfg).build_relationship("NATION_REGION_TWIN")
    nation = pq.read_table(os.path.join(SF_DIR, "nation.parquet")).to_pylist()
    want = sorted((f"nation:{n['n_nationkey']}", f"nation:{n['n_regionkey']}") for n in nation)
    assert sorted((r._start_id, r._end_id) for r in rel.collect()) == want


def test_write_rebinds_each_type_to_the_written_table(spark, tmp_path):
    b = GraphDBBuilder(spark, fixture_config(SF_DIR)).build()
    out = str(tmp_path / "graph")
    b.write(out)
    party = b.nodes["Party"]
    assert party.written_to == os.path.join(out, "nodes", "Party")
    files = party.dataframe.inputFiles()
    assert files and all(f"{party.written_to}/part-" in f for f in files)
    # Writing the same graph to the same place again is a no-op, not a
    # read-while-overwrite error; to a new place it copies the table.
    b.write(out)
    b.write(str(tmp_path / "graph2"))
    back = spark.read.parquet(str(tmp_path / "graph2" / "nodes" / "Party"))
    assert back.count() == 160


def test_export_matches_written_graph_after_source_change(spark, tmp_path):
    """The neo4j export of a written graph holds the written rows, even
    when a source changed between write() and the export."""
    from graphdbetl_spark.etl.neo4j_export import export_for_neo4j_admin

    sf = _copy_sf(tmp_path / "sf")
    b = GraphDBBuilder(spark, fixture_config(sf)).build()
    out = str(tmp_path / "out")
    b.write(os.path.join(out, "graph"))
    _rewrite(spark, sf, "customer", 40)
    _rewrite(spark, sf, "lineitem", 100)
    export_for_neo4j_admin(b, os.path.join(out, "neo4j"))

    def rows(kind: str, label: str, written_cols: list[str], csv_cols: list[str]):
        written = spark.read.parquet(os.path.join(out, "graph", kind, label))
        csv = spark.read.option("header", "true").csv(os.path.join(out, "neo4j", kind, label))
        return (sorted(tuple(r) for r in written.select(*written_cols).collect()),
                sorted(tuple(r) for r in csv.select(*[f"`{c}`" for c in csv_cols]).collect()))

    written, exported = rows("nodes", "Party", ["_id", "c_name", "s_name"], ["nodeId:ID", "c_name", "s_name"])
    assert len(written) == 160 and exported == written
    for label, n in (("CUSTOMER_FROM_NATION", 150), ("ORDER_CONTAINS_PART", 6000)):
        written, exported = rows("relationships", label, ["_start_id", "_end_id"], [":START_ID", ":END_ID"])
        assert len(written) == n and exported == written


# -- concurrent write and export -----------------------------------------------


def test_csv_write_over_own_parquet_is_refused(spark, tmp_path):
    """A CSV write (or export) into the directory a previous parquet
    write() left would delete that parquet before reading it: it raises
    before any job runs and the written graph survives."""
    from graphdbetl_spark.etl.neo4j_export import export_for_neo4j_admin

    b = GraphDBBuilder(spark, fixture_config(SF_DIR)).build()
    out = str(tmp_path / "graph")
    b.write(out)
    with pytest.raises(ValueError, match="node type 'Party'"):
        b.write(out, fmt="csv")
    with pytest.raises(ValueError, match="relationship type 'ORDER_CONTAINS_PART'"):
        export_for_neo4j_admin(b, out)
    assert spark.read.parquet(os.path.join(out, "nodes", "Party")).count() == 160
    assert b.nodes["Party"].dataframe.count() == 160


def test_write_runs_the_types_concurrently(spark, tmp_path, monkeypatch):
    """Every type's write waits on one barrier before it starts, so
    writes run one after another would break it. Each type's jobs run in
    the caller's job group, and the jobs overlap in time."""
    import threading

    b = GraphDBBuilder(spark, fixture_config(SF_DIR)).build()
    labels = [*b.nodes, *b.relationships]
    barrier = threading.Barrier(len(labels), timeout=60)
    write_one = GraphDBBuilder._write_one

    def gated(self, t, path, fmt):
        spark.sparkContext.setJobDescription(t.label)  # this thread's jobs only
        barrier.wait()
        write_one(self, t, path, fmt)

    monkeypatch.setattr(GraphDBBuilder, "_write_one", gated)
    sc = spark.sparkContext
    sc.setJobGroup("concurrent-write", "concurrent-write")
    try:
        b.write(str(tmp_path / "graph"))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = [store.job(j) for j in sc.statusTracker().getJobIdsForGroup("concurrent-write")]
    assert sorted({j.description().get() for j in jobs}) == sorted(labels)
    spans = sorted((j.submissionTime().get().getTime(), j.completionTime().get().getTime()) for j in jobs)
    assert any(start < end for (_, end), (start, _) in zip(spans, spans[1:]))


def test_failed_type_keeps_its_plan_and_the_others_are_rebound(spark, tmp_path):
    """One type failing at run time: the error names it, it is not
    rebound, and every other type still commits and is rebound."""
    b = GraphDBBuilder(spark, fixture_config(SF_DIR)).build()
    broken = b.relationships["CUSTOMER_FROM_NATION"]
    bad = broken.dataframe.withColumn(
        "_source", F.coalesce(F.raise_error(F.lit("injected failure")).cast("string"), F.col("_source"))
    )
    broken.dataframe = bad
    out = str(tmp_path / "graph")
    with pytest.raises(RuntimeError, match="relationship type 'CUSTOMER_FROM_NATION'") as err:
        b.write(out)
    assert "node type" not in str(err.value)
    assert "injected failure" in str(err.value.__cause__)
    assert broken.written_to is None and broken.dataframe is bad
    for kind, label, n in (("nodes", "Party", 160), ("nodes", "Nation", 25), ("nodes", "Order", 1500),
                           ("relationships", "ORDER_CONTAINS_PART", 6000)):
        t = (b.nodes if kind == "nodes" else b.relationships)[label]
        assert t.written_to == os.path.join(out, kind, label)
        assert t.dataframe.inputFiles() and t.dataframe.count() == n
