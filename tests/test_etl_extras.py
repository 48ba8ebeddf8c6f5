"""Tests for Neo4j export (D7), soft-fail sources (R12), and the
custom stateful streaming operator."""

import os
import warnings

import pytest

from graphdbetl_spark.etl.builder import GraphDBBuilder
from graphdbetl_spark.etl.neo4j_export import export_for_neo4j_admin
from graphdbetl_spark.plans.graph_etl_q import fixture_config
from tests.conftest import SF_DIR


def test_neo4j_export_headers(spark, tmp_path):
    cfg = fixture_config(SF_DIR)
    cfg["Relationships"] = {
        k: v for k, v in cfg["Relationships"].items() if k == "CUSTOMER_FROM_NATION"
    }
    builder = GraphDBBuilder(spark, cfg)
    out = str(tmp_path / "neo4j")
    written = export_for_neo4j_admin(builder, out)
    assert set(written["nodes"]) >= {"Party", "Nation"}
    assert set(written["relationships"]) == {"CUSTOMER_FROM_NATION"}

    node_dir = os.path.join(out, "nodes", "Nation")
    csv_file = next(f for f in os.listdir(node_dir) if f.endswith(".csv"))
    header = open(os.path.join(node_dir, csv_file)).readline().strip()
    assert header.startswith("nodeId:ID,:LABEL")

    rel_dir = os.path.join(out, "relationships", "CUSTOMER_FROM_NATION")
    csv_file = next(f for f in os.listdir(rel_dir) if f.endswith(".csv"))
    header = open(os.path.join(rel_dir, csv_file)).readline().strip()
    assert header.startswith(":START_ID,:END_ID,:TYPE")


def test_export_after_write_is_one_shuffle_free_job_per_type(spark, tmp_path):
    """After write(), the export reads the written tables: one job per
    type, each a single stage with no shuffle (no re-run merge or join)."""
    builder = GraphDBBuilder(spark, fixture_config(SF_DIR)).build()
    builder.write(str(tmp_path / "graph"))
    sc = spark.sparkContext
    sc.setJobGroup("neo4j-export-shape", "neo4j-export-shape")
    try:
        export_for_neo4j_admin(builder, str(tmp_path / "neo4j"))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup("neo4j-export-shape")
    assert len(jobs) == len(builder.nodes) + len(builder.relationships) == 5
    for j in jobs:
        stage_ids = store.job(j).stageIds()
        assert stage_ids.size() == 1
        stage = store.lastStageAttempt(stage_ids.apply(0))
        assert stage.shuffleReadBytes() == 0 and stage.shuffleWriteBytes() == 0


def test_soft_fail_skips_bad_source(spark):
    cfg = fixture_config(SF_DIR)
    cfg["Nodes"]["Broken"] = {
        "sources": {"TPCH": {"table": "does_not_exist", "id_key": "x"}}
    }
    builder = GraphDBBuilder(spark, cfg)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        builder.build(skip_bad_sources=True)
    assert any("Broken" in str(w.message) for w in caught)
    assert "Broken" not in builder.nodes
    assert "Party" in builder.nodes  # good types still built

    with pytest.raises(Exception):
        GraphDBBuilder(spark, cfg).build()  # strict mode raises


def test_mysql_source_soft_skips_like_reference(spark):
    """A reference-dialect mysql source with no reachable server warns
    and skips under skip_bad_sources (graph_db_builder.py:317-319)."""
    cfg = fixture_config(SF_DIR)
    cfg["Sources"]["AOPDB"] = {"source type": "mysql", "database name": "aopdb",
                               "host": "127.0.0.1", "port": 1}  # nothing listens
    cfg["Nodes"]["Gene"] = {
        "sources": {"AOPDB": {"table": "gene_info", "id_key": "entrez"}}
    }
    builder = GraphDBBuilder(spark, cfg)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        builder.build(skip_bad_sources=True)
    assert any("Gene" in str(w.message) for w in caught)
    assert "Gene" not in builder.nodes and "Party" in builder.nodes


import os
import pytest as _pytest

_REF_CONFIG = "/root/reference/examples/comptox_ai/config.yml"


@_pytest.mark.skipif(not os.path.exists(_REF_CONFIG), reason="reference not present")
def test_reference_example_config_parses_unchanged(spark):
    """The reference's own example config loads through our builder
    verbatim: same YAML dialect, mysql sources soft-skip (no server in
    this environment), no crash — a user's config.yml ports as-is."""
    builder = GraphDBBuilder.from_config_file(spark, _REF_CONFIG)
    assert set(builder.config["Nodes"]) == {"Gene", "AOP", "Disease"}
    assert set(builder.config["Relationships"]) == {
        "GENE_INTERACTS_WITH_DISEASE", "AOP_INCLUDES_GENE"
    }
    with warnings.catch_warnings(record=True):
        warnings.simplefilter("always")
        builder.build(skip_bad_sources=True)
    # every type skipped (unreachable mysql), but the full config walked
    assert builder.nodes == {} and builder.relationships == {}


def _stream_running_totals(spark, tmp_path, batches, name):
    """Replay ``batches`` as successive micro-batches of a parquet file
    stream through ``stateful_running_totals`` and return every row it
    emitted, in emission order. The query runs on the session's
    configured state store (RocksDB, from ``session.RUNTIME_CONFS``)."""
    import shutil

    from graphdbetl_spark.streaming.stateful import stateful_running_totals

    src = tmp_path / f"{name}_src"
    src.mkdir()

    def write_batch(i):
        staged = tmp_path / f"{name}_b{i}"
        spark.createDataFrame(batches[i], "user_id long, value double").coalesce(
            1
        ).write.parquet(str(staged))
        part = next(f for f in os.listdir(staged) if f.endswith(".parquet"))
        shutil.copy(staged / part, src / f"b{i}.parquet")

    write_batch(0)
    stream = spark.readStream.schema(spark.read.parquet(str(src)).schema).parquet(str(src))
    q = (
        stateful_running_totals(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i in range(1, len(batches)):
            write_batch(i)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_stateful_running_totals_across_batches(spark, tmp_path):
    rows = _stream_running_totals(
        spark, tmp_path, [[(1, 10.0), (1, 5.0), (2, 1.0)], [(1, 2.0)]], "state_test"
    )
    # user 1 reappears in the second batch: its last emission includes
    # all 3 events across batches
    latest_u1 = [r for r in rows if r.user_id == 1][-1]
    assert latest_u1.n_events == 3
    assert latest_u1.total_value == pytest.approx(17.0)


def test_csv_corrupt_record_handling(spark, tmp_path):
    """Source robustness: malformed CSV rows must be quarantined into
    the corrupt-record column (PERMISSIVE), not crash the scan or
    silently vanish — at 100 TB some rows are always broken."""
    p = tmp_path / "dirty.csv"
    p.write_text("id,score\n1,2.5\nnot_an_int,oops_extra,3\n2,4.0\n")
    from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

    schema = StructType([
        StructField("id", IntegerType()),
        StructField("score", DoubleType()),
        StructField("_corrupt_record", StringType()),
    ])
    df = (
        spark.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema).csv(str(p))
    ).cache()
    good = df.filter(df._corrupt_record.isNull())
    bad = df.filter(df._corrupt_record.isNotNull())
    assert {(r.id, r.score) for r in good.collect()} == {(1, 2.5), (2, 4.0)}
    assert bad.count() == 1 and "oops_extra" in bad.collect()[0]._corrupt_record
    df.unpersist()


def test_parquet_corrupt_file_skip(spark, tmp_path):
    """Operational resilience at fleet scale: a truncated/garbage file
    inside a parquet dataset is SKIPPED under ignoreCorruptFiles
    instead of failing the whole scan — the posture a 100 TB read over
    millions of files needs (one bad object must not kill the job)."""
    d = tmp_path / "ds"
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(str(d))
    (d / "part-corrupt.parquet").write_bytes(b"PAR1 this is not a real parquet file")

    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.parquet(str(d)).count()  # default: corrupt file fails the scan

    got = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(str(d))
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.v) for r in got] == [(1, "a"), (2, "b")]


def test_transform_with_state_parity(spark, tmp_path):
    """The typed-handle StatefulProcessor behind
    ``stateful_running_totals`` accumulates per key across
    micro-batches, both driven directly and through Spark.

    The contract arm drives init/handleInputRows with ``Row`` iterators
    against a dict-backed ValueState handle — that part is our code.
    The streaming arm runs the same batches through a real
    transformWithState query (Spark's protobuf-framed state-server
    protocol, bridged by streaming/protobuf_bridge.py) and must agree."""
    from pyspark.sql import Row

    from graphdbetl_spark.streaming.stateful import make_running_totals_processor

    batches = [
        [(1, 10.0), (1, 5.0), (2, 1.0)],
        [(1, 2.0), (3, 7.0)],
    ]
    expected = {1: (3, 17.0), 2: (1, 1.0), 3: (1, 7.0)}

    # --- contract arm: the processor against a fake key-scoped handle
    class FakeValueState:
        def __init__(self):
            self.store = {}
            self.current_key = None

        def exists(self):
            return self.current_key in self.store

        def get(self):
            return self.store[self.current_key]

        def update(self, value):
            self.store[self.current_key] = tuple(value)

    class FakeHandle:
        def __init__(self, state):
            self._state = state

        def getValueState(self, name, schema, ttl_duration_ms=None):
            assert name == "totals"
            return self._state

    state = FakeValueState()
    proc = make_running_totals_processor()
    proc.init(FakeHandle(state))
    contract_latest = {}
    for batch in batches:  # each list = one micro-batch
        by_key: dict[int, list[Row]] = {}
        for uid, v in batch:
            by_key.setdefault(uid, []).append(Row(user_id=uid, value=v))
        for uid, rows in by_key.items():
            state.current_key = uid
            for out in proc.handleInputRows((uid,), iter(rows), None):
                contract_latest[out.user_id] = (out.n_events, out.total_value)
    proc.close()
    assert contract_latest == expected
    # the handle's persisted state matches the emissions (update-mode
    # contract: state IS the latest emission)
    assert dict(state.store) == expected

    # --- streaming arm: the same batches through a real query
    streamed_latest = {}
    for r in _stream_running_totals(spark, tmp_path, batches, "tws_parity"):
        streamed_latest[r.user_id] = (r.n_events, r.total_value)
    assert streamed_latest == contract_latest == expected
