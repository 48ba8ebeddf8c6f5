"""Streaming node-ingest test: two micro-batch replays maintain a
deduped node table (the reference's build loop as a streaming sink)."""

import os
import shutil

import pyspark.sql.functions as F

from graphdbetl_spark.streaming.ingest import start_node_ingest, upsert_batch


def test_upsert_batch_merges_and_creates(spark):
    existing = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "id int, name string, v double")
    batch = spark.createDataFrame([(2, None, 9.0), (3, "c", 3.0)], "id int, name string, v double")
    out = {r.id: (r.name, r.v) for r in upsert_batch(existing, batch, "id").collect()}
    assert out == {1: ("a", 1.0), 2: ("b", 9.0), 3: ("c", 3.0)}  # 2: batch v wins, name kept


def test_streaming_ingest_two_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    table = str(tmp_path / "node_table")
    ckpt = str(tmp_path / "ck")  # shared: restart resumes from the offset log
    os.makedirs(src)

    def add_file(rows, name):
        df = spark.createDataFrame(rows, "user_id long, event_type string, value double")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f), os.path.join(src, f"{name}.parquet"))

    schema = "user_id long, event_type string, value double"
    add_file([(1, "signup", 1.0), (1, "click", 2.0), (2, "signup", 5.0)], "b1")
    stream = spark.readStream.schema(schema).parquet(src)
    q = start_node_ingest(stream, table, "user_id", ckpt)
    q.awaitTermination(120)

    t1 = {r.user_id for r in spark.read.parquet(table).collect()}
    assert t1 == {1, 2}  # deduped within batch

    add_file([(2, "purchase", 9.0), (3, "signup", 7.0)], "b2")
    # restart with the same checkpoint: only the new file forms batch 2
    stream2 = spark.readStream.schema(schema).parquet(src)
    q2 = start_node_ingest(stream2, table, "user_id", ckpt)
    q2.awaitTermination(120)

    rows = {r.user_id: r for r in spark.read.parquet(table).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].value == 9.0  # latest batch won


def test_streaming_decontamination_routes_batches(spark, tmp_path):
    from graphdbetl_spark.operators.curation import decontaminate_against_eval
    from graphdbetl_spark.streaming.curation import start_streaming_decontamination

    src = str(tmp_path / "docs_src")
    clean = str(tmp_path / "clean")
    quarantine = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "dck")
    os.makedirs(src)

    schema = "doc_id long, text string"
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], schema
    )

    def add_file(rows, name):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f),
                            os.path.join(src, f"{name}.parquet"))

    batch1 = [
        (1, "intro alpha beta gamma delta epsilon outro"),  # contaminated
        (2, "totally unrelated words in this one here"),
    ]
    batch2 = [
        (3, "more clean content nothing shared with eval"),
        (4, "x beta gamma delta epsilon zeta y"),  # contaminated
    ]

    add_file(batch1, "d1")
    q = start_streaming_decontamination(
        spark.readStream.schema(schema).parquet(src),
        eval_df, "text", "doc_id", clean, quarantine, ckpt,
    )
    q.awaitTermination(120)
    add_file(batch2, "d2")
    q2 = start_streaming_decontamination(
        spark.readStream.schema(schema).parquet(src),
        eval_df, "text", "doc_id", clean, quarantine, ckpt,
    )
    q2.awaitTermination(120)

    got_clean = {r.doc_id for r in spark.read.parquet(clean).collect()}
    got_quar = {r.doc_id for r in spark.read.parquet(quarantine).collect()}
    assert got_clean == {2, 3}
    assert got_quar == {1, 4}

    # streaming result == batch operator on the union of all batches
    all_docs = spark.createDataFrame(batch1 + batch2, schema)
    batch_flags = {
        r.doc_id: r.contaminated
        for r in decontaminate_against_eval(all_docs, "text", "doc_id", eval_df).collect()
    }
    assert got_quar == {d for d, c in batch_flags.items() if c}


def test_upsert_batch_first_wins_is_arrival_order(spark):
    """Within a micro-batch, the EARLIEST row's non-null value wins —
    not the per-column minimum (the vacuous order_by=id degeneracy)."""
    batch = spark.createDataFrame(
        [(1, "b", 2.0), (1, "a", 1.0), (1, None, 0.5)],
        "id int, name string, v double",
    ).coalesce(1)
    out = upsert_batch(None, batch, "id").collect()[0]
    assert (out.name, out.v) == ("b", 2.0)


def test_ingest_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between move-aside and promote leaves the table missing
    but __old intact; the next batch must heal it, not restart from
    empty state."""
    import pyspark.sql.functions as F  # noqa: F401

    from graphdbetl_spark.etl.maintenance import recover_dataset

    table = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id int, name string").write.parquet(table)
    os.rename(table, table + "__old")  # simulate the crash window
    assert recover_dataset(table)
    assert spark.read.parquet(table).count() == 1
    assert not os.path.exists(table + "__old")


def test_upsert_replay_is_idempotent(spark, tmp_path):
    """At-least-once safety: reprocessing the same micro-batch against
    the already-merged table must not change it (foreachBatch may
    replay a batch after a crash-restart)."""
    from graphdbetl_spark.etl.maintenance import safe_overwrite
    from graphdbetl_spark.streaming.ingest import upsert_batch

    table = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0)], "id int, name string, v double"
    )
    safe_overwrite(upsert_batch(None, batch, "id"), table)
    first = {tuple(r) for r in spark.read.parquet(table).collect()}
    # replay the identical batch against the merged state
    existing = spark.read.parquet(table)
    safe_overwrite(upsert_batch(existing, batch, "id"), table)
    second = {tuple(r) for r in spark.read.parquet(table).collect()}
    assert first == second


def test_exactly_once_sink_collapses_replays(spark, tmp_path):
    """Two-phase commit sink: a real streamed batch lands once; manual
    replays of the same batchId (Structured Streaming's at-least-once
    contract) are no-ops at every crash point in the protocol."""
    from graphdbetl_spark.streaming.txn_sink import (
        committed_batches,
        exactly_once_sink,
        write_batch_exactly_once,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    batch_df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
    )
    batch_df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(exactly_once_sink(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert committed_batches(out) == {0}
    assert spark.read.parquet(out).count() == 3

    # straight replay of a committed batch: no-op
    assert write_batch_exactly_once(batch_df, 0, out) is False
    assert spark.read.parquet(out).count() == 3

    # crash between rename and marker: data dir present, marker gone —
    # replay must re-stamp without duplicating data
    os.remove(os.path.join(out, "_commits", "0.json"))
    assert write_batch_exactly_once(batch_df, 0, out) is True
    assert committed_batches(out) == {0}
    assert spark.read.parquet(out).count() == 3

    # crash mid-stage: leftover staging must not leak into the dataset
    stage = os.path.join(out, "_staging", "1")
    os.makedirs(stage)
    with open(os.path.join(stage, "junk.parquet"), "w") as f:
        f.write("partial")
    assert spark.read.parquet(out).count() == 3  # _staging invisible
    assert write_batch_exactly_once(batch_df, 1, out) is True
    assert spark.read.parquet(out).count() == 6
    assert committed_batches(out) == {0, 1}


def test_streaming_neardup_screen_routes_batches(spark, tmp_path):
    from graphdbetl_spark.operators.dedup import minhash_incremental_md5
    from graphdbetl_spark.streaming.curation import start_streaming_neardup_screen

    src = str(tmp_path / "nd_src")
    unique = str(tmp_path / "nd_unique")
    dup = str(tmp_path / "nd_dup")
    ckpt = str(tmp_path / "nd_ck")
    os.makedirs(src)

    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = spark.createDataFrame(
        [(100 + i, base + f" tail{i % 2}") for i in range(6)]
        + [(200, "pack my box with five dozen liquor jugs tonight friends")],
        schema,
    )

    def add_file(rows, name):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f),
                            os.path.join(src, f"{name}.parquet"))

    batch1 = [
        (1, base + " tail0"),                                   # near-dup of corpus
        (2, "entirely novel sentence with no corpus overlap at all"),
    ]
    batch2 = [
        (3, "pack my box with five dozen liquor jugs tonight friends"),  # exact corpus dup
        (4, "another fresh document matching nothing we have seen"),
    ]

    add_file(batch1, "n1")
    q = start_streaming_neardup_screen(
        spark.readStream.schema(schema).parquet(src),
        corpus, "text", "doc_id", unique, dup, ckpt,
    )
    q.awaitTermination(120)
    add_file(batch2, "n2")
    q2 = start_streaming_neardup_screen(
        spark.readStream.schema(schema).parquet(src),
        corpus, "text", "doc_id", unique, dup, ckpt,
    )
    q2.awaitTermination(120)

    got_unique = {r.doc_id for r in spark.read.parquet(unique).collect()}
    got_dup = {r.doc_id for r in spark.read.parquet(dup).collect()}
    assert got_dup == {1, 3}
    assert got_unique == {2, 4}

    # streaming routing == the batch incremental screen on the union
    all_docs = spark.createDataFrame(batch1 + batch2, schema)
    flags = {
        r.doc_id: r.is_near_dup
        for r in minhash_incremental_md5(corpus, all_docs, "text", "doc_id").collect()
    }
    assert got_dup == {d for d, v in flags.items() if v}


def test_streaming_quality_gate_routes_and_audits(spark, tmp_path):
    from graphdbetl_spark.streaming.curation import start_streaming_quality_gate

    src = str(tmp_path / "qg_src")
    ok = str(tmp_path / "qg_pass")
    bad = str(tmp_path / "qg_reject")
    ckpt = str(tmp_path / "qg_ck")
    os.makedirs(src)

    schema = "doc_id long, text string"
    good = ("the quick brown fox jumps over and over with many fine words " * 5).strip()
    gibberish = "a" * 400  # word count 1 AND entropy 0
    # no stopwords but char-diverse (entropy 3.2 > 2.5): fails ONLY gopher
    salad = " ".join(
        "".join(chr(97 + (i * 5 + j * 3) % 26) for j in range(6)) for i in range(80)
    )

    def add_file(rows, name):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f),
                            os.path.join(src, f"{name}.parquet"))

    add_file([(1, good), (2, gibberish)], "q1")
    q = start_streaming_quality_gate(
        spark.readStream.schema(schema).parquet(src),
        "text", "doc_id", ok, bad, ckpt,
    )
    q.awaitTermination(120)
    add_file([(3, salad), (4, good)], "q2")
    q2 = start_streaming_quality_gate(
        spark.readStream.schema(schema).parquet(src),
        "text", "doc_id", ok, bad, ckpt,
    )
    q2.awaitTermination(120)

    got_ok = {r.doc_id for r in spark.read.parquet(ok).collect()}
    rej = {r.doc_id: r.reject_reason for r in spark.read.parquet(bad).collect()}
    assert got_ok == {1, 4}
    assert rej[2] == "gopher+low_entropy"
    assert rej[3] == "gopher"


def test_streaming_semantic_screen_routes_batches(spark, tmp_path):
    from graphdbetl_spark.operators.curation import semantic_decontaminate
    from graphdbetl_spark.streaming.curation import start_streaming_semantic_screen

    src = str(tmp_path / "vec_src")
    clean = str(tmp_path / "sclean")
    quarantine = str(tmp_path / "squar")
    ckpt = str(tmp_path / "sck")
    os.makedirs(src)

    schema = "vec_id long, embedding array<double>"
    eval_df = spark.createDataFrame([(100, [1.0, 0.0, 0.0])], schema)

    def add_file(rows, name):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f),
                            os.path.join(src, f"{name}.parquet"))

    batch1 = [
        (1, [2.0, 0.1, 0.0]),   # near-parallel to eval -> contaminated
        (2, [0.0, 1.0, 0.0]),   # orthogonal -> clean
    ]
    batch2 = [
        (3, [0.0, 0.5, 0.5]),   # orthogonal -> clean
        (4, [5.0, 0.0, 0.1]),   # near-parallel -> contaminated
    ]

    add_file(batch1, "v1")
    q = start_streaming_semantic_screen(
        spark.readStream.schema(schema).parquet(src),
        eval_df, "vec_id", "embedding", clean, quarantine, ckpt,
        threshold=0.9,
    )
    q.awaitTermination(120)
    add_file(batch2, "v2")
    q2 = start_streaming_semantic_screen(
        spark.readStream.schema(schema).parquet(src),
        eval_df, "vec_id", "embedding", clean, quarantine, ckpt,
        threshold=0.9,
    )
    q2.awaitTermination(120)

    got_clean = {r.vec_id for r in spark.read.parquet(clean).collect()}
    got_quar = {r.vec_id for r in spark.read.parquet(quarantine).collect()}
    assert got_clean == {2, 3}
    assert got_quar == {1, 4}

    # streaming result == batch operator on the union of all batches
    all_vecs = spark.createDataFrame(batch1 + batch2, schema)
    batch_flags = {
        r.vec_id: r.contaminated
        for r in semantic_decontaminate(
            all_vecs, eval_df, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    assert got_quar == {v for v, c in batch_flags.items() if c}


def test_streaming_semantic_screen_empty_eval_set_keeps_every_row(spark, tmp_path):
    from graphdbetl_spark.streaming.curation import start_streaming_semantic_screen

    schema = "vec_id long, embedding array<double>"
    src = str(tmp_path / "vec_src")
    spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema).coalesce(
        1
    ).write.parquet(src)
    clean, quarantine = str(tmp_path / "clean"), str(tmp_path / "quar")
    q = start_streaming_semantic_screen(
        spark.readStream.schema(schema).parquet(src),
        spark.createDataFrame([], schema), "vec_id", "embedding",
        clean, quarantine, str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    assert {r.vec_id for r in spark.read.parquet(clean).collect()} == {1, 2}
    assert spark.read.parquet(quarantine).count() == 0
