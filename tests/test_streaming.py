"""Structured Streaming integration tests (SURVEY.md §5.4): file-replay
of the events table through readStream, asserting window results match
the batch forms and that watermark/stateful-dedup semantics hold."""

import os
import shutil
import time

import pyspark.sql.functions as F
import pytest

from graphdbetl_spark.sources.catalog import load_table
from graphdbetl_spark.streaming.windows import (
    streaming_dedup,
    streaming_tumbling_counts,
    tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Replay source: events rows written as parquet files (ts already
    normalized to TimestampType so readStream needs no nanos handling)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def _run_available_now(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_tumbling_matches_batch(spark, events_dir):
    batch_df = spark.read.parquet(events_dir)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(events_dir)

    _run_available_now(streaming_tumbling_counts(stream_df), "tumbling_test")
    got = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    expected = {
        (r.window_start, r.event_type): r.n_events
        for r in tumbling_counts(batch_df).select("window_start", "event_type", "n_events").collect()
    }
    assert got == expected


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    src = str(tmp_path / "dup_events")
    base = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "click"), (1, "2024-01-01 00:00:00", "click"),
         (2, "2024-01-01 00:01:00", "view")],
        ["user_id", "ts_s", "event_type"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    base.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    deduped = streaming_dedup(stream, ["user_id", "event_type"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_test").collect()
    assert len(rows) == 2  # the duplicate (1, click, same ts) collapsed


def test_streaming_session_window_matches_batch(spark, events_dir):
    """session_window in real streaming mode (watermarked, append)
    produces the same closed sessions as the batch form."""
    from graphdbetl_spark.streaming.windows import session_stats

    batch_df = spark.read.parquet(events_dir)
    expected = {
        (r.user_id, r.session_start): (r.n_events, r.sum_value)
        for r in session_stats(batch_df, "ts", "30 minutes").collect()
    }

    stream = spark.readStream.schema(batch_df.schema).parquet(events_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select("user_id", F.col("sess.start").alias("session_start"), "n_events", "sum_value")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    # append mode emits only watermark-closed sessions: all sessions
    # except those within 1h of max event time; emitted ones must match
    assert got
    for key, val in got.items():
        assert expected[key] == val
    # and the vast majority of batch sessions were emitted
    assert len(got) >= 0.95 * len(expected)


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream join produces the same matches as the
    equivalent batch interval join over the same files."""
    from graphdbetl_spark.streaming.windows import streaming_interval_join

    batch = spark.read.parquet(events_dir)
    purchases_b = batch.filter(F.col("event_type") == "purchase")
    clicks_b = batch.filter(F.col("event_type") == "click")
    expected = set(
        (r.user_id, r.purchase_ts, r.click_ts)
        for r in streaming_interval_join(purchases_b, clicks_b).collect()
    )
    assert expected  # the fixture data produces matches

    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    joined = streaming_interval_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "click"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = set(
        (r.user_id, r.purchase_ts, r.click_ts)
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    )
    assert got == expected


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """Three deterministic micro-batches: (1) on-time event at 00:05,
    (2) event at 03:00 advances the watermark past the 00:00 window,
    (3) a late event at 00:06 arrives — it must be dropped, so the
    closed 00:00 window keeps n=1."""
    src = str(tmp_path / "late_events")
    os.makedirs(src)

    def write_batch(rows, name):
        df = spark.createDataFrame(rows, ["user_id", "ts_s", "event_type", "value"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in os.listdir(str(tmp_path / name)):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(str(tmp_path / name), f), os.path.join(src, f"{name}.parquet"))

    write_batch([(1, "2024-01-01 00:05:00", "click", 1.0)], "b1")
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "n")
    )
    q = agg.writeStream.format("memory").queryName("late_test").outputMode("append").start()
    try:
        q.processAllAvailable()  # batch 1: 00:05 on time
        write_batch([(2, "2024-01-01 03:00:00", "click", 1.0)], "b2")
        q.processAllAvailable()  # batch 2: watermark -> 02:50, 00:00 window closes
        write_batch([(3, "2024-01-01 00:06:00", "click", 1.0)], "b3")
        q.processAllAvailable()  # batch 3: 00:06 is now late -> dropped
        time.sleep(1)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r.ws.isoformat(): r.n for r in spark.sql("SELECT * FROM late_test").collect()}
    assert rows.get("2024-01-01T00:00:00") == 1  # late 00:06 excluded


def test_streaming_dedup_within_watermark_collapses_retries(spark, tmp_path):
    """Producer-retry shape: same key re-sent with a DIFFERENT ts inside
    the watermark must still collapse (plain dropDuplicates would keep
    both rows because ts participates in the key)."""
    from graphdbetl_spark.streaming.windows import streaming_dedup_within_watermark

    src = str(tmp_path / "retry_events")
    base = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "click"), (1, "2024-01-01 00:02:00", "click"),
         (2, "2024-01-01 00:01:00", "view")],
        ["user_id", "ts_s", "event_type"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    base.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    deduped = streaming_dedup_within_watermark(
        stream, ["user_id", "event_type"], "ts", "10 minutes"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dedup_wm_test").collect()
    assert len(rows) == 2  # retry with shifted ts collapsed; distinct key kept
    assert {(r.user_id, r.event_type) for r in rows} == {(1, "click"), (2, "view")}


def test_append_mode_emits_only_finalized_windows(spark, events_dir):
    """Append mode + watermark: a window row is emitted only once its
    end falls at or below the final watermark (max event time − delay).
    Complete mode emits everything; the difference is the contract
    downstream sinks rely on for exactly-once window delivery."""
    import datetime

    batch_df = spark.read.parquet(events_dir)
    max_ts = batch_df.agg(F.max("ts")).first()[0]
    stream_df = spark.readStream.schema(batch_df.schema).parquet(events_dir)

    windowed = (
        stream_df.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.end").alias("window_end"), "n")
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("append_windows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = {r.window_end for r in spark.sql("SELECT * FROM append_windows").collect()}
    watermark = max_ts - datetime.timedelta(minutes=30)
    assert emitted, "no windows finalized"
    assert all(we <= watermark for we in emitted)
    # every hour window fully below the watermark was emitted
    expected = {
        r.window_end
        for r in batch_df.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.end").alias("window_end"))
        .collect()
        if r.window_end <= watermark
    }
    assert emitted == expected


def test_rocksdb_state_store_runs_stateful_query(spark, tmp_path):
    """The at-scale state backend: RocksDB keeps streaming state off the
    executor heap (HDFS-backed in-memory maps OOM at large key
    cardinality). Pin that the engine's session selects the bundled
    provider and a stateful dedup runs under it."""
    src = str(tmp_path / "rocks_events")
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "click"), (1, "2024-01-01 00:00:00", "click"),
         (2, "2024-01-01 00:01:00", "view")],
        ["user_id", "ts_s", "event_type"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    # The engine's session confs select the provider for every query.
    assert spark.conf.get("spark.sql.streaming.stateStore.providerClass") == (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    deduped = streaming_dedup(stream, ["user_id", "event_type"], "ts", "10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("rocksdb_dedup")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(spark.sql("SELECT * FROM rocksdb_dedup").collect()) == 2
