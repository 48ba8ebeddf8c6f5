"""Event-time windowing — batch and Structured Streaming forms.

The reference "streams" only in the cursor-iteration sense
(``graph_db_builder.py:28, 485-486``); real stream semantics are the
north-star extension. Spark's ``window``/``session_window`` evaluate
identically in batch and streaming, so each operator here has a
batch form (oracle-checkable against DuckDB) and a streaming wrapper
(watermarks, late-data drop, stateful dedup) tested via file-replay in
tests/test_streaming.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# -- batch forms (same expressions Structured Streaming uses)


def tumbling_counts(events: DataFrame, ts_col: str = "ts", width: str = "10 minutes") -> DataFrame:
    """Tumbling-window event counts + value sum, keyed by event_type."""
    return (
        events.groupBy(F.window(ts_col, width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, ts_col: str = "ts", width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window(ts_col, width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


def session_stats(events: DataFrame, ts_col: str = "ts", gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: sessions close after ``gap`` of
    inactivity. Batch form of the streaming session_window operator."""
    return (
        events.groupBy(F.session_window(ts_col, gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            "user_id",
            F.col("sess.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# -- streaming wrappers


def streaming_tumbling_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    width: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming tumbling counts with a watermark: state for windows
    older than the watermark is evicted; later rows are dropped
    (late-data semantics verified in tests)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, width).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )


def streaming_dedup(
    stream: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "10 minutes"
) -> DataFrame:
    """Stateful exact dedup within the watermark horizon (D1 in
    streaming form): state size bounded by the watermark."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])


def streaming_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to clicks by
    the same user within the preceding ``window``. Both sides carry
    watermarks so the join state (buffered rows awaiting matches) is
    evicted once event time passes — the property that keeps a
    stream-stream join bounded on an unbounded stream."""
    p = purchases.withWatermark("ts", watermark).alias("p")
    c = clicks.withWatermark("ts", watermark).alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr(f"INTERVAL {window}"))
    )
    return p.join(c, cond).select(
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.value").alias("purchase_value"),
    )


def streaming_dedup_within_watermark(
    stream: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "10 minutes"
) -> DataFrame:
    """Key-only stateful dedup within the watermark horizon
    (``dropDuplicatesWithinWatermark``): unlike ``streaming_dedup``,
    re-sends of the same key with DIFFERENT event times still collapse
    as long as they arrive inside the watermark — the semantics for
    at-least-once upstream producers (retries carry fresh timestamps).
    State per key is evicted once the watermark passes it, so state
    size tracks the active-key set, not the stream length."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
