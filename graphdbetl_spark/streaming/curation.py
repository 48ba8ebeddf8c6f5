"""Streaming corpus curation: route incoming documents into clean /
quarantine datasets by benchmark-contamination status as they arrive.

The streaming form of operators/curation.py's decontamination: the
eval-benchmark gram set is computed ONCE from a static DataFrame,
cached, and broadcast into every micro-batch's semi-join — each batch
is scanned map-side, never shuffled, so per-batch latency is
independent of corpus history (state lives in the output datasets, not
in the stream). foreachBatch is required because the flagging path
uses a distinct aggregation (unsupported in continuous append mode).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from graphdbetl_spark.operators.curation import decontaminate_against_eval


def start_streaming_decontamination(
    doc_stream: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    n: int = 5,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Continuously split an incoming document stream into
    ``clean_path`` (append) and ``quarantine_path`` (append) by n-gram
    overlap with the static eval set.

    Both sinks commit through :func:`write_batch_exactly_once`
    (batch_id-keyed staging + commit markers), so a crash between the
    two writes followed by checkpoint replay re-commits only the sink
    that missed — end-to-end exactly-once effect on BOTH outputs, not
    the at-least-once double-append a bare ``mode("append")`` pair
    gives. Readers see the routed sets as ``batch=<id>``-partitioned
    parquet datasets."""
    from graphdbetl_spark.streaming.txn_sink import write_batch_exactly_once

    # Materialize the (small) eval side once, not once per batch.
    eval_cached = eval_df.select(id_col, text_col).cache()
    eval_cached.count()

    def process(batch: DataFrame, batch_id: int) -> None:
        flags = decontaminate_against_eval(batch, text_col, id_col, eval_cached, n=n)
        routed = batch.join(flags, id_col).cache()
        try:
            write_batch_exactly_once(
                routed.filter(~F.col("contaminated")).drop("contaminated"),
                batch_id,
                clean_path,
            )
            write_batch_exactly_once(
                routed.filter(F.col("contaminated")).drop("contaminated"),
                batch_id,
                quarantine_path,
            )
        finally:
            routed.unpersist()

    writer = doc_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_neardup_screen(
    doc_stream: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    unique_path: str,
    dup_path: str,
    checkpoint: str,
    threshold: float = 0.6,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming incremental near-dup gate: route arriving documents
    into ``unique_path`` / ``dup_path`` by banded-MinHash similarity to
    a static reference corpus.

    The corpus's signature index (shingle sets + band buckets) is built
    ONCE, cached, and probed by every micro-batch — per-batch work is
    proportional to the batch, not the corpus, which is the shape that
    keeps a 100 TB reference corpus out of the per-batch critical path
    (in production the index is a persisted table bucketed by band
    bucket and this cache is a scan of it). Batch-internal duplicates
    are not this gate's job; they collapse in the batch's own
    self-dedup downstream.

    Both sinks commit through :func:`write_batch_exactly_once`, so a
    crash between the two writes + checkpoint replay re-commits only
    the missed sink (exactly-once effect on both outputs); the probe's
    batch-side signatures are built uncached, so a long-running stream
    pins no per-batch storage blocks.
    """
    from graphdbetl_spark.operators.dedup import (
        _minhash_md5_sig_buckets,
        minhash_probe_md5,
    )
    from graphdbetl_spark.streaming.txn_sink import write_batch_exactly_once

    sh_c, bk_c = _minhash_md5_sig_buckets(corpus_df, text_col, id_col, 3, 16, 4)
    sh_c.count()  # materialize both caches before the stream starts
    bk_c.count()

    def process(batch: DataFrame, batch_id: int) -> None:
        flags = minhash_probe_md5(
            sh_c, bk_c, batch, text_col, id_col, threshold=threshold
        )
        routed = batch.join(flags.select(id_col, "is_near_dup"), id_col).cache()
        try:
            write_batch_exactly_once(
                routed.filter(~F.col("is_near_dup")).drop("is_near_dup"),
                batch_id,
                unique_path,
            )
            write_batch_exactly_once(
                routed.filter(F.col("is_near_dup")).drop("is_near_dup"),
                batch_id,
                dup_path,
            )
        finally:
            routed.unpersist()

    writer = doc_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_quality_gate(
    doc_stream: DataFrame,
    text_col: str,
    id_col: str,
    pass_path: str,
    reject_path: str,
    checkpoint: str,
    entropy_low: float = 2.5,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming ingest-time quality gate: route arriving documents by
    the stateless rule tiers — Gopher word rules AND the character-
    entropy gibberish gate — into ``pass_path`` / ``reject_path``.
    Rejected rows carry a ``reject_reason`` audit column ('gopher',
    'low_entropy', or 'gopher+low_entropy').

    This is the cheap FIRST gate of a streaming corpus pipeline (both
    rules are per-row scan-stage expressions — zero shuffle, zero
    reference state), so it runs ahead of the stateful screens
    (decontamination, near-dup) and sheds junk before they pay for it.
    Both sinks commit through :func:`write_batch_exactly_once`
    (exactly-once effect under crash/replay, the shared contract of
    every router here).
    """
    from graphdbetl_spark.operators.curation import char_entropy, gopher_quality
    from graphdbetl_spark.streaming.txn_sink import write_batch_exactly_once

    def process(batch: DataFrame, batch_id: int) -> None:
        g = gopher_quality(batch, text_col, id_col).select(id_col, "passes")
        e = char_entropy(batch, text_col, id_col, low=entropy_low).select(
            id_col, "low_entropy"
        )
        routed = (
            batch.join(g, id_col).join(e, id_col)
            .withColumn(
                "reject_reason",
                F.concat_ws(
                    "+",
                    F.when(~F.col("passes"), F.lit("gopher")),
                    F.when(F.col("low_entropy"), F.lit("low_entropy")),
                ),
            )
            .cache()
        )
        ok = F.col("passes") & ~F.col("low_entropy")
        try:
            write_batch_exactly_once(
                routed.filter(ok).drop("passes", "low_entropy", "reject_reason"),
                batch_id,
                pass_path,
            )
            write_batch_exactly_once(
                routed.filter(~ok).drop("passes", "low_entropy"),
                batch_id,
                reject_path,
            )
        finally:
            routed.unpersist()

    writer = doc_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_semantic_screen(
    vec_stream: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    vec_col: str,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    threshold: float = 0.35,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Streaming semantic decontamination: route an arriving embedding
    stream into ``clean_path`` / ``quarantine_path`` by max cosine to
    the static eval set (the embedding-tier sibling of
    :func:`start_streaming_decontamination` — catches paraphrased eval
    leakage that shares no n-gram).

    The eval side is cached once and broadcast into every micro-batch's
    max-cosine pass (operators/curation.py semantic_decontaminate), so
    per-batch work is one scan of the batch — independent of corpus
    history AND of how long the stream has run; no per-batch state
    accumulates. Both sinks commit through
    :func:`write_batch_exactly_once` (batch_id-keyed staging + commit
    markers): a crash between the writes + checkpoint replay re-commits
    only the missed sink."""
    from graphdbetl_spark.operators.curation import semantic_decontaminate
    from graphdbetl_spark.streaming.txn_sink import write_batch_exactly_once

    eval_cached = eval_df.select(id_col, vec_col).cache()
    eval_cached.count()

    def process(batch: DataFrame, batch_id: int) -> None:
        flags = semantic_decontaminate(
            batch, eval_cached, id_col, vec_col, threshold=threshold
        )
        # left join: an empty eval set flags no row, so every row is clean
        routed = (
            batch.join(flags.select(id_col, "contaminated"), id_col, "left")
            .na.fill(False, ["contaminated"])
            .cache()
        )
        try:
            write_batch_exactly_once(
                routed.filter(~F.col("contaminated")).drop("contaminated"),
                batch_id,
                clean_path,
            )
            write_batch_exactly_once(
                routed.filter(F.col("contaminated")).drop("contaminated"),
                batch_id,
                quarantine_path,
            )
        finally:
            routed.unpersist()

    writer = vec_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
