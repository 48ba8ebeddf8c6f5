"""Streaming corpus curation: route incoming documents into clean /
quarantine datasets by benchmark-contamination status as they arrive.

The streaming form of operators/curation.py's decontamination: the
eval-benchmark gram set is computed ONCE from a static DataFrame,
checkpointed, and broadcast into every micro-batch's semi-join — each
batch is scanned map-side, never shuffled, so per-batch latency is
independent of corpus history (state lives in the output datasets, not
in the stream). foreachBatch is required because the flagging path
uses a distinct aggregation (unsupported in continuous append mode).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import StreamingQuery

from graphdbetl_spark.operators.curation import decontaminate_against_eval
from graphdbetl_spark.operators.skew import pinned
from graphdbetl_spark.streaming import txn_sink


def _write_routed(
    routed: DataFrame,
    ok: Column,
    batch_id: int,
    ok_path: str,
    flagged_path: str,
    flag_cols: tuple[str, ...],
    audit_cols: tuple[str, ...] = (),
) -> None:
    """One micro-batch's two exactly-once sink commits (``ok`` rows to
    ``ok_path``, the rest to ``flagged_path``), with ``routed`` pinned
    across both. ``flag_cols`` leave both outputs, ``audit_cols`` only
    the ok one. The sink is looked up per call, so a crash-injecting
    replacement of ``txn_sink.write_batch_exactly_once`` is seen."""
    with pinned(routed):
        txn_sink.write_batch_exactly_once(
            routed.filter(ok).drop(*flag_cols, *audit_cols), batch_id, ok_path
        )
        txn_sink.write_batch_exactly_once(
            routed.filter(~ok).drop(*flag_cols), batch_id, flagged_path
        )


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
    # Materialize the (small) eval side once, not once per batch; the
    # stream's batches read it for the stream's lifetime (form 1).
    eval_side = eval_df.select(id_col, text_col).localCheckpoint(eager=True)

    def process(batch: DataFrame, batch_id: int) -> None:
        flags = decontaminate_against_eval(batch, text_col, id_col, eval_side, n=n)
        _write_routed(
            batch.join(flags, id_col), ~F.col("contaminated"), batch_id,
            clean_path, quarantine_path, ("contaminated",),
        )

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
    ONCE, checkpointed, and probed by every micro-batch — per-batch
    work is proportional to the batch, not the corpus, which is the
    shape that keeps a 100 TB reference corpus out of the per-batch
    critical path (in production the index is a persisted table
    bucketed by band bucket and this checkpoint is a scan of it).
    Batch-internal duplicates are not this gate's job; they collapse in
    the batch's own self-dedup downstream.

    Both sinks commit through :func:`write_batch_exactly_once`, so a
    crash between the two writes + checkpoint replay re-commits only
    the missed sink (exactly-once effect on both outputs); the probe's
    batch-side signatures are built unmaterialized, and each batch's
    routed frame is released after its writes, so a long-running
    stream pins no per-batch storage blocks.
    """
    from graphdbetl_spark.operators.dedup import (
        _minhash_md5_sig_buckets,
        minhash_probe_md5,
    )

    sh_c, bk_c = _minhash_md5_sig_buckets(corpus_df, text_col, id_col, 3, 16, 4)

    def process(batch: DataFrame, batch_id: int) -> None:
        flags = minhash_probe_md5(
            sh_c, bk_c, batch, text_col, id_col, threshold=threshold
        )
        _write_routed(
            batch.join(flags.select(id_col, "is_near_dup"), id_col),
            ~F.col("is_near_dup"), batch_id, unique_path, dup_path,
            ("is_near_dup",),
        )

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
        )
        _write_routed(
            routed, F.col("passes") & ~F.col("low_entropy"), batch_id,
            pass_path, reject_path, ("passes", "low_entropy"), ("reject_reason",),
        )

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

    The eval side is checkpointed once and broadcast into every
    micro-batch's max-cosine pass (operators/curation.py
    semantic_decontaminate), so per-batch work is one scan of the batch
    — independent of corpus history AND of how long the stream has
    run; no per-batch state
    accumulates. Both sinks commit through
    :func:`write_batch_exactly_once` (batch_id-keyed staging + commit
    markers): a crash between the writes + checkpoint replay re-commits
    only the missed sink."""
    from graphdbetl_spark.operators.curation import semantic_decontaminate

    eval_side = eval_df.select(id_col, vec_col).localCheckpoint(eager=True)

    def process(batch: DataFrame, batch_id: int) -> None:
        flags = semantic_decontaminate(
            batch, eval_side, id_col, vec_col, threshold=threshold
        )
        # left join: an empty eval set flags no row, so every row is clean
        routed = batch.join(flags.select(id_col, "contaminated"), id_col, "left")
        _write_routed(
            routed.na.fill(False, ["contaminated"]), ~F.col("contaminated"),
            batch_id, clean_path, quarantine_path, ("contaminated",),
        )

    writer = vec_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
