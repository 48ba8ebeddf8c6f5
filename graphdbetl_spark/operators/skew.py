"""Partition sizing and skew mitigation primitives (SURVEY.md §4:
"salting only if dedup keys skew").

Sizing: :func:`fan` is the engine's one fan-out rule (how many tasks a
per-row kernel gets), :func:`iterate_partitions` its byte-derived
sizing input, and :func:`checkpoint_if_scaled` the size-conditional
materialization. The three byte budgets below are their only knobs.
:func:`pinned` holds the engine's one materialization rule.

AQE's skew-join splitting handles most cases at runtime; these helpers
cover the two shapes AQE can't: skewed *aggregation* keys, and skewed
*broadcast-ineligible* joins. Both use the standard two-phase salt:
spread a hot key over N sub-keys, partially aggregate, then combine.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Config exposure for the size-derived devices (r11 verdict #7): the
# byte budgets are single-host-measured constants (r11/r12 paired A/Bs
# at sf0.1 plus 30× rungs); a deployment tunes them without a code
# change. Defaults keep the local bench behavior bit-identical.
BYTES_PER_TASK = int(os.environ.get("SPARK_GRAFT_BYTES_PER_TASK", str(4 << 20)))
CHECKPOINT_BYTES = int(os.environ.get("SPARK_GRAFT_CHECKPOINT_BYTES", str(4 << 20)))
DECODE_BYTES_PER_TASK = int(os.environ.get("SPARK_GRAFT_DECODE_BPT", str(128 << 10)))


def fan(df: DataFrame, key: str, bytes_per_task: int | None = None) -> DataFrame:
    """The engine's one fan-out rule: how many tasks a per-row kernel
    gets. Target tasks are ``defaultParallelism`` when
    ``bytes_per_task`` is None, else ``iterate_partitions(df,
    bytes_per_task)`` (clamp(plan bytes / budget, 1,
    defaultParallelism)). A target ≤ 1 keeps ``df``; a frame with at
    most half the target's partitions is hash-repartitioned on ``key``
    to the target (deterministic and order-insensitive downstream; the
    shuffled bytes are the small raw input, not the kernel's exploded
    intermediate); any other frame is kept, as is any frame whose
    partitions or stats cannot be read (non-classic sessions).

    Why small inputs need it: small parquet files are one row group,
    so the scan is ONE task and the whole map side serializes on one
    core. At cluster scale inputs arrive in many splits and no exchange
    is added to the hot path. Only the few-splits → many-cores
    direction is taken: a blind ``coalesce`` down would fuse into the
    parent stage and collapse whatever upstream compute feeds the
    frame, so coalescing is left to AQE where a shuffle follows.

    The budgets, measured on one host (r11/r12 A/Bs):

    - ``None`` for per-row-heavy kernels (n-gram explode + md5, PQ
      code assignment): spreading even a small corpus over all cores
      is the win.
    - ``BYTES_PER_TASK`` (4 MB) for light vector kernels: each task
      pays a fixed Python-worker/Arrow setup, and one kernel pass plus
      top-k over a 2 000-row frame cost ~1.0 s at 32 partitions vs
      ~0.3 s at ≤4 (an 8-round trajectory pays it every round).
    - ``DECODE_BYTES_PER_TASK`` (128 KB) for the vectorized decode
      kernels, applied to the projection they read: ≈ 5-7k rows or
      ~100 ms of attach+decode+hash per task. sf0.1 gets 1 task (the
      1-task arm won 9/10 paired rounds) and a 30× replica ~26 (full
      fan-out won that rung); a heavier real codec lowers it.
    """
    try:
        if bytes_per_task is None:
            target = df.sparkSession.sparkContext.defaultParallelism
        else:
            target = iterate_partitions(df, bytes_per_task)
        if target <= 1:
            return df
        nparts = df.rdd.getNumPartitions()
    except Exception:  # non-classic sessions: keep the plan untouched
        return df
    if nparts * 2 <= target:
        return df.repartition(target, F.col(key))
    return df


def iterate_partitions(df: DataFrame, bytes_per_task: int | None = None) -> int:
    """Size-derived task count: clamp(optimized-plan bytes /
    ``bytes_per_task``, 1, defaultParallelism). The sizing input for
    :func:`fan` and for iterated cached frames (a
    per-round job over a cached frame pays a fixed per-task cost every
    round, so a tiny frame should not hold core-count partitions).
    Raises whatever the underlying session raises on non-classic
    backends — callers fall back to leaving the plan untouched."""
    if bytes_per_task is None:
        bytes_per_task = BYTES_PER_TASK
    stats_bytes = int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    return max(1, min(
        df.sparkSession.sparkContext.defaultParallelism,
        stats_bytes // max(1, bytes_per_task),
    ))


def checkpoint_if_scaled(
    df: DataFrame, size_of: DataFrame, threshold_bytes: int | None = None
) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` when ``size_of``'s
    optimized-plan bytes exceed the threshold, else ``df`` unchanged.

    The eager checkpoint is a SCALE device (compute a multiply-consumed
    subtree once, cut lineage, pin it before a self-join races to
    build it twice — see _capped_gram_index). At tiny scale it
    inverts: the r11 bench measured the materialization job at
    ~0.8-1.0 s for a 270k-row gram explode whose plain recompute costs
    ~0.17 s — so below the threshold every consumer just recomputes
    the (deterministic) lineage, and identical self-join sides still
    collapse into one exchange via ReuseExchange. Callers must only
    use this for DETERMINISTIC frames: an unpinned nondeterministic
    subtree could show different rows to different consumers."""
    if threshold_bytes is None:
        threshold_bytes = CHECKPOINT_BYTES
    try:
        stats_bytes = int(
            size_of._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # non-classic sessions: keep the scale behavior
        stats_bytes = threshold_bytes + 1
    if stats_bytes > threshold_bytes:
        return df.localCheckpoint(eager=True)
    return df


@contextmanager
def pinned(df: DataFrame) -> Iterator[DataFrame]:
    """``df.persist()`` for the body of the ``with``, ``unpersist()``
    on leaving it, exception or not.

    The engine's one materialization rule: a multiply-consumed frame
    takes one of two forms.

    1. A frame that a RETURNED lazy DataFrame still reads is a
       lineage-owned ``localCheckpoint(eager=True)`` (or
       :func:`checkpoint_if_scaled` where the small-scale inversion was
       measured), never a cache: the ContextCleaner frees its blocks
       once the driver drops the frames reading it, and nothing enters
       the CacheManager. On ``dedup_minhash`` (sf0.01, 4 cores, 8
       alternating pairs) it gave identical rows and 1.98 s of process
       CPU per op against 2.62 s cached (lower in 8/8), equal wall.
    2. A frame read only by the function's own driver-side actions
       (iterative rounds, a collect of bounds, a pair of sink writes)
       is held through this context manager. Spark SQL's in-memory
       columnar cache compresses and spills where a checkpoint stores
       raw rows: a checkpointed graph adjacency list ran an 8 GB heap
       out of memory on the 30x replica where the cache spilled.
       ``persist()`` uses ``cache()``'s level (``MEMORY_AND_DISK_DESER``).

    Per-round lineage cuts in driver loops stay plain
    ``localCheckpoint()`` calls (form 1 for the last round's frame).
    """
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def salted_count_sum(
    df: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    salt_buckets: int = 16,
) -> DataFrame:
    """groupBy(keys).agg(count, sums) that survives a hot key.

    Phase 1 groups on (keys, salt) — a hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 combines the per-salt partials.
    count/sum/min/max re-aggregate losslessly (avg = sum/count at the
    end); this is exactly the partial/final split Catalyst does
    map-side, pushed one level further for pathological keys.
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("__salt")
    phase1 = df.select(*keys, salt, *sum_cols).groupBy(*keys, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(f"__sum_{c}") for c in sum_cols],
    )
    return phase1.groupBy(*keys).agg(
        F.sum("__n").alias("n_rows"),
        *[F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


def replicated_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Equi-join resilient to a skewed fact key when the dim side is too
    big to broadcast: fact rows get a random salt, dim rows are
    replicated across all salts, and the join runs on (key, salt) so a
    hot key's rows land on ``salt_buckets`` different reducers.

    Cost: dim side × salt_buckets — use only when AQE's skew split
    isn't available (e.g. the join feeds a co-partitioned downstream
    op that must not be re-split).
    """
    salted_fact = fact.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    salts = F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])).alias("__salt")
    replicated_dim = dim.select("*", salts)
    out = salted_fact.join(replicated_dim, [key, "__salt"])
    return out.drop("__salt")


def key_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Pre-join key-skew diagnostic: the numbers that decide between a
    plain shuffle join, AQE skew split, and explicit salting
    (`salted_count_sum` / `replicated_skew_join`) BEFORE burning a
    cluster-hour discovering the straggler. One shuffle on the key
    (map-side-combined counts — the shuffle carries one row per key,
    not per input row); every downstream step runs over the n_keys-row
    count table, which joins no bigger than a broadcast.

    Returns ONE row: n_rows, n_keys, max_key_rows, p50/p99_key_rows
    (exact interpolated percentiles of the per-key row counts),
    avg_key_rows, skew_ratio (= max/avg; >~4 means AQE skew split,
    >~16 means salt), hot_keys (count of keys holding >2x the mean —
    integer arithmetic, engine-exact), and salt_buckets
    (= ceil(skew_ratio), the bucket count that levels the hottest key
    to the mean).

    The percentiles are EXACT (`percentile`), which collects the
    per-key counts — right for join-key diagnosis where key
    cardinality << row count; for user-id-cardinality keys swap in
    `approx_percentile` (same report shape, sketch-bounded memory).

    The count table is materialized ONCE (`localCheckpoint`): the
    report reads it three ways (totals, hot-key filter, final row),
    and without the checkpoint each branch re-derives it — 4 scans +
    count shuffles of the INPUT per diagnostic (plan-measured;
    ReuseExchange only collapsed 2). Checkpointing strips stats, so
    the small-by-construction sides below carry explicit broadcasts
    (the r4 invariant).
    """
    c = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__cnt")).localCheckpoint()
    t = c.agg(
        F.sum("__cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("__cnt").alias("max_key_rows"),
        F.expr("percentile(__cnt, 0.5D)").alias("__p50"),
        F.expr("percentile(__cnt, 0.99D)").alias("__p99"),
    )
    h = (
        c.crossJoin(F.broadcast(t.select("n_rows", "n_keys")))
        .filter(F.col("__cnt") * F.col("n_keys") > 2 * F.col("n_rows"))
        .agg(F.count(F.lit(1)).alias("hot_keys"))
    )
    ratio = F.col("max_key_rows").cast("double") * F.col("n_keys") / F.col("n_rows")
    return t.crossJoin(F.broadcast(h)).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.round("__p50", 6).alias("p50_key_rows"),
        F.round("__p99", 6).alias("p99_key_rows"),
        F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6).alias(
            "avg_key_rows"
        ),
        F.round(ratio, 6).alias("skew_ratio"),
        "hot_keys",
        F.ceil(ratio).alias("salt_buckets"),
    )
