"""KMV (K-minimum-values) distinct-count and Count-Min sketches as pure
DataFrame ops over the engine-portable md5 hash family, so every hex
string, order statistic and estimate replays bit-for-bit in any
md5-capable engine.

The KMV sketch of a set is its K smallest hash values; the distinct
count estimate is (K-1) / unit(kth_min), unit(h) = first 15 hex digits
of md5 as an integer / 16^15, a point in [0, 1). KMV is MERGEABLE —
sketch(A ∪ B) = k-smallest of (sketch(A) ∪ sketch(B)) — so
per-partition/per-day sketches combine without touching raw data
(:func:`kmv_jaccard_md5` merges two that way).

Estimator: E[D] ≈ (K-1)/U_(K) where U_(K) is the Kth order statistic
of D uniform(0,1] draws; relative error ~ 1/sqrt(K-2).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _kmv_estimate(k_used: Column, max_h: Column, k: int) -> Column:
    """(k-1) / unit(kth_min) from a k-minimum sketch's size and largest
    md5 hex string; the exact count when the set had fewer than k
    values."""
    unit = F.conv(F.substring(max_h, 1, 15), 16, 10).cast("double") / float(16**15)
    return F.when(k_used == k, F.lit(float(k - 1)) / unit).otherwise(
        k_used.cast("double")
    )


def kmv_distinct_md5(df: DataFrame, value_col: str, k: int = 64) -> DataFrame:
    """Corpus-wide KMV distinct estimate: DuckDB reproduces the
    k-minimum hex strings and the estimate bit-for-bit.

    Plan shape: distinct (one shuffle) → TakeOrdered(k) on the hex
    string (no full sort) → single-row estimate.
    """
    h = df.select(F.md5(F.col(value_col)).alias("hh")).distinct()
    kmin = h.orderBy("hh").limit(k)
    agg = kmin.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("hh").alias("max_h"),
    )
    est = _kmv_estimate(F.col("k_used"), F.col("max_h"), k)
    return agg.select("k_used", F.round(est, 4).alias("est_distinct"))


def kmv_distinct_md5_grouped(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 64
) -> DataFrame:
    """Per-group KMV distinct estimate — the grouped sibling of
    :func:`kmv_distinct_md5` (same estimator arithmetic).

    Plan shape: distinct (one partial-agg shuffle keyed by
    (group, hash)) → per-group k-minimum via a rank window that
    Spark's WindowGroupLimit rewrites into per-partition partial
    top-k BEFORE the shuffle, so the exchange carries at most k rows
    per group per map task — no full per-group sort, and no
    aggregation buffer ever holds a group's whole distinct hash set.
    """
    h = df.select(
        *group_cols, F.md5(F.col(value_col).cast("string")).alias("hh")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("hh")
    kmin = h.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    agg = kmin.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("hh").alias("max_h"),
    )
    est = _kmv_estimate(F.col("k_used"), F.col("max_h"), k)
    return agg.select(*group_cols, "k_used", F.round(est, 4).alias("est_distinct"))


def _cm_slots(value: Column, d: int, w: int) -> Column:
    """d independent Count-Min positions for a value: 32-bit md5 hex
    slices mod w (md5's 32 hex chars give four independent 32-bit
    slices — enough for d ≤ 4), engine-portable."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(d - 1)),
        lambda j: F.conv(F.substring(F.md5(value), j * 8 + 1, 8), 16, 10).cast("long")
        % F.lit(w),
    )


def countmin_build_md5(
    df: DataFrame, value_col: str, d: int = 4, w: int = 1024
) -> DataFrame:
    """Build a Count-Min sketch (Cormode & Muthukrishnan 2005) of the
    value column's frequency distribution: a d×w counter grid where
    every occurrence increments one counter per row j at position
    hash_j(value). Returned relationally as (j, pos, cnt).

    The sketch is a FIXED d·w rows no matter the stream size — the
    shuffle's reduce side is bounded (≤4096 rows here) and the map side
    partial-aggregates, so building it over 100 TB is one scan with a
    tiny exchange. Mergeability is counter addition: per-partition /
    per-day sketches sum cell-wise (same groupBy), which is how
    streaming rollups maintain it incrementally. md5 slots make the
    whole grid — and therefore every estimate read from it —
    bit-replayable in any md5-capable engine.
    """
    rows = df.select(F.posexplode(_cm_slots(F.col(value_col), d, w)).alias("j", "pos"))
    return rows.groupBy("j", "pos").agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def countmin_topk_md5(
    df: DataFrame, value_col: str, d: int = 4, w: int = 1024, k: int = 20
) -> DataFrame:
    """Heavy hitters through the Count-Min sketch: estimate every
    distinct value's frequency as min_j sketch[j][hash_j(v)] and return
    the top ``k`` by estimate. The read side joins the (distinct)
    vocabulary against the ≤ d·w-row grid — a broadcast join whose
    build side is the SKETCH, so the probe never shuffles; the final
    top-k is a TakeOrdered, no full sort.

    Count-Min guarantees est ≥ exact always (collisions only ADD), and
    est ≤ exact + εN with probability 1-δ for w=⌈e/ε⌉, d=⌈ln 1/δ⌉. The
    exact count is computed alongside here so the oracle pins the
    deterministic over-estimate invariant cell-for-cell
    (``overestimates`` must be uniformly true).
    """
    # One corpus-wide shuffle, not two: aggregate the frequency table
    # first, then build the sketch FROM THE COUNTS (cell = Σ exact over
    # colliding values — identical to streaming increments, since
    # Count-Min is counter-additive). md5 is computed once per DISTINCT
    # value instead of once per occurrence, and the sketch-build
    # shuffle shrinks from the token stream to d×|vocab| pre-combined
    # rows — measured ~2× off the 30×-replica wall vs the two-scan
    # form. The streaming/mergeable per-occurrence form remains
    # :func:`countmin_build_md5`.
    # No cache() on vocab: both consumers (sketch build + probe) sit in
    # ONE job tree, and the groupBy's exchange subtree is identical in
    # each branch, so ReuseExchange (plain and AQE) dedups the corpus
    # aggregation at runtime. A per-call cache with no unpersist hook
    # would leak one pinned plan per invocation at batch-query scale.
    vocab = df.groupBy(value_col).agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    slots = vocab.select(
        F.col(value_col),
        "exact",
        F.posexplode(_cm_slots(F.col(value_col), d, w)).alias("j", "pos"),
    )
    sketch = slots.groupBy("j", "pos").agg(F.sum("exact").alias("cnt"))
    est = (
        slots.join(F.broadcast(sketch), ["j", "pos"])
        .groupBy(value_col, "exact")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.select(
            F.col(value_col).alias("token"),
            "est",
            "exact",
            (F.col("est") >= F.col("exact")).alias("overestimates"),
        )
        .orderBy(F.col("est").desc(), F.col("token"))
        .limit(k)
    )


def kmv_jaccard_md5(
    df: DataFrame, set_col: str, value_col: str, k: int = 128
) -> DataFrame:
    """Cross-corpus overlap from KMV sketches: Jaccard similarity of
    two VALUE SETS (tagged 'a' / 'b' in ``set_col``) estimated from
    their k-minimum md5 hashes alone (Beyer et al. 2007, "On synopses
    for distinct-value estimation under multiset operations").

    The dataset-overlap question ("how much of corpus B is already in
    corpus A's shingles?") at 100 TB cannot be answered by a join —
    but KMV sketches are MERGEABLE under union (k-min of A ∪ B = k
    smallest of kmin(A) ∪ kmin(B)), so |A|, |B| and |A ∪ B| all come
    from the two k-row sketches, and inclusion–exclusion gives the
    intersection: |A ∩ B| = |A| + |B| − |A ∪ B|, J = |A ∩ B| / |A ∪ B|.
    Relative error ~ 1/sqrt(k−2) per estimate. In production the two
    sketches are tiny persisted tables maintained incrementally per
    corpus; here both derive in one pass.

    Plan shape: one distinct over (set, hash) — the only corpus-sized
    shuffle — then per-set k-minima via a rank window (Spark's
    WindowGroupLimit pushes the k cut into per-partition partial
    top-k, so the exchange carries ≤ k rows per set per task), then
    ONE single-row aggregation collects both ≤ k-element sketches as
    sorted arrays and the union sketch merges them as an array
    expression (k smallest of the concatenation) — deriving the union as a
    second DataFrame branch would re-run the corpus distinct when
    ReuseExchange misses, so everything past the k-cut stays inside
    one row. Every hex string, order statistic, and division replays
    bit-for-bit in any md5-capable engine (the proven
    (k−1)/unit(kth_min) estimator of :func:`kmv_distinct_md5`; exact
    count when a set has < k values).

    Returns ONE row: per-set sketch fills, the three distinct-count
    estimates, and the intersection / Jaccard estimates (clamped at 0
    — inclusion–exclusion noise can dip negative on disjoint sets).
    """
    h = df.select(set_col, F.md5(F.col(value_col)).alias("hh")).distinct()
    w = Window.partitionBy(set_col).orderBy("hh")
    kmin = h.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)

    tag = F.col(set_col)
    one = kmin.groupBy().agg(
        F.sort_array(F.collect_list(F.when(tag == "a", F.col("hh")))).alias("__sa"),
        F.sort_array(F.collect_list(F.when(tag == "b", F.col("hh")))).alias("__sb"),
    )
    # kmin(A ∪ B) = k smallest of kmin(A) ∪ kmin(B) — mergeability
    uarr = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("__sa"), F.col("__sb")))), 1, k
    )
    def last(arr: Column) -> Column:  # null (not ANSI error) on empty set
        return F.when(F.size(arr) > 0, F.element_at(arr, -1))

    one = one.select(
        F.size("__sa").cast("long").alias("k_a"),
        last(F.col("__sa")).alias("__mh_a"),
        F.size("__sb").cast("long").alias("k_b"),
        last(F.col("__sb")).alias("__mh_b"),
        F.size(uarr).cast("long").alias("k_u"),
        last(uarr).alias("__mh_u"),
    )
    est_a = _kmv_estimate(F.col("k_a"), F.col("__mh_a"), k)
    est_b = _kmv_estimate(F.col("k_b"), F.col("__mh_b"), k)
    est_u = _kmv_estimate(F.col("k_u"), F.col("__mh_u"), k)
    inter = F.greatest(F.lit(0.0), est_a + est_b - est_u)
    jac = F.when(est_u > 0, inter / est_u).otherwise(F.lit(0.0))
    return one.select(
        "k_a",
        "k_b",
        "k_u",
        F.round(est_a, 4).alias("est_a"),
        F.round(est_b, 4).alias("est_b"),
        F.round(est_u, 4).alias("est_union"),
        F.round(inter, 4).alias("est_intersection"),
        F.round(jac, 6).alias("jaccard_est"),
    )
