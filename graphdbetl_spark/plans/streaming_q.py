"""Event-time window queries in batch form (SURVEY.md §2B streaming).

``window``/``session_window`` are the same expressions Structured
Streaming executes; running them in batch makes them DuckDB-checkable
(time_bucket / gap-and-island SQL). The streaming execution wrappers —
watermarks, late-data drop, stateful dedup — live in
streaming/windows.py and are pinned by tests/test_streaming.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphdbetl_spark.plans.registry import query
from graphdbetl_spark.sources.catalog import load_table as T
from graphdbetl_spark.streaming.windows import session_stats, sliding_counts, tumbling_counts


@query(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling event-time windows in batch mode (window() works identically in batch — the streaming form is tested in tests/test_streaming.py)."""
    return tumbling_counts(T(spark, sf, "events"), "ts", "10 minutes")


@query(
    "stream_sliding",
    oracle="""
    SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events FROM (
        SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE FROM events
    ) GROUP BY window_start
    """,
)
def stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """10-minute windows sliding by 5: every event lands in exactly 2."""
    return sliding_counts(T(spark, sf, "events"), "ts", "10 minutes", "5 minutes")


@query(
    "stream_session",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM numbered GROUP BY user_id, sess_no
    """,
)
def stream_session(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — the
    gaps-and-islands SQL above is the oracle for Spark's native
    session_window."""
    return session_stats(T(spark, sf, "events"), "ts", "30 minutes")


@query(
    "rollup_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def rollup_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style hourly rollup (batch form): the MERGEABLE
    partials (count, sum) only — derived metrics like avg are read-time
    divisions (read_rollup), never stored (and a sum/count quotient can
    land exactly on a rounding half-boundary, e.g. 1391.13/32, where
    engines disagree). Incremental maintenance lives in
    streaming/rollup.py, pinned by tests to equal this batch recompute."""
    from graphdbetl_spark.streaming.rollup import bucket_partials

    p = bucket_partials(T(spark, sf, "events"), "ts", "1 hour")
    return p.select(
        "bucket",
        "event_type",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


@query(
    "sketch_kmv_distinct",
    oracle="""
    WITH h AS (
        SELECT DISTINCT o_orderstatus, md5(CAST(o_custkey AS VARCHAR)) AS hh
        FROM orders
    ), r AS (
        SELECT o_orderstatus, hh,
               row_number() OVER (PARTITION BY o_orderstatus ORDER BY hh) AS rn
        FROM h
    ), kmin AS (SELECT o_orderstatus, hh FROM r WHERE rn <= 64)
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS k_used,
           ROUND(CASE WHEN COUNT(*) = 64
                 THEN 63.0 / (('0x' || substr(MAX(hh), 1, 15))::BIGINT
                              / power(16.0, 15))
                 ELSE COUNT(*)::DOUBLE END, 4) AS est_distinct
    FROM kmin GROUP BY o_orderstatus
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group KMV distinct-count estimates (customers per order
    status) over the md5 hash family, so every k-minimum hex string
    and the estimator arithmetic replay in the oracle. See
    operators/sketch.py kmv_distinct_md5_grouped."""
    from graphdbetl_spark.operators.sketch import kmv_distinct_md5_grouped

    o = T(spark, sf, "orders")
    return kmv_distinct_md5_grouped(o, ["o_orderstatus"], "o_custkey", k=64)


@query(
    "sketch_kmv_md5",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    ), h AS (
        SELECT md5(tok) AS hh FROM tok WHERE tok <> ''
    ), k AS (SELECT hh FROM h ORDER BY hh LIMIT 64)
    SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
           ROUND(CASE WHEN COUNT(*) = 64
                 THEN 63.0 / (('0x' || substr(MAX(hh), 1, 15))::BIGINT
                              / power(16.0, 15))
                 ELSE COUNT(*)::DOUBLE END, 4) AS est_distinct
    FROM k
    """,
)
def sketch_kmv_md5(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct-token estimate over the engine-portable md5 family:
    the estimator arithmetic is ORACLE-CHECKED bit-for-bit.
    TakeOrdered(64), no full sort."""
    from graphdbetl_spark.functions.text import tokens
    from graphdbetl_spark.operators.sketch import kmv_distinct_md5

    d = T(spark, sf, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return kmv_distinct_md5(toks, "tok", k=64)


@query(
    "sketch_countmin_md5",
    oracle=r"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents
    ), slot AS (
        SELECT t, unnest(range(0, 4)) AS j FROM tok
    ), pos AS (
        SELECT t, CAST(j AS INT) AS j,
               ('0x' || substr(md5(t), CAST(j*8+1 AS INT), 8))::BIGINT % 1024 AS pos
        FROM slot
    ), sk AS (
        SELECT j, pos, CAST(COUNT(*) AS BIGINT) AS cnt FROM pos GROUP BY j, pos
    ), vocab AS (SELECT DISTINCT t, j, pos FROM pos),
    est AS (
        SELECT v.t, MIN(sk.cnt) AS est
        FROM vocab v JOIN sk USING (j, pos)
        GROUP BY v.t
    ), ex AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact FROM tok GROUP BY t)
    SELECT e.t AS token, est.est AS est, e.exact AS exact,
           (est.est >= e.exact) AS overestimates
    FROM ex e JOIN est USING (t)
    ORDER BY est.est DESC, token
    LIMIT 20
    """,
)
def sketch_countmin_md5(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min frequency sketch over the corpus token stream, read as
    top-20 heavy hitters: a fixed 4×1024 md5-slotted counter grid
    (bounded exchange, map-side combine, counter-additive merge) whose
    every cell — and thus every min-of-row estimate and the est ≥ exact
    invariant — the oracle replays bit-for-bit. See
    operators/sketch.py countmin_build_md5 / countmin_topk_md5."""
    from graphdbetl_spark.functions.text import tokens
    from graphdbetl_spark.operators.sketch import countmin_topk_md5

    d = T(spark, sf, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return countmin_topk_md5(toks, "tok", d=4, w=1024, k=20)


@query(
    "sessionize_events",
    oracle="""
    WITH marked AS (
        SELECT event_id, user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM marked
    """,
)
def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Assign each event its session number (30-min gap rule) — the
    row-level companion of session_window's aggregates: gap flag via
    lag, then a running sum. One shuffle on user_id, both windows share
    the same sort."""
    e = T(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact µs arithmetic: cast("long") truncates to seconds and can
    # misclassify a gap within 1s of the threshold. The cast("timestamp")
    # accepts both TIMESTAMP and TIMESTAMP_NTZ scans (parquet without a
    # UTC-adjusted annotation reads as NTZ); session tz is pinned UTC so
    # the conversion is exact and gap differences are unaffected.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    brk = F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return e.select(
        "event_id", "user_id", F.sum(brk).over(run).cast("long").alias("session_no")
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS BIGINT) AS viewed,
           CAST(COUNT(CASE WHEN t_view < t_click THEN 1 END) AS BIGINT) AS clicked_after_view,
           CAST(COUNT(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END) AS BIGINT)
               AS purchased_after_both
    FROM firsts
    """,
)
def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) via first-occurrence
    timestamps per user: one aggregation, no self-joins — the funnel
    shape that stays one shuffle at any event volume."""
    e = T(spark, sf, "events")
    first_of = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    firsts = e.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("viewed"),
        F.count(F.when(F.col("t_view") < F.col("t_click"), 1)).alias("clicked_after_view"),
        F.count(
            F.when((F.col("t_view") < F.col("t_click")) & (F.col("t_click") < F.col("t_purchase")), 1)
        ).alias("purchased_after_both"),
    )


@query(
    "stream_dedup_batch",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batch form of stateful streaming dedup (D1 streaming shape):
    dropDuplicates on the state key."""
    return T(spark, sf, "events").select("user_id", "event_type").dropDuplicates()


@query(
    "stream_late_data_cutoff",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_on_time
    FROM events e, mx
    WHERE e.ts >= mx.max_ts - INTERVAL 7 DAY
    GROUP BY e.event_type
    """,
)
def stream_late_data_cutoff(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark semantics as a batch predicate: rows older than
    (max event time - horizon) are the ones a 7-day watermark would
    drop. The true streaming behavior is pinned in tests."""
    e = T(spark, sf, "events")
    cutoff = e.agg((F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cut"))
    return (
        e.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("cut"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_on_time"))
    )


@query(
    "gapfill_daily",
    oracle="""
    WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
    span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM e),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM span
    ),
    types AS (SELECT DISTINCT event_type FROM e),
    counts AS (SELECT d, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2)
    SELECT s.d, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
    FROM spine s CROSS JOIN types t
    LEFT JOIN counts c ON c.d = s.d AND c.event_type = t.event_type
    """,
)
def gapfill_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series densification: daily per-type event counts with
    zero-filled gaps over the observed date span. The spine is
    sequence()+explode over a 2-row bound (tiny, broadcast); the event
    side aggregates once — no row-count blowup at any scale."""
    e = T(spark, sf, "events").select(F.to_date("ts").alias("d"), "event_type")
    bounds = e.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    types = e.select("event_type").distinct()
    counts = e.groupBy("d", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("n", F.lit(0)).cast("long").alias("n_events"))
    )


@query(
    "running_distinct_users",
    oracle="""
    WITH fs AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ), daily AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY d
    )
    SELECT d, new_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_distinct_users
    FROM daily
    """,
)
def running_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct-user curve via the first-seen trick: distinct
    running counts = cumulative sum of per-day first appearances — two
    hash aggs + a window over ~days rows, instead of the quadratic
    per-day re-count a naive formulation needs."""
    e = T(spark, sf, "events")
    fs = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = fs.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("new_users"))
    # cumulative sum over one-row-per-DAY aggregates (bounded by the
    # calendar, not the data): a triangular self-join on ≤days rows
    # needs no window, so no single-partition WindowExec anywhere
    prior = daily.select(F.col("d").alias("d2"), F.col("new_users").alias("nu2"))
    return (
        daily.join(prior, F.col("d2") <= F.col("d"))
        .groupBy("d", "new_users")
        .agg(F.sum("nu2").cast("long").alias("cum_distinct_users"))
        .select("d", "new_users", "cum_distinct_users")
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT p.user_id, p.ts AS purchase_ts, c.ts AS click_ts,
           p.value AS purchase_value
    FROM events p JOIN events c ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
)
def stream_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join in its batch form (identical plan
    semantics; the same operator over readStream carries watermarks on
    BOTH sides so buffered join state evicts as event time advances —
    pinned live in tests/test_streaming.py). Attribution shape: each
    purchase matches the same user's clicks in the preceding 30
    minutes; the equi-key (user_id) keeps it a hash join with a range
    residual, never a cross join."""
    from graphdbetl_spark.streaming.windows import streaming_interval_join

    e = T(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    return streaming_interval_join(purchases, clicks, window="30 minutes")


@query(
    "sketch_kmv_jaccard",
    oracle=r"""
    WITH t AS (
        SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS grp,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT grp, md5(s) AS hh
        FROM t, LATERAL (
            SELECT unnest(list_distinct(list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s) u
    ), km AS (
        SELECT grp, hh, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY hh) AS rn
        FROM sh
    ), kmin AS (SELECT grp, hh FROM km WHERE rn <= 128),
    per AS (
        SELECT CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
               MAX(CASE WHEN grp = 'a' THEN hh END) AS mh_a,
               CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS k_b,
               MAX(CASE WHEN grp = 'b' THEN hh END) AS mh_b
        FROM kmin
    ), u0 AS (SELECT DISTINCT hh FROM kmin ORDER BY hh LIMIT 128),
    uni AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_u, MAX(hh) AS mh_u FROM u0),
    e AS (
        SELECT k_a, k_b, k_u,
               CASE WHEN k_a = 128
                    THEN 127.0 / (('0x' || substr(mh_a, 1, 15))::BIGINT / power(16.0, 15))
                    ELSE k_a::DOUBLE END AS ea,
               CASE WHEN k_b = 128
                    THEN 127.0 / (('0x' || substr(mh_b, 1, 15))::BIGINT / power(16.0, 15))
                    ELSE k_b::DOUBLE END AS eb,
               CASE WHEN k_u = 128
                    THEN 127.0 / (('0x' || substr(mh_u, 1, 15))::BIGINT / power(16.0, 15))
                    ELSE k_u::DOUBLE END AS eu
        FROM per, uni
    )
    SELECT k_a, k_b, k_u,
           ROUND(ea, 4) AS est_a, ROUND(eb, 4) AS est_b, ROUND(eu, 4) AS est_union,
           ROUND(GREATEST(CAST(0 AS DOUBLE), ea + eb - eu), 4) AS est_intersection,
           ROUND(CASE WHEN eu > 0
                      THEN GREATEST(CAST(0 AS DOUBLE), ea + eb - eu) / eu
                      ELSE CAST(0 AS DOUBLE) END, 6) AS jaccard_est
    FROM e
    """,
)
def sketch_kmv_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus shingle overlap WITHOUT a join: Jaccard similarity
    between the English and non-English sub-corpora's 3-gram shingle
    sets, estimated purely from two 128-minimum md5 sketches via KMV
    mergeability + inclusion–exclusion (Beyer et al. 2007) — the
    dataset-overlap diagnostic that stays k-row-sized at 100 TB where
    any exact intersection is another corpus-scale shuffle. One
    distinct + WindowGroupLimit k-cut; estimator arithmetic replays
    bit-for-bit. See operators/sketch.py kmv_jaccard_md5."""
    from graphdbetl_spark.operators.dedup import _shingles
    from graphdbetl_spark.operators.sketch import kmv_jaccard_md5

    d = T(spark, sf, "documents")
    sh = d.select(
        F.when(F.col("lang") == "en", "a").otherwise("b").alias("grp"),
        F.explode(_shingles(F.col("text"))).alias("shingle"),
    )
    return kmv_jaccard_md5(sh, "grp", "shingle", k=128)
