"""ETL utility operators: CDC-style upsert merge, table profiling,
histogram binning, regex extraction — the data-engineering verbs around
the core graph build.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from graphdbetl_spark.operators.skew import (
    key_skew_report,
    replicated_skew_join,
    salted_count_sum,
)
from graphdbetl_spark.plans.registry import query, scratch_dir
from graphdbetl_spark.sources.catalog import load_table as T


@query(
    "node_upsert",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 3 <> 0
    ), delta AS (
        SELECT c_custkey, c_name, c_acctbal + 100 AS c_acctbal,
               upper(c_mktsegment) AS c_mktsegment
        FROM customer WHERE c_custkey % 2 = 0
    )
    SELECT COALESCE(d.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(d.c_name, b.c_name) AS c_name,
           COALESCE(d.c_acctbal, b.c_acctbal) AS c_acctbal,
           COALESCE(d.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
           d.c_custkey IS NOT NULL AS was_updated
    FROM base b FULL JOIN delta d ON b.c_custkey = d.c_custkey
    """,
)
def node_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-style upsert: merge a delta snapshot into a base node table
    (delta wins per column, unmatched rows survive both ways) — the
    batch form of the reference's 'merge data into an existing record
    or create a new entry' contract (graph_db_builder.py:493-497).
    One full-outer shuffle join on the id; at warehouse scale this maps
    onto MERGE INTO against a lakehouse table format."""
    c = T(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    base = c.filter(F.col("c_custkey") % 3 != 0)
    delta = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.upper("c_mktsegment").alias("c_mktsegment"),
    )
    b, d = base.alias("b"), delta.alias("d")
    joined = b.join(d, F.col("b.c_custkey") == F.col("d.c_custkey"), "full")
    return joined.select(
        F.coalesce("d.c_custkey", "b.c_custkey").alias("c_custkey"),
        F.coalesce("d.c_name", "b.c_name").alias("c_name"),
        F.coalesce("d.c_acctbal", "b.c_acctbal").alias("c_acctbal"),
        F.coalesce("d.c_mktsegment", "b.c_mktsegment").alias("c_mktsegment"),
        F.col("d.c_custkey").isNotNull().alias("was_updated"),
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'o_totalprice' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
           ROUND(MIN(o_totalprice), 2) AS min_v,
           ROUND(MAX(o_totalprice), 2) AS max_v,
           ROUND(AVG(o_totalprice), 4) AS avg_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(COUNT(*) AS BIGINT), CAST(COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           ROUND(MIN(o_custkey), 2), ROUND(MAX(o_custkey), 2),
           ROUND(AVG(o_custkey), 4)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf: str) -> DataFrame:
    """Column profiling (rows/nulls/distinct/min/max/avg) — the data-
    quality sweep an ETL run emits; one scan per profiled column set,
    all aggregates partial+final."""
    o = T(spark, sf, "orders")

    def prof(col: str) -> DataFrame:
        return o.agg(
            F.lit(col).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(col).alias("n_nonnull"),
            F.countDistinct(col).alias("n_distinct"),
            F.round(F.min(col), 2).alias("min_v"),
            F.round(F.max(col), 2).alias("max_v"),
            F.round(F.avg(col), 4).alias("avg_v"),
        )

    return prof("o_totalprice").unionByName(prof("o_custkey"))


@query(
    "histogram_bins",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max
    FROM orders GROUP BY 1
    """,
)
def histogram_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram as a group-by on the bin expression —
    single pass, shuffle bytes = number of bins."""
    o = T(spark, sf, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 50000).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


@query(
    "scd2_history",
    oracle="""
    WITH snap1 AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ), snap2 AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10 ELSE c_acctbal END AS c_acctbal
        FROM customer
    )
    SELECT s1.c_custkey, s1.c_mktsegment, s1.c_acctbal,
           TIMESTAMP '2024-01-01' AS valid_from,
           CASE WHEN s1.c_custkey % 5 = 0 THEN TIMESTAMP '2024-02-01' END AS valid_to
    FROM snap1 s1
    UNION ALL
    SELECT s2.c_custkey, s2.c_mktsegment, s2.c_acctbal,
           TIMESTAMP '2024-02-01', CAST(NULL AS TIMESTAMP)
    FROM snap2 s2 WHERE s2.c_custkey % 5 = 0
    """,
)
def scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 maintenance (etl/scd2.py): snapshot 1 bootstraps the
    dimension; snapshot 2 changes acctbal for every 5th customer →
    those rows close at the second effective date and reopen with the
    new value. Full version history, emulated MERGE (full-outer join +
    unions)."""
    from graphdbetl_spark.etl.scd2 import scd2_apply, scd2_init

    c = T(spark, sf, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    t1 = F.to_timestamp(F.lit("2024-01-01"))
    t2 = F.to_timestamp(F.lit("2024-02-01"))
    table = scd2_init(c, "c_custkey", ["c_mktsegment", "c_acctbal"], t1)
    delta = c.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 10).otherwise(F.col("c_acctbal")),
    )
    return scd2_apply(table, delta, "c_custkey", ["c_mktsegment", "c_acctbal"], t2)


@query(
    "dq_checks",
    oracle="""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS nn_cust,
               CAST(COUNT(CASE WHEN NOT (o_totalprice BETWEEN 0 AND 1000000) THEN 1 END) AS BIGINT) AS rng_price,
               CAST(COUNT(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 END) AS BIGINT) AS acc_status,
               CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS uniq_key
        FROM orders
    )
    SELECT 'not_null:o_custkey' AS rule, nn_cust AS violations, total FROM agg
    UNION ALL SELECT 'range:o_totalprice', rng_price, total FROM agg
    UNION ALL SELECT 'accepted:o_orderstatus', acc_status, total FROM agg
    UNION ALL SELECT 'unique:o_orderkey', uniq_key, total FROM agg
    """,
)
def dq_checks(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-quality rules compiled into ONE aggregation pass
    (etl/quality.py): not-null, range, accepted-values, uniqueness."""
    from graphdbetl_spark.etl.quality import check_constraints

    return check_constraints(
        T(spark, sf, "orders"),
        not_null=["o_custkey"],
        unique=["o_orderkey"],
        ranges={"o_totalprice": (0, 1_000_000)},
        accepted={"o_orderstatus": ["F", "O", "P"]},
    )


@query(
    "range_join_bucketized",
    oracle="""
    WITH intervals AS (
        SELECT o_orderkey, o_totalprice - 500 AS lo, o_totalprice + 500 AS hi
        FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT i.o_orderkey AS interval_key,
           CAST(COUNT(*) AS BIGINT) AS n_parts_in_range
    FROM intervals i JOIN part p ON p.p_retailprice * 100 BETWEEN i.lo AND i.hi
    GROUP BY i.o_orderkey
    """,
)
def range_join_bucketized(spark: SparkSession, sf: str) -> DataFrame:
    """Pure range join (NO equi key): parts whose scaled price falls in
    each order's ±500 window. Bucketization manufactures the equi key
    (operators/joins.py) — bucket-equi join + residual filter instead of
    a nested-loop over |orders|×|parts|."""
    from graphdbetl_spark.operators.joins import bucketized_range_join

    o = T(spark, sf, "orders").filter(F.col("o_orderkey") % 100 == 0).select(
        F.col("o_orderkey").alias("interval_key"),
        (F.col("o_totalprice") - 500).alias("lo"),
        (F.col("o_totalprice") + 500).alias("hi"),
    )
    p = T(spark, sf, "part").select((F.col("p_retailprice") * 100).alias("price_pt"))
    joined = bucketized_range_join(p, o, "price_pt", "lo", "hi", bucket_width=1000.0)
    return joined.groupBy("interval_key").agg(F.count(F.lit(1)).alias("n_parts_in_range"))


@query(
    "regex_extract",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           CAST(regexp_matches(c_name, '^Customer#') AS BOOLEAN) AS is_customer,
           regexp_replace(c_name, '[0-9]+', '<N>', 'g') AS name_masked
    FROM customer
    """,
)
def regex_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Regex extraction/replace/count in the RE2-portable subset so the oracle replays patterns verbatim."""
    c = T(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.col("c_name").rlike("^Customer#").alias("is_customer"),
        F.regexp_replace("c_name", r"[0-9]+", "<N>").alias("name_masked"),
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH a AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 7 <> 0
    ), b AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 50
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 5 <> 0
    )
    SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN a.c_custkey IS NULL THEN 'added'
                WHEN b.c_custkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           a.c_acctbal AS old_c_acctbal, b.c_acctbal AS new_c_acctbal
    FROM a FULL JOIN b ON a.c_custkey = b.c_custkey
    WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
          OR a.c_acctbal <> b.c_acctbal
    """,
)
def snapshot_diff_q(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation: added/removed/changed rows between two
    derived customer snapshots (operators/reconcile.py). One full-outer
    join on the key; emits only the delta."""
    from graphdbetl_spark.operators.reconcile import snapshot_diff

    c = T(spark, sf, "customer").select("c_custkey", "c_acctbal")
    a = c.filter(F.col("c_custkey") % 7 != 0)
    b = c.filter(F.col("c_custkey") % 5 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 50)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    return snapshot_diff(a, b, ["c_custkey"], ["c_acctbal"])


@query(
    "cdc_apply",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 <> 0
    ), log AS (
        SELECT c_custkey, 'U' AS op, 2 AS seq, c_name, c_acctbal + 100 AS c_acctbal
        FROM customer WHERE c_custkey % 2 = 0
        UNION ALL
        SELECT c_custkey, 'I', 1, c_name, c_acctbal + 1000
        FROM customer WHERE c_custkey % 3 = 0
        UNION ALL
        SELECT c_custkey, 'D', 3, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        FROM customer WHERE c_custkey % 5 = 0
    ), latest AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
            FROM log
        ) WHERE rn = 1
    )
    SELECT COALESCE(l.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(l.c_name, b.c_name) AS c_name,
           COALESCE(l.c_acctbal, b.c_acctbal) AS c_acctbal,
           COALESCE(l.op, 'N') AS last_op
    FROM base b FULL JOIN latest l ON b.c_custkey = l.c_custkey
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
)
def cdc_apply_q(spark: SparkSession, sf: str) -> DataFrame:
    """CDC log apply with deletes: I/U/D events collapse latest-wins
    per key, then merge into the base snapshot (MERGE INTO semantics;
    operators/reconcile.py). Extends node_upsert with tombstones and
    event ordering."""
    from graphdbetl_spark.operators.reconcile import cdc_apply

    c = T(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    base = c.filter(F.col("c_custkey") % 3 != 0)
    upd = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", F.lit("U").alias("op"), F.lit(2).alias("seq"),
        "c_name", (F.col("c_acctbal") + 100).alias("c_acctbal"),
    )
    ins = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.lit("I").alias("op"), F.lit(1).alias("seq"),
        "c_name", (F.col("c_acctbal") + 1000).alias("c_acctbal"),
    )
    dels = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", F.lit("D").alias("op"), F.lit(3).alias("seq"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("double").alias("c_acctbal"),
    )
    log = upd.unionByName(ins).unionByName(dels)
    return cdc_apply(base, log, "c_custkey", "seq", "op", ["c_name", "c_acctbal"])


@query(
    "er_fuzzy_match",
    oracle="""
    WITH dirty AS (
        SELECT c_custkey AS dirty_id,
               CASE WHEN c_custkey % 3 = 0
                    THEN substr(c_name, 1, 11) || 'X' || substr(c_name, 13)
                    ELSE c_name END AS dirty_name
        FROM customer
    )
    SELECT d.dirty_id, c.c_custkey AS clean_id,
           CAST(levenshtein(d.dirty_name, c.c_name) AS INTEGER) AS distance
    FROM dirty d JOIN customer c
      ON length(d.dirty_name) = length(c.c_name)
     AND substr(d.dirty_name, length(d.dirty_name) - 5, 6)
         = substr(c.c_name, length(c.c_name) - 5, 6)
    WHERE levenshtein(d.dirty_name, c.c_name) <= 1
    """,
)
def er_fuzzy_match(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution against a dirty feed: every third customer
    name gets a deterministic mid-string corruption, then blocked fuzzy
    matching (operators/linkage.py) links the dirty feed back to the
    clean master — blocking equi-join on (length, last-6 suffix) bounds
    candidates, Levenshtein <= 1 is the residual. The suffix length is
    the block-selectivity knob: the noise model corrupts position 12
    (7th from the end of the fixed-width names), so last-6 is
    noise-safe, and last-4 left Σ|block|² = 250M candidate pairs at
    the 100× replica (227 s of levenshtein) where last-6 leaves 2.5M.
    The oracle replays the same corruption, blocking, and distance in
    SQL, so blocking semantics and edit-distance parity are both
    hash-checked."""
    from graphdbetl_spark.operators.linkage import fuzzy_match_pairs

    c = T(spark, sf, "customer")
    dirty = c.select(
        F.col("c_custkey").alias("dirty_id"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.substring("c_name", 1, 11), F.lit("X"),
                F.expr("substring(c_name, 13)"),
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("dirty_name"),
    )
    clean = c.select(F.col("c_custkey").alias("clean_id"), "c_name")
    return fuzzy_match_pairs(
        dirty, clean, "dirty_id", "clean_id", "dirty_name", "c_name", max_distance=1,
        block=lambda name: [F.length(name), F.substring(name, -6, 6)],
    )


@query(
    "agg_salted",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_l_quantity,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_l_extendedprice
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py): a hot grouping
    key spreads over 16 salt sub-keys in phase 1, phase 2 combines the
    partials — the standard mitigation when one key owns a double-digit
    share of a 100 TB table and a single reducer would own it all.
    l_returnflag (3 values over 60k+ rows) IS that pathological shape,
    so the query exercises the operator on genuinely hot keys, and the
    oracle proves the two-phase split is lossless against a plain
    GROUP BY."""
    # Scaled-integer sums (the _Q1_SQL idiom): bit-exact under ANY
    # partial-aggregation order, so the salted two-phase split stays
    # hash-identical to the oracle's single GROUP BY at every scale (a
    # float sum rounded at 4 held to sf0.01 but diverged at sf0.1's
    # 600k-row accumulation order). BIGINT cents match r4's decimal
    # accumulator exactly at a long-adder's cost.
    li = T(spark, sf, "lineitem").withColumns(
        {
            "l_quantity": F.round(F.col("l_quantity") * 100).cast("long"),
            "l_extendedprice": F.round(F.col("l_extendedprice") * 100).cast("long"),
        }
    )
    out = salted_count_sum(
        li, ["l_returnflag"], ["l_quantity", "l_extendedprice"], salt_buckets=16
    )
    return out.select(
        "l_returnflag",
        "n_rows",
        (F.col("sum_l_quantity").cast("double") / 100.0).alias("sum_l_quantity"),
        (F.col("sum_l_extendedprice").cast("double") / 100.0).alias("sum_l_extendedprice"),
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l.l_quantity), 4) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_skew_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Salt-and-replicate equi-join (operators/skew.py): fact rows get
    a random salt, the dim side replicates across all 8 salts, and the
    join key becomes (key, salt) so one hot fact key lands on 8
    reducers instead of one. This is the fallback when AQE's runtime
    skew split can't apply (downstream op pins the partitioning) and
    the dim side exceeds the broadcast threshold. The oracle proves the
    rewrite is result-identical to the plain join; dim-side cost (×8
    replication) is the documented price."""
    joined = replicated_skew_join(
        T(spark, sf, "lineitem").select("l_partkey", "l_quantity"),
        T(spark, sf, "part").select("p_partkey", "p_brand").withColumnRenamed(
            "p_partkey", "l_partkey"
        ),
        "l_partkey",
        salt_buckets=8,
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@query(
    "skew_report",
    oracle="""
    WITH c AS (
        SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    ), t AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(cnt) AS BIGINT) AS max_key_rows,
               quantile_cont(cnt, 0.5) AS p50,
               quantile_cont(cnt, 0.99) AS p99
        FROM c
    ), h AS (
        SELECT CAST(count(*) AS BIGINT) AS hot_keys
        FROM c, t WHERE cnt * t.n_keys > 2 * t.n_rows
    )
    SELECT n_rows, n_keys, max_key_rows,
           ROUND(p50, 6) AS p50_key_rows,
           ROUND(p99, 6) AS p99_key_rows,
           ROUND(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_key_rows,
           ROUND(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio,
           hot_keys,
           CAST(ceil(CAST(max_key_rows AS DOUBLE) * n_keys / n_rows) AS BIGINT)
               AS salt_buckets
    FROM t, h
    """,
)
def skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Pre-join key-skew diagnostic over lineitem.l_suppkey: one
    map-side-combined count shuffle, then a single-row report (max /
    p50 / p99 per-key rows, skew ratio, hot-key count, recommended
    salt buckets) — the numbers that pick plain join vs AQE skew split
    vs salting before the straggler burns a cluster-hour (see
    operators/skew.py key_skew_report)."""
    return key_skew_report(T(spark, sf, "lineitem"), "l_suppkey")


@query(
    "maintenance_zorder_key",
    oracle="""
    WITH src AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_extendedprice * 100 AS BIGINT) AS a,
               CAST(l_quantity AS BIGINT) AS b
        FROM lineitem
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM src
    ), ranks AS (
        SELECT DISTINCT (i * n + 15) // 16 AS r FROM range(1, 16) t(i), nn
    ), cca AS (
        SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM (
            SELECT a AS v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1)
    ), pa AS (
        SELECT list_sort(list_distinct(list(bound))) AS qa FROM (
            SELECT r, min(v) AS bound FROM cca, ranks WHERE cum >= r GROUP BY r)
    ), ccb AS (
        SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM (
            SELECT b AS v, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1)
    ), pb AS (
        SELECT list_sort(list_distinct(list(bound))) AS qb FROM (
            SELECT r, min(v) AS bound FROM ccb, ranks WHERE cum >= r GROUP BY r)
    ), r AS (
        SELECT l_orderkey, l_linenumber,
               len(list_filter(qa, x -> a >= x)) AS ba,
               len(list_filter(qb, x -> b >= x)) AS bb
        FROM src, pa, pb
    )
    SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
           CAST(((ba & 1) << 0) | ((bb & 1) << 1)
              | ((ba & 2) << 1) | ((bb & 2) << 2)
              | ((ba & 4) << 2) | ((bb & 4) << 3)
              | ((ba & 8) << 3) | ((bb & 8) << 4) AS BIGINT) AS zkey
    FROM r
    """,
)
def maintenance_zorder_key(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order layout key over (price-cents, quantity) with exact
    type-1 (discrete, integer-arithmetic) percentile bounds — attests
    the bucket + Morton-interleave math behind write_zordered
    bit-for-bit (discrete, because interpolated percentile is
    engine-convention-dependent — see etl/maintenance.py
    zorder_rank_exact). The bounds pass is a distributed two-phase
    prefix sum (range-partitioned cum-count + tiny offset aggregate),
    so no task sorts a whole column's distinct values; bucketing +
    interleave are literal-array codegen over one corpus pass."""
    from graphdbetl_spark.etl.maintenance import zorder_rank_exact

    li = T(spark, sf, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * 100).cast("long").alias("__a"),
        F.col("l_quantity").cast("long").alias("__b"),
    )
    z = zorder_rank_exact(li, "__a", "__b", buckets=16)
    return li.select(
        "l_orderkey", "l_linenumber", z.cast("long").alias("zkey")
    )


_COMPACT_ORACLE = """
    WITH t AS (
        SELECT GREATEST(4096, SUM(n_chars) // 36) AS target FROM documents
    ), s AS (
        SELECT lang, doc_id, n_chars,
               COALESCE(SUM(n_chars) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS before
        FROM documents
    )
    SELECT lang, CAST(before // t.target AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS bin_bytes,
           MIN(doc_id) AS min_key, MAX(doc_id) AS max_key
    FROM s, t GROUP BY lang, bin
    """


@query("maintenance_compact_plan", oracle=_COMPACT_ORACLE)
def maintenance_compact_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction planner: per table partition (lang),
    pack documents in key order into volume-derived bins — target
    size max(4096, total_bytes // 36), so the output file count stays
    ~constant as data grows instead of file size — by exclusive
    running byte total, and emit the rewrite manifest (rows/bytes/key-range
    per output file) — the plan side of compact_execute's staged
    rewrite. The running total is a distributed two-phase prefix sum
    whose slice id is a pure function of the key (no sampled range
    seam, no .persist pin), so the planner holds where a naive
    per-partition window funnels the biggest partition through one
    task — see etl/maintenance.py compact_plan."""
    from graphdbetl_spark.etl.maintenance import compact_plan

    return compact_plan(
        T(spark, sf, "documents"), "lang", "doc_id", "n_chars", target_bins=36
    )


@query("maintenance_compact_execute", oracle=_COMPACT_ORACLE)
def maintenance_compact_execute(spark: SparkSession, sf: str) -> DataFrame:
    """The compaction manifest EXECUTED, then proven by read-back
    (r7 verdict #8): compact_execute stages a rewrite where every
    (lang, bin) of the planner's manifest becomes exactly one parquet
    file, and this query re-aggregates the files READ BACK FROM DISK.
    The oracle is the planner's — matching it end-to-end shows the
    rewrite placed every row in its planned file, not merely that the
    plan was arithmetic-correct. Same shape as the sink_* entries:
    the write targets a temp dir, the returned frame is the read-back.
    """
    from graphdbetl_spark.etl.maintenance import compact_execute

    docs = T(spark, sf, "documents").select("lang", "doc_id", "n_chars")
    out = scratch_dir("graft_compactexec_")
    compact_execute(docs, out, "lang", "doc_id", "n_chars", target_bins=36)
    back = spark.read.parquet(out)
    return back.groupBy(
        "lang", F.col("bin").cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("bin_bytes"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
    )
