"""Scalar expression families (SURVEY.md §2B scalar functions):
string / date-time / math / conditional / array / map-struct / json,
plus the reference's NFKD ascii-fold (R8) as an Arrow UDF.

All expressions stay inside whole-stage codegen except the NFKD UDF
(Arrow-batched by design). Cross-engine gotchas handled here:
DuckDB ``log`` is log10 (use ``ln``), DuckDB ``dayofweek`` is 0-based
Sunday (Spark is 1-based), DuckDB integer SUM is HUGEINT (cast).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from graphdbetl_spark.functions.text import nfkd_ascii_fold
from graphdbetl_spark.plans.registry import query
from graphdbetl_spark.sources.catalog import load_table as T


@query(
    "str_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substring(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INTEGER) AS name_len,
           concat(c_name, '#', c_mktsegment) AS tagged,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           replace(c_name, 'Customer', 'Cust') AS renamed,
           trim(concat(' ', c_name, ' ')) AS trimmed,
           split_part(c_name, '#', 1) AS first_token
    FROM customer
    """,
)
def str_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """String scalar family: case folding, trim, substring, concat, padding."""
    c = T(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("tagged"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("renamed"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("first_token"),
    )


@query(
    "date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS order_dow,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS due_ts,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           CAST(o_orderdate AS DATE) AS order_day,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Date/time scalar family: trunc, extract, diff, add — all JVM-side."""
    o = T(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.col("o_orderdate").cast("date").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@query(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
           abs(l_discount - 0.05) AS disc_dev,
           ROUND(sqrt(l_quantity), 6) AS qty_sqrt,
           ROUND(ln(l_extendedprice), 6) AS price_ln,
           ROUND(pow(l_quantity, 2), 2) AS qty_sq,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod
    FROM lineitem
    """,
)
def math_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Math scalar family: round/floor/ceil/abs/pow/sqrt/log — deterministic double math matching the oracle bit-for-bit after rounding."""
    li = T(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # round at 6 (= the product's exact decimal width: 2+2+2), where
        # no half-boundary exists; at 2 the engines disagree on exact
        # half-cents like 86590.70 * 0.95 = 82261.1650.
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6).alias("charged"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", 2), 2).alias("qty_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@query(
    "cond_funcs",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_resolved,
           GREATEST(o_totalprice, 50000.0) AS floored_price,
           LEAST(o_totalprice, 400000.0) AS capped_price,
           CASE WHEN o_orderpriority LIKE '1%' THEN TRUE ELSE FALSE END AS is_urgent
    FROM orders
    """,
)
def cond_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional expressions (CASE WHEN / coalesce / nullif / greatest / least) — pure codegen projection."""
    o = T(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias("status_resolved"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floored_price"),
        F.least(F.col("o_totalprice"), F.lit(400000.0)).alias("capped_price"),
        F.col("o_orderpriority").like("1%").alias("is_urgent"),
    )


@query(
    "array_funcs",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique,
           toks[1] AS first_tok,
           list_sort(toks)[1] AS min_tok,
           list_contains(toks, 'spark') AS has_spark,
           array_to_string(list_slice(toks, 1, 3), ' ') AS head3,
           CAST(len(list_filter(toks, t -> length(t) > 5)) AS INTEGER) AS n_long,
           CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS total_chars
    FROM t
    """,
)
def array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Array surface incl. higher-order transform/filter/aggregate —
    embeddings/token pipelines run on these (JVM-side, no UDF)."""
    d = T(spark, sf, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        toks.getItem(0).alias("first_tok"),
        F.sort_array(toks).getItem(0).alias("min_tok"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("head3"),
        F.size(F.filter(toks, lambda t: F.length(t) > 5)).alias("n_long"),
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).alias("total_chars"),
    )


@query(
    "map_struct_funcs",
    oracle="""
    SELECT c_custkey,
           c_name AS profile_name,
           c_acctbal AS profile_balance,
           'acctbal' AS first_key,
           c_acctbal AS looked_up
    FROM customer
    """,
)
def map_struct_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Struct/map construction and field access, flattened back to
    scalars so the oracle hash sees plain columns."""
    c = T(spark, sf, "customer")
    profile = F.struct(F.col("c_name").alias("name"), F.col("c_acctbal").alias("balance"))
    m = F.create_map(F.lit("acctbal"), F.col("c_acctbal"))
    return c.select(
        "c_custkey",
        profile.getField("name").alias("profile_name"),
        profile.getField("balance").alias("profile_balance"),
        F.map_keys(m).getItem(0).alias("first_key"),
        F.element_at(m, F.lit("acctbal")).alias("looked_up"),
    )


@query(
    "json_funcs",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """JSON property extraction (events.props is a JSON string)."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
        F.max(k).alias("max_k"),
    )


@query(
    "from_json_struct",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    """,
)
def from_json_struct(spark: SparkSession, sf: str) -> DataFrame:
    """from_json with an explicit schema → typed struct column."""
    e = T(spark, sf, "events")
    parsed = F.from_json("props", "k INT")
    return (
        e.select("event_id", parsed.getField("k").alias("k"))
        .filter(F.col("k") > 50)
    )


@query(
    "nfkd_fold",
    oracle="""
    SELECT c_custkey, strip_accents(c_name) AS folded,
           CAST(length(c_name) AS INTEGER) AS orig_len
    FROM customer
    """,
)
def nfkd_fold(spark: SparkSession, sf: str) -> DataFrame:
    """R8: the reference's NFKD+ascii-ignore insert normalization
    (graph_db_builder.py:521-527), as an Arrow-batched ``arrow_udf``.
    (Oracle note: testdata names are ASCII so strip_accents agrees;
    non-ASCII behavior is pinned by tests/test_functions.py.)"""
    c = T(spark, sf, "customer")
    return c.select(
        "c_custkey",
        nfkd_ascii_fold(F.col("c_name")).alias("folded"),
        F.length("c_name").alias("orig_len"),
    )


@query(
    "agg_bitwise",
    oracle="""
    SELECT c_nationkey,
           CAST(bit_and(c_custkey) AS BIGINT) AS and_key,
           CAST(bit_or(c_custkey) AS BIGINT) AS or_key,
           CAST(bit_xor(c_custkey) AS BIGINT) AS xor_key
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_bitwise(spark: SparkSession, sf: str) -> DataFrame:
    """Bitwise aggregate family (bit_and/bit_or/bit_xor) — set
    fingerprints and flag-mask rollups; partial-aggregable like any
    commutative monoid, so map-side combine applies."""
    c = T(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.bit_and("c_custkey").alias("and_key"),
        F.bit_or("c_custkey").alias("or_key"),
        F.bit_xor("c_custkey").alias("xor_key"),
    )


@query(
    "map_funcs2",
    oracle="""
    SELECT c_custkey,
           c_acctbal * 2 AS doubled_bal,
           CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS kept_entries,
           c_acctbal + c_custkey AS zipped_sum,
           'K_acctbal' AS renamed_key
    FROM customer
    """,
)
def map_funcs2(spark: SparkSession, sf: str) -> DataFrame:
    """Advanced map higher-order functions — transform_values,
    map_filter, map_zip_with, transform_keys — flattened to scalars so
    the oracle hash sees plain columns (the map mechanics are what is
    under test; the values have closed-form equivalents)."""
    c = T(spark, sf, "customer")
    m = F.create_map(F.lit("acctbal"), F.col("c_acctbal"))
    m2 = F.create_map(F.lit("acctbal"), F.col("c_custkey").cast("double"))
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(m, lambda k, v: v > 0)
    zipped = F.map_zip_with(m, m2, lambda k, v1, v2: v1 + v2)
    renamed = F.transform_keys(m, lambda k, v: F.concat(F.lit("K_"), k))
    return c.select(
        "c_custkey",
        F.element_at(doubled, F.lit("acctbal")).alias("doubled_bal"),
        F.size(kept).alias("kept_entries"),
        F.element_at(zipped, F.lit("acctbal")).alias("zipped_sum"),
        F.map_keys(renamed).getItem(0).alias("renamed_key"),
    )
