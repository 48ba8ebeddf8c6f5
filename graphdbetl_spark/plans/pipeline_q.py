"""Composite pipeline + graph-analytics queries: the engine's operators
composed the way a real training-data or graph workload uses them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from graphdbetl_spark.functions.text import quality_score, token_count
from graphdbetl_spark.functions.vectors import cosine_similarity
from graphdbetl_spark.operators.skew import pinned
from graphdbetl_spark.plans.registry import query
from graphdbetl_spark.sources.catalog import load_table as T


@query(
    "dedup_embedding_keep",
    oracle="""
    WITH pairs AS (
        SELECT b.vec_id AS dropped
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(
                  list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                  list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.35
    )
    SELECT vec_id, vec_id NOT IN (SELECT dropped FROM pairs) AS keep
    FROM embeddings
    """,
)
def dedup_embedding_keep(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic (embedding-cosine) dedup keep-list: drop any vector
    dominated by a smaller-id vector with cosine ≥ 0.35 within its
    label block — min-id-survives, no iteration. The label block stands
    in for LSH/IVF buckets at scale; a hard input cap
    (operators/guards.py) keeps the all-pairs shape unreachable beyond
    oracle scale — use dedup_embedding_keep_blocked at corpus scale."""
    from graphdbetl_spark.operators.guards import require_bounded_input

    e = require_bounded_input(
        T(spark, sf, "embeddings"),
        "dedup_embedding_keep",
        "dedup_embedding_keep_blocked",
    )
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("label").alias("la"), dv.alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb"), dv.alias("vb"))
    dropped = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("id_a") < F.col("id_b")))
        .filter(cosine_similarity(F.col("va"), F.col("vb")) >= 0.35)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return e.select("vec_id").join(dropped.withColumn("__d", F.lit(1)), "vec_id", "left").select(
        "vec_id", F.col("__d").isNull().alias("keep")
    )


@query(
    "dedup_embedding_keep_blocked",
    oracle="""
    WITH u AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), bkt AS (
        SELECT vec_id, label, v, (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0])[i]), (a, b) -> a + b) >= 0 THEN 1 ELSE 0 END) + (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[-1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0])[i]), (a, b) -> a + b) >= 0 THEN 2 ELSE 0 END) + (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[-1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0])[i]), (a, b) -> a + b) >= 0 THEN 4 ELSE 0 END) + (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[-1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0])[i]), (a, b) -> a + b) >= 0 THEN 8 ELSE 0 END) + (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0])[i]), (a, b) -> a + b) >= 0 THEN 16 ELSE 0 END) + (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0])[i]), (a, b) -> a + b) >= 0 THEN 32 ELSE 0 END) + (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0])[i]), (a, b) -> a + b) >= 0 THEN 64 ELSE 0 END) + (CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * (ARRAY[1.0, 1.0, 1.0, -1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, 1.0, -1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, -1.0, 1.0, -1.0, -1.0, -1.0, -1.0, -1.0, 1.0, 1.0, 1.0, 1.0, -1.0])[i]), (a, b) -> a + b) >= 0 THEN 128 ELSE 0 END) AS bucket FROM u
    ), pairs AS (
        SELECT b.vec_id AS dropped
        FROM bkt a JOIN bkt b
          ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.35
    )
    SELECT vec_id, vec_id NOT IN (SELECT dropped FROM pairs) AS keep
    FROM embeddings
    """,
)
def dedup_embedding_keep_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-policy over HYPERPLANE-blocked embedding pairs: the
    min-id-survives rule of dedup_embedding_keep running on the
    (label x 256-sign-bucket) candidate space that stays linear when
    label cardinality is fixed — the keep policy whose pair stage
    actually survives 10x (see dedup_embedding_cosine and the
    BASELINE.md blocking-cardinality finding). Near-identical vectors
    land in the same bucket (identical ones always do), so clone
    collapse — the dedup case that matters — is preserved."""
    from graphdbetl_spark.plans.llm_q import _lsh_hyperplanes

    planes = _lsh_hyperplanes()
    e = T(spark, sf, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot_p = lambda p: F.aggregate(  # noqa: E731
        F.zip_with("v", F.array(*[F.lit(x) for x in p]), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    u = e.select("vec_id", "label", dv.alias("v"))
    bucket = None
    for k, p in enumerate(planes):
        term = F.when(dot_p(p) >= 0, F.lit(1 << k)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    bkt = u.withColumn("bucket", bucket)
    a = bkt.select(F.col("vec_id").alias("id_a"), F.col("label").alias("la"),
                   F.col("bucket").alias("ba"), F.col("v").alias("va"))
    b = bkt.select(F.col("vec_id").alias("id_b"), F.col("label").alias("lb"),
                   F.col("bucket").alias("bb"), F.col("v").alias("vb"))
    dropped = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("ba") == F.col("bb"))
               & (F.col("id_a") < F.col("id_b")))
        .filter(cosine_similarity(F.col("va"), F.col("vb")) >= 0.35)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return e.select("vec_id").join(
        dropped.withColumn("__d", F.lit(1)), "vec_id", "left"
    ).select("vec_id", F.col("__d").isNull().alias("keep"))


@query(
    "pipeline_prepare_corpus",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, text,
               length(text) AS n,
               length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct,
               string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), q AS (
        SELECT doc_id, lang, len(toks) AS n_tokens,
            0.4 * (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0
                        WHEN n > 0 THEN 0.5 ELSE 0.0 END)
          + 0.3 * (1.0 - CASE WHEN n > 0 THEN CAST(punct AS DOUBLE) / n ELSE 1.0 END)
          + 0.3 * (CASE WHEN list_sum(list_transform(toks, t -> length(t))) / len(toks)
                             BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) AS quality
        FROM scored
    ), kept AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    )
    SELECT q.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(q.quality), 6) AS avg_quality
    FROM q JOIN kept ON q.doc_id = kept.doc_id
    WHERE q.quality >= 0.7
    GROUP BY q.lang
    """,
)
def pipeline_prepare_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus preparation: exact-dedup → quality filter
    (score ≥ 0.7) → per-language token budget. The composition a
    pretraining data pipeline runs nightly; one scan feeds both the
    digest and the quality expressions."""
    d = T(spark, sf, "documents")
    kept = d.groupBy(F.sha2("text", 256)).agg(F.min("doc_id").alias("doc_id"))
    scored = d.join(kept, "doc_id", "left_semi").select(
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
    )
    return (
        scored.filter(F.col("quality") >= 0.7)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
    )


@query(
    "graph_degree_stats",
    oracle="""
    WITH deg AS (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS out_degree
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT out_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY out_degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Degree distribution of the ORDER_CONTAINS_PART edge table (how
    many order nodes have k part-edges) — the first sanity query run on
    any built graph. Two partial-agg shuffles, second one tiny."""
    li = T(spark, sf, "lineitem")
    deg = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("out_degree"))
    return deg.groupBy("out_degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@query(
    "graph_triangle_count",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((
               SELECT COUNT(*)
               FROM edges e1
               JOIN edges e2 ON e1.v = e2.u
               JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
           ) AS BIGINT) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count on the co-purchase part graph (parts sharing an
    order are connected). Each undirected edge is oriented from the
    lower-(degree, id) endpoint to the higher — the degree-ordering
    trick (Ortmann & Brandes; GraphX's triangleCount does the same):
    every vertex's OUT-degree is then bounded by ~sqrt(2m), so the
    wedge join's fan-out is O(m^1.5) worst-case instead of hub-degree
    squared — id-only orientation leaves a high-degree hub emitting
    deg(hub)^2 wedges, the shape that melts down on skewed graphs.
    Any total order counts each triangle exactly once, so the count
    (and the id-oriented DuckDB oracle) is unchanged; the degree table
    is one extra bounded-key aggregation joined back onto the edge
    list.

    The wedge set itself is NEVER materialized through an exchange:
    at the 100× replica it is 8.2B rows (~200 GB of shuffle — the r6
    campaign's single-host spill death, campaign100x_r6.log). Instead
    the count is sliced by the triangle APEX, hash(u) mod J, with J
    sized so each slice of the closing edge set fits a broadcast:
    per slice, a shuffled-hash wedge join (build = the apex-sliced
    edges, stream = the full edge list) pipes its wedge stream
    directly into a broadcast-hash probe of the same apex slice's
    closing edges and a partial count — wedges live only as a codegen
    stream between the two joins, so peak disk is one edge-table
    exchange per slice regardless of wedge volume. Each triangle's
    apex lands in exactly one slice, so the summed count is exact.
    On a real cluster the same plan distributes: the only per-slice
    state is an m/J-row hash map per executor."""
    items = T(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    edges = (
        und.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("u"), F.col("e.t").alias("v"))
    )
    # Pinned: reused 3·J times across the sliced wedge-close joins, and
    # both outputs are driver-side ints, so the blocks go at return — a
    # long-lived session (the walls campaign runs the whole registry in
    # one JVM) carries no ~2 GB of dead storage into later jobs.
    with pinned(edges):
        n_edges = edges.count()
        # J derived, not hand-pinned (r7 verdict #5 — the old 6M-edges-
        # per-slice constant encoded THIS host). Sizing rule: each slice
        # holds two hashed edge sets at once — the shuffled-hash build and
        # the broadcast closing slice, ~n_edges/J rows each — plus a skew
        # allowance of one max-out-degree vertex landing in the slice
        # (degree orientation bounds out-degree by ~sqrt(2m), so the
        # allowance needs no measuring job). Budget ~5% of the JVM heap
        # per slice at ~64 B hashed per (long,long) edge: local mode reads
        # the real heap via Runtime.maxMemory() (driver IS the executor);
        # on a cluster the same JVM call on an executor sees its own heap,
        # so the rule is one code path. 8 GB heap + 122M edges -> J=21,
        # within noise of r7's hand-pinned 20 (BASELINE.md r8 rung).
        try:
            heap = int(
                spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
            )
        except Exception:  # non-JVM-bridged session: assume the test default
            heap = 8 << 30
        budget = max(64 << 20, heap // 20)
        cap = budget // 64 - int((2 * n_edges) ** 0.5 + 1)
        n_slices = max(1, -(-n_edges // max(1, cap)))
        apex = F.pmod(F.xxhash64("u"), F.lit(n_slices))
        triangles = 0
        for j in range(n_slices):
            ej = edges.filter(apex == j)
            e1, e2, e3 = ej.alias("e1"), edges.alias("e2"), ej.alias("e3")
            triangles += (
                e1.hint("shuffle_hash")
                .join(e2, F.col("e1.v") == F.col("e2.u"))
                .join(
                    F.broadcast(e3),
                    (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
                )
                .count()
            )
            # Each slice's closing-edge broadcast (~300 MB hashed) would
            # otherwise accumulate for the whole loop — on a cluster those
            # blocks are evictable storage per executor, but a single local
            # JVM runs out of execution memory around slice 3 of 20. A GC
            # nudge lets the ContextCleaner destroy the dead broadcast
            # before the next slice materializes its own.
            spark.sparkContext._jvm.System.gc()
    return spark.createDataFrame([(n_edges, triangles)], "n_edges long, n_triangles long")


@query(
    "graph_two_hop",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS reachable_parts,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_mktsegment
    """,
)
def graph_two_hop(spark: SparkSession, sf: str) -> DataFrame:
    """Two-hop traversal (customer -[PLACED]-> order -[CONTAINS]-> part)
    aggregated per segment: the relational form of a graph pattern
    match — each hop is an equi-join on the edge key.

    Plan shape (r9, the 1000×-rung fix): the two count-distincts run
    as SEPARATE single-distinct aggregations joined on the 5-row
    segment key, NOT one agg with both. Two distincts in one agg make
    Spark EXPAND every joined row ×2 (600M → 1.2B at 1000×) and
    external-sort the doubled stream — the single-host spill cliff
    that cost 830 s (48 g heap) at the 1000× rung. Per branch, the
    partial aggregate dedups its own narrow (segment, key) pairs
    map-side BEFORE the shuffle, so each branch shuffles far less
    than the join emits; the join is computed per branch (scan +
    joins are cheap next to the spilled expand-sort: measured 133 s
    vs 399 s at the 300× rung, 326 s vs 830 s at 1000×, 48 g heap). A
    triple-distinct + checkpoint variant was also measured (483 s at
    300× — the materialized distinct is itself shuffle-bound) before
    settling here."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    l = T(spark, sf, "lineitem")
    joined = c.join(o, o.o_custkey == c.c_custkey).join(
        l, l.l_orderkey == o.o_orderkey
    )
    parts = joined.groupBy("c_mktsegment").agg(
        F.countDistinct("l_partkey").alias("reachable_parts")
    )
    custs = joined.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("n_customers")
    )
    return parts.join(custs, "c_mktsegment")


def two_hop_reach_approx(c, o, l, rsd: float = 0.05):
    """PRODUCTION two-hop reach: one aggregation pass with BOTH
    distincts as HLL++ sketches (``approx_count_distinct``). Sketch
    aggregates are plain (non-DISTINCT) aggregates, so two of them in
    one agg trigger NO Expand (the double-distinct Expand doubled the
    joined stream to 1.2B rows and external-sorted it at the 1000×
    rung — 830 s), and the map-side partial state is 5 segments × two
    ~few-KB sketches instead of a growing dedup table — the joined
    stream is consumed in one codegen pass and nothing distinct-sized
    ever shuffles or spills. The 100 TB posture for reach counting;
    exact `graph_two_hop` stays the oracle-checked floor. rsd 0.05 →
    ±15% at 3σ (the agg_approx bound discipline)."""
    joined = c.join(o, o.o_custkey == c.c_custkey).join(
        l, l.l_orderkey == o.o_orderkey
    )
    return joined.groupBy("c_mktsegment").agg(
        F.approx_count_distinct("l_partkey", rsd).alias("reachable_parts_approx"),
        F.approx_count_distinct("c_custkey", rsd).alias("n_customers_approx"),
    )


@query(
    "graph_two_hop_approx",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT) AS reachable_parts,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           true AS approx_parts_ok,
           true AS approx_customers_ok
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_mktsegment
    """,
)
def graph_two_hop_approx(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch sibling of graph_two_hop (r9 verdict #7): the
    registered entry attests the HLL++ reach counts through the
    in-plan error-bound pattern (agg_approx discipline) — each sketch
    count must land within 3·rsd = 15% of the exact count computed in
    the SAME plan (via the decomposed no-Expand branches), pinned as
    booleans the oracle asserts literally true. The PRODUCTION form is
    :func:`two_hop_reach_approx` alone (no exact branches) — measured
    at the 1000× rung in BASELINE.md."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    l = T(spark, sf, "lineitem")
    joined = c.join(o, o.o_custkey == c.c_custkey).join(
        l, l.l_orderkey == o.o_orderkey
    )
    parts = joined.groupBy("c_mktsegment").agg(
        F.countDistinct("l_partkey").alias("reachable_parts")
    )
    custs = joined.groupBy("c_mktsegment").agg(
        F.countDistinct("c_custkey").alias("n_customers")
    )
    approx = two_hop_reach_approx(c, o, l)
    return (
        parts.join(custs, "c_mktsegment")
        .join(approx, "c_mktsegment")
        .select(
            "c_mktsegment",
            "reachable_parts",
            "n_customers",
            (
                F.abs(F.col("reachable_parts_approx") - F.col("reachable_parts"))
                <= 0.15 * F.col("reachable_parts")
            ).alias("approx_parts_ok"),
            (
                F.abs(F.col("n_customers_approx") - F.col("n_customers"))
                <= 0.15 * F.col("n_customers")
            ).alias("approx_customers_ok"),
        )
    )


def _hygiene_oracle() -> str:
    """Oracle for pipeline_hygiene_report, COMPOSED from the already-
    green component oracles (fetched from the registry at import, so a
    component-oracle fix propagates here automatically): each tier's
    SQL becomes a subquery reduced to one (metric, value) row."""
    from graphdbetl_spark.plans import curation_q, llm_q  # noqa: F401  (register)
    from graphdbetl_spark.plans.registry import REGISTRY

    exact = REGISTRY["dedup_exact"].oracle
    minhash = REGISTRY["dedup_minhash_md5"].oracle
    contam = REGISTRY["decontaminate_ngrams"].oracle
    pii = REGISTRY["pii_scrub"].oracle
    c4 = REGISTRY["curation_c4_filter"].oracle
    return f"""
    SELECT 'exact_dup_docs' AS metric,
           CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS value
    FROM ({exact})
    UNION ALL
    SELECT 'near_dup_pairs' AS metric, CAST(COUNT(*) AS BIGINT) AS value
    FROM ({minhash})
    UNION ALL
    SELECT 'contaminated_docs' AS metric,
           CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS value
    FROM ({contam})
    UNION ALL
    SELECT 'pii_redactions' AS metric, CAST(SUM(n_redactions) AS BIGINT) AS value
    FROM ({pii})
    UNION ALL
    SELECT 'c4_dropped_docs' AS metric,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS value
    FROM ({c4})
    """


@query("pipeline_hygiene_report", oracle=_hygiene_oracle())
def pipeline_hygiene_report(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus hygiene dashboard: one (metric, value) row per cleaning
    tier — exact-dup surplus docs, verified MinHash near-dup pairs,
    benchmark-contaminated docs, PII redaction count, C4 rule drops —
    composed from the SAME operator plans (and, on the oracle side, the
    same SQL) as the individual queries, so the report is exactly what
    running the tiers would do. Each tier reduces to one row before the
    union: five independent subplans, no cross-tier shuffle; at 100 TB
    the tiers share the documents scan via cache or run as separate
    jobs off the same snapshot."""
    from graphdbetl_spark.plans.curation_q import decontaminate_ngrams, pii_scrub
    from graphdbetl_spark.plans.llm_q import (
        curation_c4_filter,
        dedup_exact,
        dedup_minhash_md5,
    )

    one = lambda name, df: df.select(  # noqa: E731
        F.lit(name).alias("metric"), F.col("value").cast("long").alias("value")
    )
    exact = one(
        "exact_dup_docs",
        dedup_exact(spark, sf).agg(
            (F.sum("dup_count") - F.count(F.lit(1))).alias("value")
        ),
    )
    near = one(
        "near_dup_pairs",
        dedup_minhash_md5(spark, sf).agg(F.count(F.lit(1)).alias("value")),
    )
    contam = one(
        "contaminated_docs",
        decontaminate_ngrams(spark, sf).agg(
            F.sum(F.col("contaminated").cast("long")).alias("value")
        ),
    )
    pii = one(
        "pii_redactions",
        pii_scrub(spark, sf).agg(F.sum("n_redactions").alias("value")),
    )
    c4 = one(
        "c4_dropped_docs",
        curation_c4_filter(spark, sf).agg(
            F.sum((~F.col("keep")).cast("long")).alias("value")
        ),
    )
    return exact.unionAll(near).unionAll(contam).unionAll(pii).unionAll(c4)


def _multimodal_report_oracle() -> str:
    """Oracle for pipeline_multimodal_report, composed from the
    modality-dedup component oracles in the registry (same pattern as
    pipeline_hygiene_report)."""
    from graphdbetl_spark.plans import llm_q  # noqa: F401  (register)
    from graphdbetl_spark.plans.registry import REGISTRY

    img = REGISTRY["dedup_image_ahash"].oracle
    aud = REGISTRY["dedup_audio_fingerprint"].oracle
    vid = REGISTRY["dedup_video_signature"].oracle
    ham = REGISTRY["dedup_image_hamming"].oracle
    return f"""
    SELECT 'image_dup_docs' AS metric,
           CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS value
    FROM ({img})
    UNION ALL
    SELECT 'audio_dup_docs' AS metric,
           CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS value
    FROM ({aud})
    UNION ALL
    SELECT 'video_dup_docs' AS metric,
           CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS value
    FROM ({vid})
    UNION ALL
    SELECT 'image_neardup_pairs' AS metric, CAST(COUNT(*) AS BIGINT) AS value
    FROM ({ham})
    """


@query("pipeline_multimodal_report", oracle=_multimodal_report_oracle())
def pipeline_multimodal_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-modality dedup dashboard: surplus exact-duplicate documents
    for images (average hash), audio (energy-delta fingerprint), and
    video (ordered frame-hash signature), plus verified perceptual
    image near-dup pairs — each tier the SAME plan as its standalone
    query, reduced to one (metric, value) row; oracle SQL composed from
    the component oracles. Four independent decode-kernel subplans, no
    cross-tier shuffle."""
    from graphdbetl_spark.plans.llm_q import (
        dedup_audio_fingerprint,
        dedup_image_ahash,
        dedup_image_hamming,
        dedup_video_signature,
    )

    one = lambda name, df: df.select(  # noqa: E731
        F.lit(name).alias("metric"), F.col("value").cast("long").alias("value")
    )
    surplus = lambda df: df.agg(  # noqa: E731
        (F.sum("dup_count") - F.count(F.lit(1))).alias("value")
    )
    return (
        one("image_dup_docs", surplus(dedup_image_ahash(spark, sf)))
        .unionAll(one("audio_dup_docs", surplus(dedup_audio_fingerprint(spark, sf))))
        .unionAll(one("video_dup_docs", surplus(dedup_video_signature(spark, sf))))
        .unionAll(
            one(
                "image_neardup_pairs",
                dedup_image_hamming(spark, sf).agg(
                    F.count(F.lit(1)).alias("value")
                ),
            )
        )
    )


def _training_order_oracle() -> str:
    """Oracle for pipeline_training_order: the c4-keep and
    temperature-rate component oracles compose as subqueries; the
    upsample fan-out and the shard/position assignment replay the same
    md5 arithmetic the operators use."""
    from graphdbetl_spark.plans import llm_q, prep_q  # noqa: F401  (register)
    from graphdbetl_spark.plans.registry import REGISTRY

    c4 = REGISTRY["curation_c4_filter"].oracle
    temp = REGISTRY["sample_temperature"].oracle
    return f"""
    WITH kept AS (
        SELECT t.doc_id, d.source
        FROM ({temp}) t
        JOIN ({c4}) c ON t.doc_id = c.doc_id AND c.keep
        JOIN documents d ON d.doc_id = t.doc_id
    ), fanned AS (
        SELECT doc_id, source, CAST(e.e AS INT) AS epoch
        FROM (
            SELECT doc_id, source,
                   (CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 130
                        ELSE 100 END) // 100
                   + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                               % 100
                               < (CASE source WHEN 'src0' THEN 250
                                      WHEN 'src1' THEN 130 ELSE 100 END) % 100
                          THEN 1 ELSE 0 END AS copies
            FROM kept
        ), LATERAL (SELECT unnest(range(0, copies)) AS e) e
        WHERE copies > 0
    ), keyed AS (
        SELECT doc_id, epoch,
               md5('ord:' || CAST(doc_id AS VARCHAR) || ':'
                   || CAST(epoch AS VARCHAR)) AS okey
        FROM fanned
    )
    SELECT doc_id, epoch,
           CAST(('0x' || substr(okey, 1, 8))::BIGINT % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY ('0x' || substr(okey, 1, 8))::BIGINT % 8
               ORDER BY okey, doc_id, epoch) AS BIGINT) AS pos
    FROM keyed
    """


@query("pipeline_training_order", oracle=_training_order_oracle())
def pipeline_training_order(spark: SparkSession, sf: str) -> DataFrame:
    """The pipeline's END PRODUCT: the deterministic training order.
    C4-quality survivors ∩ temperature-sampled mixture → fractional
    epoch upsampling (src0 2.5×, src1 1.3×) → seeded md5 shard +
    within-shard position over (doc, epoch). Every stage is the same
    operator (and, in the oracle, the same SQL) as its standalone
    query; no global sort anywhere — 8 independently ordered shards,
    which is how N parallel loaders consume the corpus. Rebuild with a
    different seed/epoch plan = rerun this plan."""
    from graphdbetl_spark.operators.sampling import mixture_upsample, temperature_sample
    from graphdbetl_spark.plans.llm_q import curation_c4_filter

    d = T(spark, sf, "documents")
    kept_ids = temperature_sample(d, "doc_id", "lang").select("doc_id")
    c4_keep = curation_c4_filter(spark, sf).filter(F.col("keep")).select("doc_id")
    kept = (
        d.select("doc_id", "source")
        .join(kept_ids, "doc_id", "left_semi")
        .join(c4_keep, "doc_id", "left_semi")
    )
    fanned = mixture_upsample(
        kept, "doc_id", "source", {"src0": 250, "src1": 130}
    ).select("doc_id", "epoch")
    okey = F.md5(
        F.concat(
            F.lit("ord:"),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("epoch").cast("string"),
        )
    )
    shard = (
        F.conv(F.substring(okey, 1, 8), 16, 10).cast("long") % 8
    ).cast("int")
    keyed = fanned.select("doc_id", "epoch", okey.alias("__k"), shard.alias("shard"))
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("__k", "doc_id", "epoch")
    return keyed.select(
        "doc_id",
        "epoch",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


def _quality_report_oracle() -> str:
    """Oracle for pipeline_quality_report, composed from the r4
    component oracles fetched from the registry at import (the
    pipeline_hygiene_report pattern: a component fix propagates here
    automatically)."""
    from graphdbetl_spark.plans import curation_q, llm_q  # noqa: F401  (register)
    from graphdbetl_spark.plans.registry import REGISTRY

    norm = REGISTRY["dedup_normalized_exact"].oracle
    url = REGISTRY["dedup_url_canonical"].oracle
    ent = REGISTRY["text_entropy_gate"].oracle
    gopher = REGISTRY["curation_gopher_filter"].oracle
    bigram = REGISTRY["text_bigram_logprob"].oracle
    return f"""
    SELECT 'normalized_dup_docs' AS metric,
           CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS value
    FROM ({norm})
    UNION ALL
    SELECT 'url_dup_docs' AS metric,
           CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS value
    FROM ({url})
    UNION ALL
    SELECT 'low_entropy_docs' AS metric,
           CAST(SUM(CASE WHEN low_entropy THEN 1 ELSE 0 END) AS BIGINT) AS value
    FROM ({ent})
    UNION ALL
    SELECT 'gopher_failed_docs' AS metric,
           CAST(SUM(CASE WHEN passes THEN 0 ELSE 1 END) AS BIGINT) AS value
    FROM ({gopher})
    UNION ALL
    SELECT 'word_salad_docs' AS metric,
           CAST(SUM(CASE WHEN mean_logprob < -4.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS value
    FROM ({bigram})
    """


@query("pipeline_quality_report", oracle=_quality_report_oracle())
def pipeline_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """Quality dashboard over the r4 cleaning tiers: one (metric,
    value) row each for normalized-exact dup surplus, canonical-URL
    dup surplus, low-entropy (gibberish) docs, Gopher-rule failures,
    and bigram-LM word-salad docs (mean ln P < -4) — composed from the
    SAME operator plans (and component SQL on the oracle side) as the
    individual queries. Five independent one-row subplans, no
    cross-tier shuffle; the sibling of pipeline_hygiene_report for the
    round-4 tier set."""
    from graphdbetl_spark.plans.curation_q import (
        curation_gopher_filter,
        dedup_url_canonical,
    )
    from graphdbetl_spark.plans.llm_q import (
        dedup_normalized_exact,
        text_bigram_logprob,
        text_entropy_gate,
    )

    one = lambda name, df: df.select(  # noqa: E731
        F.lit(name).alias("metric"), F.col("value").cast("long").alias("value")
    )
    norm = one(
        "normalized_dup_docs",
        dedup_normalized_exact(spark, sf).agg(
            (F.sum("dup_count") - F.count(F.lit(1))).alias("value")
        ),
    )
    url = one(
        "url_dup_docs",
        dedup_url_canonical(spark, sf).agg(
            (F.sum("dup_count") - F.count(F.lit(1))).alias("value")
        ),
    )
    ent = one(
        "low_entropy_docs",
        text_entropy_gate(spark, sf).agg(
            F.sum(F.col("low_entropy").cast("long")).alias("value")
        ),
    )
    gopher = one(
        "gopher_failed_docs",
        curation_gopher_filter(spark, sf).agg(
            F.sum((~F.col("passes")).cast("long")).alias("value")
        ),
    )
    salad = one(
        "word_salad_docs",
        text_bigram_logprob(spark, sf).agg(
            F.sum((F.col("mean_logprob") < -4.0).cast("long")).alias("value")
        ),
    )
    return norm.unionAll(url).unionAll(ent).unionAll(gopher).unionAll(salad)
