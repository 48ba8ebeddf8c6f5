"""Training-data preparation queries: document chunking, mixture
balancing, embedding centroids, and the TPC-H Q6 shape through the SQL
frontend.

All four are fully oracle-checked. Chunking/balancing extend the
north-star curation surface (the reference has no document model);
Q6 completes the SQL-frontend family (single-scan filter+agg with
every predicate pushed to the parquet reader).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphdbetl_spark.operators.curation import chunk_text
from graphdbetl_spark.operators.sampling import (
    balance_uniform,
    mixture_upsample,
    temperature_sample,
)
from graphdbetl_spark.operators.similarity import label_centroids
from graphdbetl_spark.plans.registry import query
from graphdbetl_spark.sources.catalog import load_table as T


@query(
    "chunk_documents",
    oracle="""
    WITH g AS (
        SELECT doc_id, text,
               unnest(range(0, greatest(len(text) - 1, 0) // 150 + 1)) AS i
        FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
    FROM g
    """,
)
def chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping context-window chunking (200 chars, stride 150) —
    sequence/explode/substring inside the scan stage, no UDF, no
    shuffle; fan-out scales with input partitions."""
    return chunk_text(T(spark, sf, "documents"), "text", "doc_id", size=200, stride=150)


@query(
    "mixture_balance",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS mn FROM c),
    r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.lang FROM r, m WHERE r.rn <= m.mn
    """,
)
def mixture_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Uniform language mixture: every language downsampled to the
    rarest language's count, deterministic by md5 rank (stable across
    engines and cluster sizes — see balance_uniform for the skew-free
    hash-threshold variant used at corpus scale)."""
    return balance_uniform(T(spark, sf, "documents"), "doc_id", "lang")


@query(
    "sample_temperature",
    oracle="""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY lang
    ), t AS (SELECT SUM(n) AS N FROM c),
    w AS (SELECT lang, n, sqrt(n / (SELECT N FROM t)) AS w FROM c),
    -- ORDER BY pins the float summation order to match the engine's
    -- sorted left fold bit-for-bit (N is integer-exact; sw is not)
    s AS (SELECT SUM(w ORDER BY lang) AS sw FROM w),
    r AS (
        SELECT lang,
               LEAST(
                   CAST(1000000 AS BIGINT),
                   CAST(round(w / (SELECT sw FROM s) * (SELECT N FROM t) / n
                              * 1000000) AS BIGINT)
               ) AS rate_micro
        FROM w
    )
    SELECT d.doc_id, d.lang, r.rate_micro
    FROM documents d JOIN r USING (lang)
    WHERE ('0x' || substr(md5('ts:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1000000
          < r.rate_micro
    """,
)
def sample_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened mixture sampling (XLM-R / mT5 α=0.5
    sampling): per-language keep rate min(1, q_l·N/n_l) with
    q_l ∝ sqrt(p_l), membership by md5 micro-bucket — deterministic
    across engines, no corpus shuffle (tiny per-language rates table
    broadcast back onto one scan). See operators/sampling.py
    temperature_sample for why sqrt (IEEE-exact) and an integer
    micro-rate make the cross-engine replay float-safe."""
    return temperature_sample(T(spark, sf, "documents"), "doc_id", "lang", alpha=0.5)


@query(
    "mixture_upsample",
    oracle="""
    WITH f AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 130 ELSE 100 END AS pct
        FROM documents
    ), n AS (
        SELECT doc_id, source,
               pct // 100
               + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                           < pct % 100
                      THEN 1 ELSE 0 END AS copies
        FROM f
    )
    SELECT doc_id, source, CAST(e.e AS INT) AS epoch
    FROM n, LATERAL (SELECT unnest(range(0, copies)) AS e) e
    WHERE copies > 0
    """,
)
def mixture_upsample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Fractional epoch upsampling (src0 2.5x, src1 1.3x, rest 1x):
    deterministic md5-bucket fractional membership, zero-shuffle
    in-stage fan-out with an epoch index — see
    operators/sampling.py mixture_upsample."""
    d = T(spark, sf, "documents").select("doc_id", "source")
    return mixture_upsample(d, "doc_id", "source", {"src0": 250, "src1": 130}).select(
        "doc_id", "source", F.col("epoch").cast("int").alias("epoch")
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH e AS (
        SELECT label, unnest(embedding) AS v,
               CAST(unnest(range(0, len(embedding))) AS INT) AS pos
        FROM embeddings
    )
    SELECT label, pos, ROUND(AVG(v), 6) AS centroid_v,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM e GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label mean embedding, one row per (label, dimension):
    posexplode + hash agg with map-side partials; shuffle key space is
    labels × dims so label skew cannot create a hot partition."""
    return label_centroids(T(spark, sf, "embeddings"), "label", "embedding")


_Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@query("sql_frontend_q6", oracle=_Q6_SQL)
def sql_frontend_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): identical SQL text on
    both engines. The whole WHERE clause reaches the parquet scan as
    PushedFilters and only 4 of 11 lineitem columns are read; the agg
    is a single-group partial+final — at 100 TB this query is pure
    scan bandwidth. Money sums round at their exact decimal width (4),
    per the ROADMAP invariant."""
    T(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)


@query(
    "budget_select",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, lang, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= 20000
    """,
)
def budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget selection: per language, keep the longest documents
    until a 20k-token budget fills — the mixing step that turns domain
    weights into an actual training set. One window shuffle partitioned
    by stratum; the running sum is a streaming frame (no buffering).
    At 100 TB, strata are (domain × shard) so no single window
    partition exceeds executor memory."""
    from graphdbetl_spark.operators.dedup import _tokens

    d = T(spark, sf, "documents")
    ntok = F.size(_tokens(F.col("text")))
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "lang", "n_chars", ntok.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 20000)
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


@query(
    "pipeline_chunk_pack",
    oracle="""
    WITH g AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_id,
               substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
        FROM (SELECT doc_id, text,
                     unnest(range(0, greatest(len(text) - 1, 0) // 150 + 1)) AS i
              FROM documents)
    ), t AS (
        SELECT doc_id, chunk_id,
               len(string_split_regex(trim(chunk_text), '\\s+')) AS n_tokens
        FROM g
    )
    SELECT doc_id, chunk_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
                    ORDER BY doc_id, chunk_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 512 AS BIGINT) AS pack_id
    FROM t
    """,
)
def pipeline_chunk_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Composition pipeline: chunk documents (200/150) → portable token
    count per chunk → greedy 512-token sequence packing. Chunking and
    counting fuse into the scan stage; the pack step is the
    quantile-sharded distributed prefix-sum (exact global running sum
    in (doc_id, chunk_id) order — chunks of one doc share its shard,
    so contiguity holds on the composite order)."""
    from graphdbetl_spark.operators.dedup import _tokens
    from graphdbetl_spark.operators.sampling import sharded_running_sum_before

    chunks = chunk_text(T(spark, sf, "documents"), "text", "doc_id", size=200, stride=150)
    sized = chunks.select(
        "doc_id",
        "chunk_id",
        F.size(_tokens(F.col("chunk_text"))).cast("long").alias("n_tokens"),
    )
    p, cum_before = sharded_running_sum_before(
        sized, ["doc_id", "chunk_id"], F.col("n_tokens")
    )
    return p.select(
        "doc_id",
        "chunk_id",
        "n_tokens",
        F.floor(cum_before / 512).cast("long").alias("pack_id"),
    )


@query(
    "shard_manifest",
    oracle="""
    WITH s AS (
        SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 10000) % 8 AS shard,
               doc_id,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> t <> '')) AS tok,
               n_chars
        FROM documents
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM s GROUP BY shard
    """,
)
def shard_manifest_q(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic output-shard manifest (8 shards by portable md5
    hash bucket): per-shard row/token/char budgets and id range — the
    curation→trainer handoff contract. One partial-agg shuffle
    collapsing to n_shards rows (operators/sampling.py
    shard_manifest)."""
    from graphdbetl_spark.operators.sampling import shard_manifest

    return shard_manifest(
        T(spark, sf, "documents"),
        "doc_id",
        n_shards=8,
        token_text_col="text",
        char_count_col="n_chars",
    )


@query(
    "mixture_epochs",
    oracle="""
    WITH c AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS d,
               CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
                   AS n
        FROM documents GROUP BY source
    ), t AS (
        -- integer-exact total, then double (matches the engine's fold)
        SELECT CAST(SUM(n) AS DOUBLE) AS N FROM c
    ), w AS (
        SELECT source, d, n, sqrt(n / (SELECT N FROM t)) AS w FROM c
    ), s AS (
        -- ORDER BY pins the float summation order to the engine's
        -- sorted left fold (the temperature_sample idiom)
        SELECT SUM(w ORDER BY source) AS sw FROM w
    )
    SELECT w.source, w.d AS n_docs, w.n AS n_tokens,
           ROUND(w.w / s.sw, 6) AS share,
           ROUND((SELECT N FROM t) * 2.0 * (w.w / s.sw), 2) AS planned_tokens,
           ROUND((SELECT N FROM t) * 2.0 * (w.w / s.sw) / w.n, 4) AS epochs
    FROM w, s
    """,
)
def mixture_epochs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget mixture planner: per-source token masses →
    temperature-flattened target shares → planned token draws and
    repeat factors (epochs) under a 2× token budget — the LLaMA-style
    source-weighting sheet, produced as one aggregation plus a sorted
    one-row fold (no window, no second corpus pass).
    mixture_upsample executes the resulting factors. See
    operators/sampling.py mixture_epoch_plan."""
    from graphdbetl_spark.operators.sampling import mixture_epoch_plan

    return mixture_epoch_plan(
        T(spark, sf, "documents"), "text", "source", alpha=0.5, budget_factor=2.0
    )


def _weighted_sample_oracle(k: int = 100, max_log2: int = 16) -> str:
    """Generated oracle for select_weighted_sample: the j-step sqrt
    chain unrolls into lateral column aliases (x1 references x0 in the
    same SELECT), mirroring the engine's per-step projections."""
    j_sum = "\n             + ".join(
        f"CASE WHEN greatest(n_chars, 1) >= {1 << t} THEN 1 ELSE 0 END"
        for t in range(1, max_log2 + 1)
    )
    chain = ",\n           ".join(
        f"CASE WHEN j >= {s} THEN sqrt(x{s - 1}) ELSE x{s - 1} END AS x{s}"
        for s in range(1, max_log2 + 1)
    )
    return f"""
    WITH base AS (
        SELECT doc_id,
               {j_sum} AS j,
               (CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                     AS DOUBLE) + CAST(0.5 AS DOUBLE))
                   / CAST(4503599627370496 AS DOUBLE) AS x0
        FROM documents
    ), chain AS (
        SELECT doc_id, j, x0,
           {chain}
        FROM base
    )
    SELECT doc_id, (CAST(1 AS BIGINT) << j) AS w2, x{max_log2} AS priority
    FROM chain
    ORDER BY priority DESC, doc_id
    LIMIT {k}
    """


@query("select_weighted_sample", oracle=_weighted_sample_oracle())
def select_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Probability-proportional-to-size corpus sampling without
    replacement (Efraimidis–Spirakis A-Res priorities, weights =
    document length quantized to powers of two): key u^(1/2^j) via j
    IEEE-exact sqrt applications from an md5-derived uniform, sample =
    global top-100 keys — TakeOrderedAndProject, no full sort, no
    shuffle beyond the k-row reduce. See operators/sampling.py
    weighted_priority_sample for why the power-of-two quantization is
    what makes an ES draw bit-replayable across engines."""
    from graphdbetl_spark.operators.sampling import weighted_priority_sample

    return weighted_priority_sample(
        T(spark, sf, "documents"), "doc_id", "n_chars", k=100
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center trajectory (the pagerank/BPE unroll
    treatment): c_i picks the argmin of max-cosine-to-selected with
    ties to the lower vec_id; m_i folds the new center in via
    GREATEST (exact — IEEE max never rounds). AS MATERIALIZED per the
    r4 invariant: inlined self-referencing CTEs double the plan per
    round in DuckDB."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        "m1 AS MATERIALIZED (SELECT e.vec_id, e.v AS v,"
        " list_cosine_similarity(e.v, c1.v) AS mc"
        " FROM e, c1 WHERE e.vec_id <> c1.vec_id)",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT vec_id, v, mc FROM m{i - 1}"
            " ORDER BY mc ASC, vec_id ASC LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.v AS v,"
                f" GREATEST(m.mc, list_cosine_similarity(m.v, c{i}.v)) AS mc"
                f" FROM m{i - 1} m, c{i} WHERE m.vec_id <> c{i}.vec_id)"
            )
    selects = [
        "SELECT CAST(1 AS INT) AS step, c1.vec_id AS center_id,"
        " CAST(NULL AS DOUBLE) AS radius FROM c1"
    ]
    for i in range(2, k + 1):
        selects.append(
            f"SELECT CAST({i} AS INT) AS step, vec_id AS center_id,"
            f" ROUND(1.0 - mc, 4) AS radius FROM c{i}"
        )
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@query("select_kcenter_coreset", oracle=_kcenter_oracle(8))
def select_kcenter_coreset(spark: SparkSession, sf: str) -> DataFrame:
    """Diversity-based coreset selection: greedy k-center
    (farthest-point traversal) over the embedding corpus — the
    coverage-maximizing dual of select_importance_resampling's
    distribution matching, the standard recipe for carving a small,
    maximally-diverse eval/fine-tune slice. Each round is one
    map-only Arrow-kernel corpus pass (centers live in the kernel
    closure, bounded by k) with a per-batch partial cut into a
    TakeOrdered(p), p = picks left; driver-side batch admission keeps
    every pick above the p-th-score bound exact (operators/coreset.py).
    The 7 picks after the seed took 6 passes at sf0.01 and sf0.1, not
    7; k=64 at the 1000x replica (2M vectors) took 227 s one pick per
    pass and 33.7 s at 64 candidates per pass (BASELINE.md r8). Cosine
    math follows the sim_cosine_topk bit-parity conventions; the full
    greedy trajectory (seed = min id) unrolls into the DuckDB CTE
    chain."""
    from graphdbetl_spark.operators.coreset import kcenter_select

    return kcenter_select(T(spark, sf, "embeddings"), "vec_id", "embedding", k=8)


def _mmr_oracle(k: int) -> str:
    """Unrolled MMR trajectory (the kcenter unroll treatment, argmax
    flavor): c_i picks the argmax of 0.5·rel − 0.5·max-cosine-to-
    selected with ties to the lower vec_id; m_i folds the new pick in
    via GREATEST. rel (cosine to the min-id query vector) is computed
    once — round-invariant, exactly like the engine's persisted
    __rel column. λ=0.5 keeps every arithmetic step IEEE-exact."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        "q AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        "r AS MATERIALIZED (SELECT e.vec_id, e.v AS v,"
        " list_cosine_similarity(e.v, q.v) AS rel"
        " FROM e, q WHERE e.vec_id <> q.vec_id)",
        "c1 AS MATERIALIZED (SELECT vec_id, v, rel, 0.5 * rel AS score"
        " FROM r ORDER BY score DESC, vec_id ASC LIMIT 1)",
        "m1 AS MATERIALIZED (SELECT r.vec_id, r.v AS v, r.rel,"
        " list_cosine_similarity(r.v, c1.v) AS mc"
        " FROM r, c1 WHERE r.vec_id <> c1.vec_id)",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT vec_id, v, rel,"
            " 0.5 * rel - 0.5 * mc AS score"
            f" FROM m{i - 1} ORDER BY score DESC, vec_id ASC LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"m{i} AS MATERIALIZED (SELECT m.vec_id, m.v AS v, m.rel,"
                f" GREATEST(m.mc, list_cosine_similarity(m.v, c{i}.v)) AS mc"
                f" FROM m{i - 1} m, c{i} WHERE m.vec_id <> c{i}.vec_id)"
            )
    selects = [
        f"SELECT CAST({i} AS INT) AS step, vec_id AS selected_id,"
        f" ROUND(score, 4) AS mmr_score FROM c{i}"
        for i in range(1, k + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@query("select_mmr_diverse", oracle=_mmr_oracle(8))
def select_mmr_diverse(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal Marginal Relevance selection: greedily pick the point
    maximizing 0.5·cos(q, d) − 0.5·max-cosine-to-selected — the
    relevance-weighted sibling of select_kcenter_coreset (λ=1 is pure
    top-k retrieval, λ=0 pure farthest-point diversity), the standard
    recipe for building a relevant-but-non-redundant context or
    fine-tuning slice around a query. The round-invariant relevance
    term is computed in ONE map-only pass and persisted; the rounds
    then run select_kcenter_coreset's loop (one map-only Arrow-kernel
    pass with a per-batch top-p cut into a TakeOrdered(p), p = picks
    left, and driver-side batch admission). Cosine math follows the
    sim_cosine_topk bit-parity conventions; the full greedy
    trajectory unrolls into the DuckDB CTE chain."""
    from graphdbetl_spark.operators.coreset import mmr_select

    return mmr_select(T(spark, sf, "embeddings"), "vec_id", "embedding", k=8)

