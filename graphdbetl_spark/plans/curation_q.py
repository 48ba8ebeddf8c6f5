"""Corpus-curation queries (north-star training-data extensions):
benchmark decontamination, PII scrubbing, deterministic training-order
shuffle, intra-document repetition scoring.

Every query here is fully oracle-checked: the PII regexes are written
in the RE2-compatible subset so DuckDB replays them verbatim, and the
shuffle/decontamination keys use the engine-portable md5 family.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from graphdbetl_spark.operators.curation import (
    PII_PATTERNS,
    decontaminate_against_eval,
    deterministic_shuffle,
    repetition_stats,
    scrub_pii,
)
from graphdbetl_spark.operators.sampling import hash_bucket
from graphdbetl_spark.plans.registry import query
from graphdbetl_spark.sources.catalog import load_table as T


@query(
    "decontaminate_ngrams",
    oracle="""
    WITH split AS (
        SELECT doc_id, text,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
                   AS is_eval
        FROM documents
    ), t AS (
        SELECT doc_id, is_eval, string_split_regex(trim(text), '\\s+') AS toks FROM split
    ), g AS (
        SELECT doc_id, is_eval,
               list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                        || toks[i+3] || ' ' || toks[i+4])) AS grams
        FROM t
    ), e AS (SELECT doc_id, is_eval, unnest(grams) AS gram FROM g),
    contaminated AS (
        SELECT DISTINCT doc_id FROM e
        WHERE NOT is_eval AND gram IN (SELECT gram FROM e WHERE is_eval)
    )
    SELECT s.doc_id, (c.doc_id IS NOT NULL) AS contaminated
    FROM split s LEFT JOIN contaminated c USING (doc_id)
    WHERE NOT s.is_eval
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with the held-out eval split (hash buckets 0-9). The eval
    gram set is broadcast — the corpus side is scanned, never
    shuffled (the 100 TB shape: benchmarks are MBs, corpora are TBs)."""
    d = T(spark, sf, "documents")
    b = hash_bucket(F.col("doc_id"))
    return decontaminate_against_eval(
        d.filter(b >= 10), "text", "doc_id", d.filter(b < 10), n=5
    )


_E, _P, _I = (p for p, _ in PII_PATTERNS)

_PII_ORACLE = """
    WITH s1 AS (
        SELECT doc_id,
               regexp_replace(text, '{e}', '<EMAIL>', 'g') AS t1,
               len(regexp_extract_all(text, '{e}')) AS c1
        FROM documents
    ), s2 AS (
        SELECT doc_id,
               regexp_replace(t1, '{p}', '<PHONE>', 'g') AS t2,
               c1, len(regexp_extract_all(t1, '{p}')) AS c2
        FROM s1
    )
    SELECT doc_id,
           regexp_replace(t2, '{i}', '<IP>', 'g') AS scrubbed_text,
           CAST(c1 + c2 + len(regexp_extract_all(t2, '{i}')) AS BIGINT) AS n_redactions
    FROM s2
""".format(e=_E, p=_P, i=_I)  # DuckDB quotes are escape-free: patterns verbatim


@query("pii_scrub", oracle=_PII_ORACLE)
def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (email/phone/IPv4 → typed placeholder tokens) with
    a per-doc redaction count — one shuffle-free codegen projection.
    The oracle SQL is generated from the same PII_PATTERNS tuple."""
    return scrub_pii(T(spark, sf, "documents"), "text", "doc_id")


@query(
    "shuffle_deterministic",
    oracle="""
    WITH k AS (
        SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(shuffle_key, 1, 8))::BIGINT % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY ('0x' || substr(shuffle_key, 1, 8))::BIGINT % 8
               ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
    FROM k
    """,
)
def shuffle_deterministic(spark: SparkSession, sf: str) -> DataFrame:
    """Seeded training-order shuffle: md5-keyed shard + within-shard
    position. No global sort — one hash shuffle into 8 independently
    ordered shards (how N parallel loaders consume a 100 TB corpus);
    reshuffle = change the seed."""
    return deterministic_shuffle(T(spark, sf, "documents"), "doc_id", seed="42", shards=8)


@query(
    "doc_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), g AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                              i -> toks[i] || ' ' || toks[i+1]) AS grams
        FROM t
    )
    SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
           CASE WHEN len(grams) > 0
                THEN ROUND((len(grams) - len(list_distinct(grams)))::DOUBLE
                           / len(grams), 6)
                ELSE 0.0 END AS dup_frac
    FROM g
    """,
)
def doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signal: duplicate word-bigram fraction
    per document (boilerplate/spam filter) — per-row array expressions,
    zero shuffles."""
    return repetition_stats(T(spark, sf, "documents"), "text", "doc_id", n=2)


@query(
    "doc_repeated_ngrams",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), g AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                        || toks[i+3] || ' ' || toks[i+4])) AS grams
        FROM t
    ), e AS (
        SELECT doc_id, unnest(grams) AS gram FROM g
    ), d AS (
        SELECT gram, count(*) AS df FROM e GROUP BY gram
    ), cnt AS (
        SELECT e.doc_id,
               count(*) AS n_grams,
               count(CASE WHEN d.df >= 2 THEN 1 END) AS n_repeated
        FROM e JOIN d USING (gram) GROUP BY e.doc_id
    )
    SELECT g.doc_id,
           CAST(COALESCE(cnt.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(cnt.n_repeated, 0) AS BIGINT) AS n_repeated,
           CASE WHEN COALESCE(cnt.n_grams, 0) > 0
                THEN ROUND(cnt.n_repeated::DOUBLE / cnt.n_grams, 6)
                ELSE 0.0 END AS repeated_frac
    FROM g LEFT JOIN cnt USING (doc_id)
    """,
)
def doc_repeated_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document repeated 5-gram coverage per document — the
    corpus-level boilerplate/dedup signal of Lee et al. 2022 (see
    operators/curation.py repeated_ngram_coverage for the scale shape:
    fingerprinted grams, one df aggregation, one equi-join, nothing
    quadratic)."""
    from graphdbetl_spark.operators.curation import repeated_ngram_coverage

    return repeated_ngram_coverage(T(spark, sf, "documents"), "text", "doc_id", n=5)


@query(
    "curation_domain_cap",
    oracle="""
    SELECT doc_id, source, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents
    )
    WHERE rn <= 10
    """,
)
def curation_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap (the Common-Crawl-style curation policy:
    no source/domain may contribute more than K documents; survivors
    are the K best by length with doc_id tiebreak). Reuses
    topk_per_group, so Catalyst's WindowGroupLimit keeps ~K rows per
    group per partition ahead of the shuffle — safe under hot-domain
    skew, the failure mode of a naive per-domain window at 100 TB."""
    from graphdbetl_spark.operators.joins import topk_per_group

    d = T(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return topk_per_group(d, ["source"], "n_chars", 10, descending=True).select(
        "doc_id", "source", F.col("rn").cast("int").alias("rn")
    )


@query(
    "dedup_repeated_ngram_scrub",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), g0 AS (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
            i -> struct_pack(pos := i,
                 gram := toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                      || toks[i+3] || ' ' || toks[i+4]))) AS s
        FROM t
    ), g AS (
        SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, s.gram AS gram FROM g0
    ), rep AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
        GROUP BY gram HAVING count(*) >= 2
    ), cov AS (
        SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS p
        FROM (SELECT doc_id, unnest([pos, pos+1, pos+2, pos+3, pos+4]) AS p
              FROM g WHERE gram IN (SELECT gram FROM rep))
    ), tok AS (
        SELECT doc_id, CAST(s.p AS BIGINT) AS p, s.tok AS tok
        FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
                i -> struct_pack(p := i, tok := toks[i]))) AS s FROM t)
    ), agg AS (
        SELECT tok.doc_id,
               count(*) AS n_tokens,
               count(cov.p) AS n_removed,
               COALESCE(string_agg(CASE WHEN cov.p IS NULL THEN tok.tok END,
                                   ' ' ORDER BY tok.p), '') AS scrubbed_text
        FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
        GROUP BY tok.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
           COALESCE(a.scrubbed_text, '') AS scrubbed_text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def dedup_repeated_ngram_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Span-removal substring dedup (Lee et al. 2022 ExactSubstr at
    5-gram granularity): scrub every token covered by a 5-gram that
    occurs in >= 2 distinct documents. The measurement companion is
    doc_repeated_ngrams; see operators/curation.py
    repeated_ngram_scrub for the scale shape (fingerprinted grams,
    df-filtered join, zero-shuffle higher-order text rebuild)."""
    from graphdbetl_spark.operators.curation import repeated_ngram_scrub

    return repeated_ngram_scrub(T(spark, sf, "documents"), "text", "doc_id", n=5)


@query(
    "dedup_segments",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), seg0 AS (
        SELECT doc_id, unnest(range(0, (len(toks) + 9) // 10)) AS seg_idx, toks
        FROM t
    ), segs AS (
        SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
               array_to_string(toks[(seg_idx*10+1):(seg_idx*10+10)], ' ') AS seg
        FROM seg0
    ), k AS (
        SELECT doc_id, seg_idx, seg,
               ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM segs
    ), re AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        FROM k WHERE rn = 1 GROUP BY doc_id
    )
    SELECT t.doc_id, CAST((len(toks) + 9) // 10 AS BIGINT) AS n_segments,
           COALESCE(re.n_kept, 0) AS n_kept,
           COALESCE(re.clean_text, '') AS clean_text
    FROM t LEFT JOIN re USING (doc_id)
    """,
)
def dedup_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide segment-level exact dedup (CCNet line dedup at
    10-word-window granularity): only the first occurrence of each
    distinct segment survives; documents are rebuilt from surviving
    segments. Two uniform-key shuffles (segment-digest min-struct +
    doc regroup); boilerplate skew collapses in map-side partial
    aggregation — see operators/curation.py segment_dedup."""
    from graphdbetl_spark.operators.curation import segment_dedup

    return segment_dedup(T(spark, sf, "documents"), "text", "doc_id", width=10)


@query(
    "decontaminate_bloom",
    oracle=r"""
    WITH split AS (
        SELECT doc_id, text,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
                   AS is_eval
        FROM documents
    ), t AS (
        SELECT doc_id, is_eval, string_split_regex(trim(text), '\s+') AS toks
        FROM split
    ), g AS (
        SELECT doc_id, is_eval,
               list_distinct(list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                        || toks[i+3] || ' ' || toks[i+4])) AS grams
        FROM t
    ), e AS (SELECT doc_id, is_eval, unnest(grams) AS gram FROM g),
    slot AS (
        SELECT doc_id, is_eval, gram, unnest(range(0, 3)) AS j FROM e
    ), pos AS (
        SELECT doc_id, is_eval, gram,
               ('0x' || substr(md5(gram), CAST(j*8+1 AS INT), 8))::BIGINT % 262144
                   AS pos
        FROM slot
    ), bloom AS (SELECT DISTINCT pos FROM pos WHERE is_eval),
    hit AS (
        SELECT DISTINCT p.doc_id
        FROM pos p JOIN bloom b USING (pos)
        WHERE NOT p.is_eval
        GROUP BY p.doc_id, p.gram
        HAVING COUNT(*) = 3
    )
    SELECT s.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM split s LEFT JOIN hit h USING (doc_id)
    WHERE NOT s.is_eval
    """,
)
def decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter benchmark decontamination: eval 5-grams set 3
    md5-slice bit positions in a 2^18 filter; a training doc is flagged
    when any gram finds all 3 set. The broadcast side is CAPPED at
    ~2 MB no matter how many benchmarks are enrolled (the exact-set
    form grows with the eval suite); false positives are deterministic
    md5 artifacts, replayed bit-for-bit by the oracle — see
    operators/curation.py bloom_decontaminate."""
    from graphdbetl_spark.operators.curation import bloom_decontaminate

    d = T(spark, sf, "documents")
    b = hash_bucket(F.col("doc_id"))
    return bloom_decontaminate(
        d.filter(b >= 10), "text", "doc_id", d.filter(b < 10), n=5
    )


@query(
    "curation_gopher_filter",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, len(toks) AS n,
               list_sum(list_transform(toks, x -> len(x))) AS total_len,
               len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS aw,
               len(list_intersect(list_distinct(toks),
                   ['the','be','to','of','and','that','have','with','a'])) AS stops
        FROM t
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_words,
           ROUND(CASE WHEN n > 0 THEN CAST(total_len AS DOUBLE) / n
                      ELSE 0 END, 4) AS mean_word_len,
           ROUND(CASE WHEN n > 0 THEN CAST(aw AS DOUBLE) / n
                      ELSE 0 END, 4) AS alpha_frac,
           CAST(stops AS BIGINT) AS n_stopwords,
           (n BETWEEN 50 AND 100000
            AND CAST(total_len AS DOUBLE) / n BETWEEN 3 AND 10
            AND CAST(aw AS DOUBLE) / n >= 0.8
            AND stops >= 2) AS passes
    FROM s
    """,
)
def curation_gopher_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 Table A1, the
    deterministic subset): word-count band, mean word length band,
    alphabetic-word fraction, stopword presence. Sits beside
    curation_c4_filter as the second standard rule set; all per-row
    array math in the scan stage, zero shuffles. See
    operators/curation.py gopher_quality."""
    from graphdbetl_spark.operators.curation import gopher_quality

    return gopher_quality(T(spark, sf, "documents"), "text", "doc_id")


@query(
    "dedup_url_canonical",
    oracle="""
    WITH u AS (
        SELECT doc_id,
            CASE CAST((doc_id // 50) % 5 AS INT)
              WHEN 0 THEN 'HTTP://WWW.' || upper(source)
                          || '.EXAMPLE.COM:80/docs/' || (doc_id % 50) || '/'
              WHEN 1 THEN 'http://www.' || source || '.example.com/docs/'
                          || (doc_id % 50) || '?utm_source=feed&utm_campaign=x'
              WHEN 2 THEN 'http://www.' || source || '.example.com/docs/'
                          || (doc_id % 50) || '#section-2'
              WHEN 3 THEN 'http://www.' || source || '.example.com/docs/'
                          || (doc_id % 50) || '?id=7&utm_medium=y'
              ELSE 'https://www.' || source || '.example.com:443/docs/'
                          || (doc_id % 50)
            END AS url
        FROM documents
    ), c AS (
        SELECT doc_id,
            -- replay of canonicalize_url: fragment, scheme/host lower,
            -- default port, utm params, separator debris, trailing /
            regexp_replace(url, '#.*$', '') AS u1
        FROM u
    ), p AS (
        SELECT doc_id,
            lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            lower(regexp_extract(regexp_replace(u1, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                                 '^([^/?]*)', 1)) AS hostport,
            regexp_replace(regexp_replace(u1, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                           '^[^/?]*', '') AS pathq
        FROM c
    ), q AS (
        SELECT doc_id, scheme,
            CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                 WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                 ELSE hostport END AS host,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                pathq, '([?&])utm_[a-z]+=[^&#]*', '\\1', 'g'),
                '&{2,}', '&', 'g'), '\\?&', '?'), '[?&]$', '') AS pq
        FROM p
    ), canon AS (
        SELECT doc_id,
            scheme || '://' || host
            || regexp_replace(regexp_extract(pq, '^([^?]*)', 1), '/$', '')
            || regexp_replace(pq, '^[^?]*', '') AS canon_url
        FROM q
    )
    SELECT canon_url, MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM canon GROUP BY canon_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """URL-canonicalization dedup — the first tier of a web-crawl
    pipeline: recrawl variants (uppercased scheme/host, default ports,
    tracking params, fragments, trailing slashes) collapse to one
    canonical URL before any content hashing runs. The corpus here
    attaches five deterministic messy variants across recrawls of the
    same (source, path) page; variants 0-2 canonicalize together,
    ?id=7 (real param) and https (real scheme change) stay distinct.
    One projection + one hash aggregation — exact-dedup's scale
    posture. See operators/curation.py canonicalize_url."""
    from graphdbetl_spark.operators.curation import dedup_url_groups

    d = T(spark, sf, "documents")
    k = (F.col("doc_id") % 50).cast("string")
    base = F.concat(F.lit("www."), F.col("source"), F.lit(".example.com"))
    v = (F.floor(F.col("doc_id") / 50) % 5).cast("int")
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("HTTP://WWW."), F.upper(F.col("source")),
                F.lit(".EXAMPLE.COM:80/docs/"), k, F.lit("/"),
            ),
        )
        .when(v == 1, F.concat(F.lit("http://"), base, F.lit("/docs/"), k,
                               F.lit("?utm_source=feed&utm_campaign=x")))
        .when(v == 2, F.concat(F.lit("http://"), base, F.lit("/docs/"), k,
                               F.lit("#section-2")))
        .when(v == 3, F.concat(F.lit("http://"), base, F.lit("/docs/"), k,
                               F.lit("?id=7&utm_medium=y")))
        .otherwise(F.concat(F.lit("https://"), base, F.lit(":443/docs/"), k))
    )
    return dedup_url_groups(d.select("doc_id", url.alias("url")), "url", "doc_id")


from graphdbetl_spark.operators.curation import logreg_train_oracle_sql as _lr_sql


@query("train_quality_classifier", oracle=_lr_sql(iters=10, lr=0.5))
def train_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """TRAIN the corpus quality classifier: 10 rounds of distributed
    batch gradient descent for logistic regression over four portable
    text features against a deterministic weak label — the training
    half of the fastText-style filter whose inference half is
    text_quality_classifier. One cached feature scan; each round is a
    single map-side-combined 5-sum aggregation (driver sees only the
    gradient). The ORACLE REPLAYS THE WHOLE TRAJECTORY as 10 unrolled
    CTE gradient steps, not just the final score. See
    operators/curation.py logreg_train_quality."""
    from graphdbetl_spark.operators.curation import logreg_train_quality

    return logreg_train_quality(
        T(spark, sf, "documents"), "text", "doc_id", iters=10, lr=0.5
    )


from graphdbetl_spark.operators.curation import (  # noqa: E402
    logreg_train_score_oracle_sql as _lrs_sql,
)


@query("score_quality_trained", oracle=_lrs_sql(iters=10, lr=0.5))
def score_quality_trained(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end train→score: fit the quality classifier (10 GD
    rounds, driver sees only gradients) and score EVERY document with
    the learned weights as plan literals — zero-shuffle scan-stage
    inference, the deployment shape (train on a sample, score the
    corpus). The oracle replays fit AND inference: unrolled gradient
    CTEs feeding a scoring select. See operators/curation.py
    _logreg_fit / logreg_score_trained."""
    from graphdbetl_spark.operators.curation import (
        _logreg_fit,
        logreg_score_trained,
    )

    d = T(spark, sf, "documents")
    w = _logreg_fit(d, "text", "doc_id", iters=10, lr=0.5)
    return logreg_score_trained(d, "text", "doc_id", w)


@query(
    "decontaminate_semantic",
    oracle="""
    WITH s AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
                   AS is_eval
        FROM embeddings
    ), u AS (
        SELECT vec_id, is_eval,
               list_transform(v, x -> x / sqrt(
                   list_reduce(list_transform(v, y -> y * y),
                               (acc, b) -> acc + b))) AS uv
        FROM s
    ), m AS (
        SELECT t.vec_id,
               max(list_reduce(list_transform(range(1, 65),
                               i -> t.uv[i] * e.uv[i]),
                               (acc, b) -> acc + b)) AS mx
        FROM u t JOIN u e ON e.is_eval AND NOT t.is_eval
        GROUP BY 1
    )
    SELECT vec_id, ROUND(mx, 6) AS max_eval_cosine, mx >= 0.35 AS contaminated
    FROM m
    """,
)
def decontaminate_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-tier benchmark decontamination: flag training vectors
    whose max cosine to the held-out eval split (md5 buckets 0-9)
    reaches 0.35 — catches paraphrased eval leakage that shares no
    5-gram with `decontaminate_ngrams`. Eval side in the kernel
    closure, corpus scanned once by a numpy mapInArrow kernel that
    emits each row's max (see operators/curation.py
    semantic_decontaminate)."""
    from graphdbetl_spark.operators.curation import semantic_decontaminate

    e = T(spark, sf, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    b = hash_bucket(F.col("vec_id"))
    return semantic_decontaminate(
        e.filter(b >= 10), e.filter(b < 10), "vec_id", "embedding", threshold=0.35
    )


@query(
    "decontaminate_semantic_ivf",
    oracle="""
    WITH s AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
                   AS is_eval
        FROM embeddings
    ), u AS (
        SELECT vec_id, is_eval,
               list_transform(v, x -> x / sqrt(
                   list_reduce(list_transform(v, y -> y * y),
                               (acc, b) -> acc + b))) AS uv
        FROM s
    ), d AS (
        SELECT uv AS cuv,
               row_number() OVER (
                   ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id) - 1
                   AS cell
        FROM u WHERE is_eval
        ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ), dots AS (
        SELECT u.vec_id, u.is_eval, d.cell,
               list_reduce(list_transform(range(1, 65),
                           i -> u.uv[i] * d.cuv[i]), (acc, b) -> acc + b) AS dt
        FROM u CROSS JOIN d
    ), easn AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dt DESC, cell) AS rn
            FROM dots WHERE is_eval) WHERE rn = 1
    ), probed AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dt DESC, cell) AS rn
            FROM dots WHERE NOT is_eval) WHERE rn <= 2
    ), m AS (
        SELECT p.vec_id,
               max(list_reduce(list_transform(range(1, 65),
                               i -> t.uv[i] * e.uv[i]),
                               (acc, b) -> acc + b)) AS mx
        FROM probed p
        JOIN easn a ON a.cell = p.cell
        JOIN u t ON t.vec_id = p.vec_id
        JOIN u e ON e.vec_id = a.vec_id
        GROUP BY 1
    )
    SELECT vec_id, ROUND(mx, 6) AS max_eval_cosine, mx >= 0.35 AS contaminated
    FROM m
    """,
)
def decontaminate_semantic_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-cell-restricted semantic decontamination — the scale path
    for eval suites that GROW with the corpus (r8 verdict #3): eval
    vectors bucket into 8 md5-sampled eval-side coarse cells, each
    training vector scores only the eval members of its 2 max-dot
    cells (~1/4 of the exact form's pair work, shrinking further as
    cells scale with the eval set). The whole restriction — centroid
    sampling, eval assignment, train probing, candidate max — replays
    in the oracle (the sim_ivf_topk discipline), so the approximation
    itself is attested, with `decontaminate_semantic` kept as the
    exact recall floor. See operators/curation.py
    semantic_decontaminate_ivf."""
    from graphdbetl_spark.operators.curation import semantic_decontaminate_ivf

    e = T(spark, sf, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    b = hash_bucket(F.col("vec_id"))
    return semantic_decontaminate_ivf(
        e.filter(b >= 10), e.filter(b < 10), "vec_id", "embedding", threshold=0.35
    )


@query(
    "decontaminate_semantic_ivf_auto",
    oracle="""
    WITH ev AS (
        SELECT vec_id FROM embeddings
        WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_twins,
           CAST(COUNT(*) AS BIGINT) AS exact_flagged,
           true AS lower_bound_ok, true AS subset_ok,
           true AS flagged_subset_ok, true AS recall_ok
    FROM ev
    """,
)
def decontaminate_semantic_ivf_auto(spark: SparkSession, sf: str) -> DataFrame:
    """Driver attestation for IVF `n_cells="auto"` — the production
    target-cell-size scaling rule (r10 verdict #3): the r10 pytest
    properties lifted into the plan, oracle-asserted literally true.

    Fixture construction, in-plan and deterministic: eval = the 10%
    md5-bucket slice of embeddings; corpus = the other 90% (clean —
    isotropic vectors, cosine far below 0.9) UNION one CONTAMINATED
    TWIN per eval vector (±1% per-coordinate deterministic
    perturbation, cosine ≈ 0.9999 to its eval source). This is the
    clustered regime the IVF restriction exists for — on isotropic
    data ANY cell restriction loses recall by construction
    (docs/SCALING.md's 0%-pruning measurement; the real-fixture
    recall at threshold 0.35 is ~0.5 and is NOT a defect, which is
    why the attested recall floor lives on the twin shape, exactly
    like tests/test_r10_ops.py's clustered fixture).

    Attested booleans (exact form computed in the same plan):
      lower_bound_ok    — IVF max_eval_cosine ≤ exact max per vector
      subset_ok         — IVF output vectors ⊆ exact output vectors
      flagged_subset_ok — IVF contaminated ⊆ exact contaminated
      recall_ok         — IVF recalls ≥ 75% of exact's flagged set at
                          n_probe=2 (pytest floor 0.80 at the same
                          probe count on 24-cluster data; 0.75 leaves
                          margin for md5-sampled-centroid near-ties)
    plus exact_flagged as a VALUE the oracle predicts independently:
    every twin must be flagged and no clean vector can reach 0.9, so
    exact_flagged = |eval| — a broken cosine kernel, perturbation, or
    threshold comparison breaks the count match, not just a boolean."""
    from graphdbetl_spark.operators.curation import (
        semantic_decontaminate,
        semantic_decontaminate_ivf,
    )

    e = T(spark, sf, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    b = hash_bucket(F.col("vec_id"))
    ev = e.filter(b < 10).select("vec_id", "embedding")
    clean = e.filter(b >= 10).select("vec_id", "embedding")
    twins = ev.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            * (1.0 + 0.01 * (((F.col("vec_id") + i) % 3).cast("double") - 1.0)),
        ).alias("embedding"),
    )
    corpus = clean.unionByName(twins)
    # NOTE (r11): exact is consumed twice (comparison join +
    # exact_stats), but materializing it LOST the paired A/B at sf0.1
    # (2.9 -> 3.2 s, 3.2 -> 4.2 s) — the second derivation is cheaper
    # than the eager checkpoint job. Left unmaterialized.
    exact = semantic_decontaminate(
        corpus, ev, "vec_id", "embedding", threshold=0.9
    )
    ivf = semantic_decontaminate_ivf(
        corpus, ev, "vec_id", "embedding", threshold=0.9, n_cells="auto"
    )
    ex = exact.select(
        "vec_id",
        F.col("max_eval_cosine").alias("__emx"),
        F.col("contaminated").alias("__ec"),
    )
    iv = ivf.select(
        "vec_id",
        F.col("max_eval_cosine").alias("__imx"),
        F.col("contaminated").alias("__ic"),
    )
    j = iv.join(ex, "vec_id", "left")
    # Over no rows a sum or max is NULL, and so is every comparison on
    # it; coalesce each to its identity (0 flags, no gap) so an empty
    # embeddings table attests true like the oracle.
    ivf_stats = j.agg(
        F.coalesce(F.sum(F.col("__emx").isNull().cast("long")), F.lit(0)).alias("__orphans"),
        F.coalesce(F.max(
            F.coalesce(F.col("__imx") - F.col("__emx"), F.lit(1.0))
        ), F.lit(0.0)).alias("__maxgap"),
        F.coalesce(F.sum(
            (F.col("__ic") & ~F.coalesce(F.col("__ec"), F.lit(False)))
            .cast("long")
        ), F.lit(0)).alias("__false_flags"),
        F.coalesce(F.sum(F.col("__ic").cast("long")), F.lit(0)).alias("__ivf_flagged"),
    )
    exact_stats = exact.agg(
        F.coalesce(F.sum(F.col("contaminated").cast("long")), F.lit(0)).alias("exact_flagged")
    )
    n_twins = ev.agg(F.count(F.lit(1)).cast("long").alias("n_twins"))
    return (
        n_twins.crossJoin(exact_stats)
        .crossJoin(ivf_stats)
        .select(
            "n_twins",
            F.col("exact_flagged").cast("long").alias("exact_flagged"),
            (F.col("__maxgap") <= 1e-9).alias("lower_bound_ok"),
            (F.col("__orphans") == 0).alias("subset_ok"),
            (F.col("__false_flags") == 0).alias("flagged_subset_ok"),
            (F.col("__ivf_flagged") >= 0.75 * F.col("exact_flagged")).alias(
                "recall_ok"
            ),
        )
    )


@query(
    "select_importance_resampling",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang = 'en' AS is_t,
               unnest(string_split_regex(trim(text), '\\s+')) AS tk
        FROM documents
    ), cnt AS (
        SELECT tk, CAST(count(*) FILTER (is_t) AS BIGINT) AS ct,
               CAST(count(*) AS BIGINT) AS cc
        FROM tok GROUP BY tk
    ), tots AS (
        SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cc) AS BIGINT) AS tc,
               CAST(count(*) AS BIGINT) AS v
        FROM cnt
    ), lm AS (
        SELECT tk, ln((ct + 1) / CAST(tt + v AS DOUBLE))
                 - ln((cc + 1) / CAST(tc + v AS DOUBLE)) AS w
        FROM cnt, tots
    ), dw AS (
        SELECT t.doc_id, ROUND(avg(w), 6) AS importance_weight
        FROM tok t JOIN lm USING (tk) WHERE NOT t.is_t GROUP BY 1
    ), sel AS (
        SELECT doc_id, importance_weight,
               row_number() OVER (ORDER BY importance_weight DESC, doc_id)
                   AS rnk
        FROM dw
    )
    SELECT doc_id, importance_weight, CAST(rnk AS INT) AS rank
    FROM sel WHERE rnk <= 100
    """,
)
def select_importance_resampling(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style data selection: rank non-English candidate documents
    by average per-token log-likelihood ratio between the
    English-target unigram LM and the whole-corpus LM (both fitted
    in-plan from ONE shared token-count shuffle) and keep the top 100
    — distribution matching against a target domain, the step beyond
    hand-rule gates (see operators/curation.py importance_resample)."""
    from graphdbetl_spark.operators.curation import importance_resample

    return importance_resample(
        T(spark, sf, "documents"), "text", "doc_id", F.col("lang") == "en", k=100
    )


def _ccnet_oracle() -> str:
    """Composed from the already-green text_bigram_logprob oracle (the
    _hygiene_oracle pattern: fetched from the registry at import so a
    component fix propagates automatically; llm_q registers before
    this module in _FAMILY_MODULES)."""
    from graphdbetl_spark.plans import llm_q  # noqa: F401  (register)
    from graphdbetl_spark.plans.registry import REGISTRY

    bigram = REGISTRY["text_bigram_logprob"].oracle
    return f"""
    WITH bl AS ({bigram}),
    j AS (
        SELECT bl.doc_id, d.lang, bl.mean_logprob
        FROM bl JOIN documents d USING (doc_id)
    ), t AS (
        SELECT doc_id, lang,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY mean_logprob DESC, doc_id) AS b
        FROM j
    )
    SELECT doc_id, lang,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket
    FROM t
    """


@query("curation_ccnet_buckets", oracle=_ccnet_oracle())
def curation_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per-language head / middle /
    tail terciles by corpus-trained bigram-LM score (Wenzek et al.
    2020's curation signal — train on head+middle, keep tail for
    ablation, instead of a hard drop). The tercile orders on the
    ROUNDED emitted score with id tiebreak, so bucket edges replay
    exactly; only the (id, score) pair enters the per-language sort —
    corpus text never reaches the window. See operators/curation.py
    ccnet_perplexity_buckets (docstring covers the approx-cutpoint
    form for beyond-single-sort scale)."""
    from graphdbetl_spark.operators.curation import ccnet_perplexity_buckets

    return ccnet_perplexity_buckets(
        T(spark, sf, "documents"), "text", "doc_id", "lang"
    )


@query(
    "curation_ccnet_buckets_approx",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           true AS agreement_ok, true AS off_by_one_ok
    FROM documents GROUP BY lang
    """,
)
def curation_ccnet_buckets_approx(spark: SparkSession, sf: str) -> DataFrame:
    """Driver attestation for the PRODUCTION ccnet bucketing form
    (r10 verdict #2, the agg_approx_bounds discipline): run the
    approx-cutpoint form (`ccnet_perplexity_buckets_approx` — GK
    sketch cutpoints, NO per-language sort task, the shape that holds
    when one language is 60% of 100 TB) next to the exact ntile
    terciles IN THE SAME PLAN, and emit per-language booleans the
    oracle asserts literally true:

      agreement_ok  — ≥95% of documents land in the same bucket
      off_by_one_ok — every disagreement is between ADJACENT buckets
                      (head↔middle or middle↔tail, never head↔tail)

    Both properties follow from the GK rank bound (rank error ≤
    n/accuracy at accuracy=10k) plus score-tie splitting on a
    non-degenerate score distribution; a sketch drifting out of its
    bound, a broken cutpoint comparison, or a bucket-orientation bug
    flips a boolean and breaks the driver hash. The LM scoring subtree
    is computed once per form here (attestation entry, sf0.01); the
    production pipeline runs only the approx form. Exact form stays
    the value-level tercile oracle (`curation_ccnet_buckets`)."""
    from graphdbetl_spark.operators.curation import (
        bigram_logprob,
        ccnet_perplexity_buckets,
        ccnet_perplexity_buckets_approx,
    )

    d = T(spark, sf, "documents")
    # ONE LM-scoring subtree for both forms (r11): score once, join
    # lang, materialize the doc-sized (id, score, lang) table, and
    # feed it to the exact ntile AND the GK-cutpoint form — the two
    # independent calls each built their own full bigram-LM subtree
    # (two c2 checkpoints, two scoring joins) for identical values.
    scored_langs = (
        bigram_logprob(d, "text", "doc_id")
        .join(d.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=True)
    )
    exact = ccnet_perplexity_buckets(
        d, "text", "doc_id", "lang", scored_langs=scored_langs
    )
    approx = ccnet_perplexity_buckets_approx(
        d, "text", "doc_id", "lang", scored_langs=scored_langs
    ).withColumnRenamed("bucket", "bucket_approx")

    def _idx(col: str):  # bucket -> ordinal, for the adjacency check
        return (
            F.when(F.col(col) == "head", F.lit(1))
            .when(F.col(col) == "middle", F.lit(2))
            .otherwise(F.lit(3))
        )

    j = exact.join(approx.select("doc_id", "bucket_approx"), "doc_id")
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("bucket") == F.col("bucket_approx")).cast("long")
            ).alias("__agree"),
            F.max(F.abs(_idx("bucket") - _idx("bucket_approx"))).alias(
                "__maxgap"
            ),
        )
        .select(
            "lang",
            "n_docs",
            (F.col("__agree") >= 0.95 * F.col("n_docs")).alias("agreement_ok"),
            (F.col("__maxgap") <= 1).alias("off_by_one_ok"),
        )
    )
