"""Training-corpus curation operators: benchmark decontamination,
PII scrubbing, deterministic global shuffle, and intra-document
repetition scoring.

North-star extensions (BASELINE.json): the reference streams rows into
a graph store (`graph_db_builder.py:491-543`) with no notion of corpus
hygiene; these are the operations a large-scale training-data pipeline
layers on top of that ingest path. All are pure DataFrame algebra —
whole-stage-codegen expressions plus at most one shuffle each.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from graphdbetl_spark.operators.dedup import _tokens, _word_ngram_hashes, _word_ngrams
from graphdbetl_spark.operators.skew import fan, iterate_partitions, pinned

# PII patterns chosen to be portable between Java regex (Spark) and
# RE2 (DuckDB oracle): no lookarounds, no backreferences.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def decontaminate_against_eval(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag every candidate-training document
    that shares at least one word ``n``-gram with any document in
    ``eval_df`` (the held-out benchmark set).

    Scale shape: the eval set is tiny relative to the corpus (benchmarks
    are a few MB against 100 TB of training data), so its distinct-gram
    set is BROADCAST and contamination detection is a map-side semi-join
    — the corpus is scanned once, never shuffled. Grams are reduced to
    64-bit xxhash64 fingerprints before the join (the standard n-gram
    hashing treatment): the broadcast hash table carries 8-byte longs
    instead of ~40-byte strings — ~10× smaller build/ship/probe — at a
    false-positive rate of ~|eval|·|corpus|/2^64, vanishing against the
    filter's own n-gram-overlap noise.

    The broadcast is ADAPTIVE: AQE broadcasts the eval-gram set when
    its measured size allows and falls back to a shuffle semi-join when
    it doesn't — a forced broadcast measured 36× wall at 30× corpus on
    the synthetic benchmark (whose eval split grows with the corpus)
    and is a driver-OOM hazard whenever the eval side isn't actually
    small.

    Returns (id_col, contaminated: boolean) for candidate documents.
    """
    grams = F.array_distinct(_word_ngram_hashes(_tokens(F.col(text_col)), n))
    eval_grams = eval_df.select(F.explode(grams).alias("gfp")).distinct()
    doc_grams = fan(df, id_col).select(
        F.col(id_col), F.explode(grams).alias("gfp")
    )
    contaminated = (
        doc_grams.join(eval_grams, "gfp", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(contaminated, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


def repeated_ngram_coverage(
    df: DataFrame, text_col: str, id_col: str, n: int = 5, min_df: int = 2
) -> DataFrame:
    """Cross-document repeated n-gram signal (the corpus-level dedup
    statistic behind suffix-array substring dedup, Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): per
    document, how many of its distinct word ``n``-grams appear in at
    least ``min_df`` documents corpus-wide, and the covered fraction —
    the thresholding signal for dropping boilerplate-heavy documents.

    Scale shape: grams reduce to 64-bit xxhash64 fingerprints at the
    scan; document frequency is one partial-agg shuffle on the
    fingerprint; then — the load-bearing step — the df table is
    FILTERED to grams with df ≥ min_df *before* the join back. In real
    corpora the overwhelming majority of n-grams are unique, so the
    join's build side shrinks from vocabulary-sized to
    repeated-vocabulary-sized, usually small enough for AQE to
    broadcast (eliminating the probe-side shuffle entirely; when it
    stays a shuffle join, AQE's skew split handles hot grams). Joining
    the UNFILTERED vocabulary measured 14.6× wall at 10× corpus on the
    throughput harness; filtered, the same step is ~linear. The final
    per-doc rollup combines map-side to ~one row per document.

    Returns (id_col, n_grams, n_repeated, repeated_frac); zero-gram
    documents survive with zeros via ``explode_outer``.
    """
    grams = F.array_distinct(_word_ngram_hashes(_tokens(F.col(text_col)), n))
    ex = fan(df, id_col).select(
        F.col(id_col), F.explode_outer(grams).alias("gfp")
    )
    repeated = (
        ex.filter(F.col("gfp").isNotNull())
        .groupBy("gfp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gfp", F.lit(1).alias("__rep"))
    )
    flagged = ex.join(repeated, "gfp", "left")
    n_grams = F.count("gfp")
    n_repeated = F.count("__rep")
    return (
        flagged.groupBy(id_col)
        .agg(n_grams.alias("n_grams"), n_repeated.alias("n_repeated"))
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.col("n_repeated"),
            F.when(
                F.col("n_grams") > 0,
                F.round(F.col("n_repeated") / F.col("n_grams"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("repeated_frac"),
        )
    )


def scrub_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Redact email / phone / IPv4 literals and count redactions.

    One projection, zero shuffles: chained ``regexp_replace`` plus
    ``regexp_extract_all`` counts, all JVM-side codegen. Patterns in
    ``PII_PATTERNS`` are RE2-compatible so the DuckDB oracle replays
    them verbatim.
    """
    scrubbed: Column = F.col(text_col)
    n_redactions: Column = F.lit(0)
    for pat, repl in PII_PATTERNS:
        n_redactions = n_redactions + F.size(
            F.regexp_extract_all(scrubbed, F.lit(pat), 0)
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed_text"),
        n_redactions.cast("long").alias("n_redactions"),
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str, seed: str = "42", shards: int = 8
) -> DataFrame:
    """Seeded, engine-reproducible global shuffle for training-order
    assignment: shuffle key = md5(seed ':' id); shard = key bucket;
    pos = rank of the key within the shard.

    Scale shape: no global sort — one hash shuffle on ``shard`` and a
    within-shard sort, so each of the ``shards`` output streams is
    independently ordered (exactly how a 100 TB corpus is consumed by
    N parallel data loaders). Reshuffling = changing ``seed``.
    """
    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % shards).cast("int")
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.select(F.col(id_col), key.alias("shuffle_key"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Gopher-style intra-document repetition signal: the fraction of
    word ``n``-grams that are duplicates of an earlier n-gram in the
    same document. High values indicate boilerplate/spam; the standard
    pretraining quality filter thresholds on it.

    Pure per-row array expressions — no shuffle, no UDF.
    """
    grams = _word_ngram_hashes(_tokens(F.col(text_col)), n)
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    dup_frac = F.when(
        n_grams > 0, F.round((n_grams - n_distinct) / n_grams, 6)
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_grams.cast("long").alias("n_grams"),
        dup_frac.alias("dup_frac"),
    )


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """LM-based quality signal in the CCNet mold (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document by the mean log10 probability of its
    tokens under the corpus's OWN unigram language model — the cheap,
    fully-distributed stand-in for perplexity filtering (low scores =
    rare-token-heavy gibberish; implausibly high = boilerplate).

    Scale shape: pass 1 estimates the LM — token counts via one
    partial-agg shuffle on the token (map-side combine collapses each
    partition's duplicates first); the corpus-total is a one-row
    broadcast. Pass 2 joins the vocabulary back to the exploded corpus
    with the strategy left to AQE — broadcast when the vocab fits,
    shuffle join with skew-split at billion-token vocabulary (the
    text_tfidf_top_term posture) — then one per-document partial agg.
    Nothing driver-side, no UDF.

    Returns (id_col, n_tokens, mean_logprob) with mean_logprob rounded
    to 6 decimals (values are O(1); double accumulation noise across
    engines is ~1e-13).
    """
    toks = _tokens(F.col(text_col))
    ex = fan(df, id_col).select(
        F.col(id_col), F.explode(toks).alias("tok")
    )
    cnt = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("__c"))
    total = cnt.agg(F.sum("__c").alias("__t"))
    lm = cnt.crossJoin(F.broadcast(total)).select(
        "tok", F.log10(F.col("__c") / F.col("__t")).alias("__lp")
    )
    return (
        ex.join(lm, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__lp"), 6).alias("mean_logprob"),
        )
    )


def bpe_learn_merges(
    df: DataFrame, text_col: str, k_merges: int = 5, batch_m: int = 1
) -> list[tuple[int, str, str, str]]:
    """Learn the first ``k_merges`` BPE merge rules from a corpus
    (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    with Subword Units") — the tokenizer-training loop, distributed:

    word frequencies aggregate once (one shuffle; the working set is
    the VOCABULARY, not the corpus, from then on); each round counts
    adjacent symbol pairs weighted by word frequency (explode →
    partial-agg), takes the arg-max pairs via TakeOrderedAndProject
    (ties to the lexicographically smallest pair — deterministic on
    any engine), and rewrites the symbol arrays with a greedy
    left-to-right fold (aggregate over the symbol array; "aaa" + (a,a)
    → ["aa","a"], the reference greedy semantics). The driver sees at
    most 4·batch_m+1 rows per round — candidate pairs — the same
    bounded driver-data contract as the PageRank loop.

    ``batch_m`` bounds the DRIVER ROUND COUNT — the scale lever the r4
    verdict flagged: with batch_m=1 (default; exact Sennrich
    semantics, one Spark job per merge) a real 30k-merge vocabulary is
    30k sequential jobs. batch_m=M applies up to M CONFLICT-FREE pairs
    per round (no two chosen pairs share a symbol, and no chosen pair
    consumes another's merged output), so their rewrites commute and
    one rewrite pass applies them all — the standard parallel-BPE
    compromise: round count drops to ~k/M while each round's chosen
    pairs are still counted against the true current vocabulary. The
    within-round counts are one recount staler than classic BPE, so
    for M>1 the sequence may deviate from Sennrich order when a merge
    materially changes an unrelated pair's count mid-round (rare in
    natural text; pytest pins M>1 against a batched pure-Python
    reference and M=1 against the classic one).

    Returns the learned merge table [(rank, left, right, merged)];
    wrap in ``spark.createDataFrame`` for a queries() surface.
    """
    words = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.filter(F.split("w", ""), lambda c: c != ""))
        .select("freq", "syms")
    )
    cur = words.localCheckpoint(eager=True)  # vocabulary-sized, not corpus-sized
    merges: list[tuple[int, str, str, str]] = []
    while len(merges) < k_merges:
        n = F.size("syms")
        pairs = cur.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.greatest(n - 1, F.lit(0))),
                    F.slice("syms", 2, F.greatest(n - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        want = min(batch_m, k_merges - len(merges))
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.l"), F.col("p.r"))
            .limit(4 * want + 1)
            .collect()  # bounded: <= 4*batch_m+1 candidate rows per round
        )
        if not top:
            break
        # greedy conflict-free selection down the ranked candidates:
        # two pairs conflict when they share a symbol OR one consumes
        # the other's merged output — disjointness makes the rewrites
        # commute, so one pass can apply the whole batch. The top-1
        # candidate never conflicts, so every round makes progress.
        batch: list[tuple[str, str, str]] = []
        taken: set[str] = set()
        for row in top:
            if len(batch) == want:
                break
            left, right = row["p"]["l"], row["p"]["r"]
            merged = left + right
            if {left, right, merged} & taken:
                continue
            batch.append((left, right, merged))
            taken |= {left, right, merged}
        for left, right, merged in batch:
            merges.append((len(merges), left, right, merged))
        def _merge_step(left: str, right: str, merged: str):
            # closure factory: PySpark inspects lambda arity, so the
            # pair must bind via closure, not default args
            def step(acc, s):
                return F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (s == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                    ),
                ).otherwise(F.concat(acc, F.array(s)))

            return step

        rewritten = F.col("syms")
        for left, right, merged in batch:
            rewritten = F.aggregate(
                rewritten,
                F.expr("cast(array() as array<string>)"),
                _merge_step(left, right, merged),
            )
        # localCheckpoint per round: keeps the plan flat (no nested
        # fold lineage) and each round's rewrite runs once
        cur = cur.select("freq", rewritten.alias("syms")).localCheckpoint(eager=True)
    return merges


def bpe_apply_merges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[int, str, str, str]],
) -> DataFrame:
    """Apply learned BPE merge rules to a corpus — the tokenize step
    paired with :func:`bpe_learn_merges`: each word starts as its
    character sequence and every merge applies in rank order with the
    same greedy left-to-right semantics the learner used. The merge
    table ships in the kernel closure, exactly how a trained tokenizer
    ships to a 1000-executor tokenization job.

    The apply is an Arrow kernel using the ORACLE'S OWN formulation:
    each word encodes as D<sym>DD<sym>D… (D = \\x1f, absent from the
    corpus by the same contract the oracle already relies on), words
    join on \\x1e, and one merge (l, r) is ONE left-to-right
    non-overlapping ``str.replace`` of D<l>DD<r>D with D<lr>D — proven
    equivalent to the greedy symbol fold by the green oracle replays.
    The previous nested-HOF form (per word × per merge × per symbol,
    rebuilding an array per element) exceeded 870 s at the 100×
    replica; the kernel's C-speed replaces take seconds. All outputs
    are integers — no float-parity surface at all. Tokenization
    semantics mirror the JVM/RE2 pair exactly: trim strips spaces
    only, the split is ASCII ``\\s+``, empty tokens drop.

    Returns (id_col, n_words, n_subwords) — the before/after token
    budget, the number a dataloader actually consumes.
    """
    import re

    import pyarrow as pa

    d_, w_ = "\x1f", "\x1e"
    rules = [
        (d_ + left + d_ + d_ + right + d_, d_ + merged + d_)
        for _, left, right, merged in merges
    ]
    ws_re = re.compile(r"\s+", re.ASCII)

    def kern(batches):
        for rb in batches:
            nw, ns = [], []
            for t in rb.column(text_col).to_pylist():
                words = [w for w in ws_re.split((t or "").strip(" ")) if w]
                nw.append(len(words))
                enc = w_.join(d_ + (d_ + d_).join(w) + d_ for w in words)
                for pat, rep in rules:
                    enc = enc.replace(pat, rep)
                ns.append(enc.count(d_) // 2)
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col), pa.array(nw, pa.int64()), pa.array(ns, pa.int64())],
                names=[id_col, "n_words", "n_subwords"],
            )

    src = fan(df, id_col).select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(
        kern, schema=f"{id_col} {id_type}, n_words long, n_subwords long"
    )


def chunk_text(
    df: DataFrame,
    text_col: str,
    id_col: str,
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Split documents into overlapping fixed-width character chunks
    (``size`` chars every ``stride`` chars) — the standard context-window
    prep for long documents before tokenization/embedding.

    Implemented as sequence → explode → substring, all codegen'd array
    expressions: no UDF, no shuffle — the fan-out happens inside the
    scan stage, so at 100 TB it parallelizes with the input partitions
    and never materializes a per-document list on the driver.

    Replaces nothing in the reference (it has no document model); part
    of the north-star training-data surface.

    Returns (id_col, chunk_id, chunk_text); chunk_id is 0-based.
    """
    n_starts_minus1 = f"greatest(length({text_col}) - 1, 0) div {stride}"
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.expr(f"sequence(bigint(0), bigint({n_starts_minus1}))")
            ).alias("__start"),
        )
        .select(
            F.col(id_col),
            F.col("__start").cast("int").alias("chunk_id"),
            F.expr(
                f"substring({text_col}, int(__start) * {stride} + 1, {size})"
            ).alias("chunk_text"),
        )
    )


def repeated_ngram_scrub(
    df: DataFrame, text_col: str, id_col: str, n: int = 5, min_df: int = 2
) -> DataFrame:
    """Remove cross-document repeated n-gram SPANS from document text —
    the removal step of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr) at word-n-gram granularity: a token is scrubbed when
    any n-gram covering it occurs in at least ``min_df`` distinct
    documents corpus-wide. Complements
    :func:`repeated_ngram_coverage`, which only *measures* the overlap.

    Scale shape: positional n-grams reduce to 64-bit xxhash64
    fingerprints at the scan; document frequency is one distinct +
    partial-agg shuffle on the fingerprint; the df table is filtered to
    grams with df >= min_df BEFORE joining back (repeated vocabulary is
    a sliver of total vocabulary, so AQE can broadcast it and the probe
    side never shuffles); repeated-gram start positions then collapse
    to ONE array row per affected document, and the final text rebuild
    is a zero-shuffle higher-order filter over the token array — no
    token-level explode ever reaches a shuffle.

    Returns (id_col, n_tokens, n_removed, scrubbed_text); documents
    with nothing scrubbed survive with their text reassembled
    (single-space normalized) and n_removed = 0.
    """
    df = fan(df, id_col)
    gh = _word_ngram_hashes(_tokens(F.col(text_col)), n)
    # Document frequency WITHOUT a (doc, gram) distinct exchange: dedup
    # gram fingerprints doc-locally (array_distinct in the scan
    # projection), so post-explode rows are already unique per document
    # and one partial-agg count IS the df — the corpus-wide distinct
    # shuffle the previous form paid is gone.
    rep = (
        df.select(F.explode(F.array_distinct(gh)).alias("gfp"))
        .groupBy("gfp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gfp")
    )
    ex = df.select(F.col(id_col), F.posexplode(gh).alias("p0", "gfp")).select(
        F.col(id_col), (F.col("p0") + 1).alias("pos"), "gfp"
    )
    starts = (
        ex.join(rep, "gfp", "left_semi")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("__starts"))
    )
    out = df.join(starts, id_col, "left")
    toks = _tokens(F.col(text_col))
    sarr = F.coalesce(F.col("__starts"), F.expr("array()").cast("array<int>"))
    covered = lambda p: F.exists(sarr, lambda s: (p >= s) & (p <= s + F.lit(n - 1)))  # noqa: E731
    kept = F.filter(toks, lambda x, i: ~covered(i + 1))
    n_tokens = F.size(toks)
    return out.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        (n_tokens - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


def segment_dedup(
    df: DataFrame, text_col: str, id_col: str, width: int = 10
) -> DataFrame:
    """Segment-level exact dedup across the corpus (the CCNet line-dedup
    operation at fixed word-window granularity, Wenzek et al. 2020):
    split every document into consecutive ``width``-word segments, keep
    only the corpus-wide FIRST occurrence of each distinct segment
    (first = smallest (doc_id, seg_idx)), and reassemble documents from
    their surviving segments. Complements :func:`repeated_ngram_scrub`
    (which removes spans covered by repeated n-grams anywhere): segment
    dedup is the cheaper, alignment-sensitive form production web
    pipelines run first — boilerplate lines/headers collapse to one
    retained copy corpus-wide.

    Scale shape: segmentation is an in-stage array projection (no
    token-level explode survives to a shuffle); choosing keepers is ONE
    hash-partitioned aggregation on the 16-byte segment digest
    (min-struct, no window); document reassembly is one regroup by
    doc_id. Two shuffles total, both on uniform keys — hot segments
    (the very boilerplate being removed) collapse in the map-side
    partial min, so segment skew does not concentrate reduce work.

    Returns (id_col, n_segments, n_kept, clean_text); documents whose
    every segment appeared earlier elsewhere survive with
    clean_text = '' and n_kept = 0.
    """
    toks = _tokens(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(width)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
    )
    ex = (
        fan(df, id_col)
        .select(F.col(id_col), F.posexplode(segs).alias("seg_idx", "seg"))
    )
    keepers = (
        ex.groupBy(F.md5("seg").alias("__h"))
        .agg(F.min(F.struct(F.col(id_col), F.col("seg_idx"), F.col("seg"))).alias("__k"))
        .select(
            F.col(f"__k.{id_col}").alias(id_col),
            F.col("__k.seg_idx").alias("seg_idx"),
            F.col("__k.seg").alias("seg"),
        )
    )
    rebuilt = keepers.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s.seg,
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col), n_segs.cast("long").alias("n_segments"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_segments",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


BLOOM_M = 1 << 18  # bits in the filter
BLOOM_K = 3  # hash functions (independent 32-bit md5 slices)


def bloom_decontaminate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    n: int = 5,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Benchmark decontamination through a Bloom filter instead of the
    exact eval-gram set (:func:`decontaminate_against_eval`): the eval
    split's word ``n``-grams set ``k`` bit positions each (independent
    32-bit md5 slices mod ``m``) and a training document is flagged
    when ANY of its grams finds all ``k`` of its positions set.

    Why this exists at 100 TB: the exact form's broadcast grows with
    the eval suite (every new benchmark adds grams); the Bloom set is
    CAPPED at ``m`` distinct positions (2^18 ints ≈ 2 MB) no matter how
    many benchmarks are enrolled, so the corpus-side probe stays a
    bounded map-side join forever. The price is a deterministic,
    quantifiable false-positive rate ≈ (1-(1-1/m)^(k·|G|))^k —
    over-flagging only, never under-flagging (no contaminated document
    escapes), which is the safe direction for decontamination. Because
    the positions come from md5, the filter — false positives included
    — replays bit-for-bit in any md5-capable engine.

    Returns (id_col, contaminated) for the candidate-training split.
    """
    grams = F.array_distinct(_word_ngrams(_tokens(F.col(text_col)), n))
    slots = lambda g: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.conv(F.substring(F.md5(g), j * 8 + 1, 8), 16, 10).cast("long")
        % F.lit(m),
    )
    bloom = (
        eval_df.select(F.explode(grams).alias("g"))
        .select(F.explode(slots(F.col("g"))).alias("pos"))
        .distinct()
    )
    doc_slots = (
        fan(df, id_col)
        .select(F.col(id_col), F.posexplode(grams).alias("gidx", "g"))
        .select(F.col(id_col), F.col("gidx"), F.explode(slots(F.col("g"))).alias("pos"))
    )
    hits = (
        doc_slots.join(bloom, "pos", "left_semi")
        .groupBy(id_col, "gidx")
        .agg(F.count(F.lit(1)).alias("__set"))
        .filter(F.col("__set") == k)
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


def char_entropy(
    df: DataFrame, text_col: str, id_col: str, low: float = 2.5
) -> DataFrame:
    """Character-level Shannon entropy gate — the cheap gibberish /
    degenerate-repetition detector (low entropy = few distinct
    characters dominating: keyboard mashing, padding runs, base64
    blobs sit HIGH, 'aaaa…' sits near 0). Complements the word-level
    Gopher/C4 rules, which miss sub-word degeneracy.

    Scale shape: explode chars in the scan stage, then TWO codegen
    hash aggregations — per-(doc, char) counts (map-side combine
    compresses the exploded stream to |docs|·|alphabet| before the
    exchange) and a per-doc fold of Σ cnt·ln cnt; entropy follows from
    the identity H = ln n − (Σ cnt·ln cnt)/n. This replaces the r4
    sort + run-length HOF fold: an `aggregate` with a struct
    accumulator NEVER enters whole-stage codegen (HOFs are interpreted
    unconditionally), and the interpreted per-char fold measured 65.6 s
    for 150M chars at the 100× replica where the exploded hash-agg
    form runs the identical arithmetic in codegen in 11.9 s. The
    shuffled volume is bounded by |docs|·|alphabet| — ~40 chars per
    doc — not corpus characters, so the trade holds at 100 TB.
    Returns (id_col, n_chars, n_distinct_chars, entropy, low_entropy)
    with entropy rounded to 6; each cnt·ln cnt term is bit-identical
    to the old fold's, only the summation order changes (hash-agg vs
    sorted-run walk), the same ~1e-15 accumulation-noise class the
    round-6 contract with the oracle's ratio form already absorbs."""
    df = fan(df, id_col)
    # split('','') yields [''] — size 1 — so an empty document would
    # report n_chars=1 and count '' as a character, diverging from the
    # oracle's len(text)=0 (r4 ADVICE). length() is the ground truth;
    # the '' filter below and the left-join coalesce keep degenerate
    # rows at (0, 0, 0.0).
    base = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.col(text_col).alias("__t"),
    )
    cnt = (
        base.select(id_col, F.explode(F.split(F.col("__t"), "")).alias("__c"))
        .filter(F.col("__c") != "")
        .groupBy(id_col, "__c")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    stats = cnt.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__dc"),
        F.sum(F.col("__n") * F.log("__n")).alias("__s"),
    )
    n = F.col("n_chars")
    h = F.when(n > 0, F.log(n) - F.col("__s") / n).otherwise(F.lit(0.0))
    return base.join(stats, id_col, "left").select(
        F.col(id_col),
        n,
        F.coalesce(F.col("__dc"), F.lit(0)).cast("long").alias("n_distinct_chars"),
        F.round(h, 6).alias("entropy"),
        (h < F.lit(low)).alias("low_entropy"),
    )


GOPHER_STOPWORDS: tuple[str, ...] = ("the", "be", "to", "of", "and", "that", "have", "with", "a")


def gopher_quality(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The Gopher quality-rule subset (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Table A1) that is deterministic and
    engine-portable: word count in [50, 100000], mean word length in
    [3, 10], ≥80% of words contain an alphabetic character, and at
    least two distinct English stopwords present (the rule that kills
    word-salad keyword stuffing). Symbol-ratio and ellipsis rules are
    omitted — they need the raw untokenized line structure.

    All per-row higher-order array math in the scan stage (no explode
    reaches a shuffle, no UDF). mean_word_len is one integer-over-
    integer division — bit-identical in any IEEE engine. Returns
    (id_col, n_words, mean_word_len, alpha_frac, n_stopwords, passes).
    """
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    mean_len = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_frac = F.when(n > 0, alpha_words / n).otherwise(F.lit(0.0))
    stops = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    passes = (
        (n >= 50) & (n <= 100000)
        & (mean_len >= 3) & (mean_len <= 10)
        & (alpha_frac >= 0.8)
        & (stops >= 2)
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        stops.cast("long").alias("n_stopwords"),
        passes.alias("passes"),
    )


def bigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Bigram-LM quality score with Laplace smoothing — one order up
    from :func:`unigram_logprob` toward CCNet's KenLM perplexity
    filter, and the order that starts catching scrambled word salad
    (uniform unigram stats, near-zero bigram mass). The corpus is its
    own training set: P(b|a) = (C(a,b)+1) / (C(a,·)+V), score =
    mean ln P over a document's bigrams.

    Scale shape: bigrams are formed by a shifted-array zip inside the
    scan (never a token self-join); the bigram-count table C(a,b) is
    built with ONE partial-agg shuffle — map-side combine collapses
    each partition's repeats, so hot bigrams (stopword pairs) don't
    concentrate reduce work — and then MATERIALIZED (localCheckpoint:
    lineage cut, storage reclaimed by the context cleaner when the
    result is released, unlike a per-call cache). Everything LM-side
    (C(a,·) as a vocabulary-sized window over it, V, the smoothed
    log-probs) derives from that one materialized table: without the
    cut, Catalyst re-expanded the corpus FIVE times (probe, C2, C1's
    C2, and twice for V) and measured 1.8× over linear at the 100×
    replica. The corpus is expanded exactly twice — C2 build and score
    probe — which is the floor while the probe needs instance rows.
    The LM is the EXPLICIT build side of the scoring join: the
    checkpoint strips its stats, and with a small input file the
    planner's estimate inverts — it chose to broadcast the EXPLODED
    CORPUS (26M rows, 40 s of driver hashing at the 100× replica)
    against the 93k-row LM. The LM is vocabulary-sized (sublinear in
    the corpus, Heaps' law), so broadcasting it is the durable choice;
    when the bigram vocabulary outgrows broadcast, persist the LM to a
    bucketed table and score many batches against it (the
    minhash_persist_index posture). Returns (id_col, n_bigrams,
    mean_logprob) rounded to 6."""
    toks = _tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    ex = fan(df, id_col).select(
        F.col(id_col), F.explode(pairs).alias("p")
    ).select(id_col, F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    # NOTE (r11): measured NOT worth making size-conditional — without
    # the materialization the five corpus re-expansions cost more than
    # the checkpoint job even at sf0.1 (paired A/B: 1.42 -> 1.80 s).
    c2 = (
        ex.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__c2"))
        .localCheckpoint(eager=True)
    )
    # C(a,·): vocabulary-sized window over the materialized counts —
    # no re-aggregation, no corpus re-expansion
    c1col = F.sum("__c2").over(Window.partitionBy("a"))
    # V = |{tokens seen in ANY position}| — from the same table
    v = (
        c2.select(F.col("a").alias("t"))
        .union(c2.select(F.col("b").alias("t")))
        .agg(F.countDistinct("t").alias("__v"))
    )
    lm = (
        c2.withColumn("__c1", c1col)
        .crossJoin(F.broadcast(v))
        .select(
            "a", "b",
            F.log((F.col("__c2") + 1) / (F.col("__c1") + F.col("__v"))).alias("__lp"),
        )
    )
    return (
        ex.join(F.broadcast(lm), ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__lp"), 6).alias("mean_logprob"),
        )
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    scored_langs: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank each
    language's documents by LM score and split into head / middle /
    tail terciles — the curation signal CCNet uses instead of a hard
    drop (train on head+middle, keep tail for ablations). The LM is
    :func:`bigram_logprob` (corpus-trained, Laplace-smoothed);
    highest mean log-prob = lowest perplexity = head.

    Determinism/oracle parity: the tercile is ntile(3) OVER
    (PARTITION BY lang ORDER BY mean_logprob DESC, id) — the score is
    the ROUNDED-6 emitted value, so the ordering (and therefore every
    bucket edge) replays exactly in SQL; ntile's earlier-buckets-get-
    the-remainder rule is identical in Spark and DuckDB. Documents
    with no bigram (< 2 tokens) have no LM score and are omitted,
    like bigram_logprob itself.

    Scale shape: one (id, score) pair per document enters the window
    — the corpus TEXT never reaches the sort, so the per-language
    sort is over ~16 bytes/doc. Beyond single-sort comfort, the
    production form is :func:`ccnet_perplexity_buckets_approx`
    (approx-percentile cutpoints, no per-language sort task) — kept
    out of the oracle entry because approx cutpoints don't replay;
    the exact tercile here is the attested semantics."""
    if scored_langs is None:
        scored_langs = bigram_logprob(df, text_col, id_col).join(
            df.select(F.col(id_col), F.col(lang_col)), id_col
        )
    w = Window.partitionBy(lang_col).orderBy(
        F.col("mean_logprob").desc(), F.col(id_col)
    )
    b = F.ntile(3).over(w)
    return (
        scored_langs
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.when(b == 1, F.lit("head"))
            .when(b == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def ccnet_perplexity_buckets_approx(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    accuracy: int = 10_000,
    scored_langs: DataFrame | None = None,
) -> DataFrame:
    """Production form of :func:`ccnet_perplexity_buckets` (r9 verdict
    #4): per-language tercile CUTPOINTS from
    ``approx_percentile(score, [1/3, 2/3], accuracy)`` — one hash
    aggregation with map-side partials — then bucket assignment as a
    broadcast join + scan-stage comparison. NO per-language sort task:
    the exact form's ``ntile(3)`` window makes each language one sort
    task, and at 100 TB with a skewed language mix the English
    partition is a single-task sort (of 16-byte rows, but one task).
    Here nothing sorts; the cutpoint sketch (Greenwald-Khanna, rank
    error ≤ n/accuracy) is a few KB per language and broadcasts.

    Approximate BY CONSTRUCTION at the bucket EDGES only: a document
    whose exact rank sits within n/accuracy of a tercile boundary (or
    that ties the boundary score — ntile splits score-ties by id,
    cutpoints cannot) may land one bucket over. Degenerate caveat: if
    a language's scores tie HEAVILY (e.g. all equal), both cutpoints
    collapse to the same value, every doc lands in 'head', and the
    disagreement vs exact ntile (which splits ties by id across all
    three buckets) can be two buckets, not one — score ties carry no
    rank information, so any tie-split is arbitrary there. On
    continuous (non-degenerate) score distributions disagreements stay
    off-by-one. Everything else agrees with the exact form, which
    stays the tercile oracle (pytest: tests/test_r10_ops.py pins ≥95%
    agreement and off-by-one-bucket-only disagreements on the
    continuous fixture)."""
    if scored_langs is None:
        scored = bigram_logprob(df, text_col, id_col)
        langs = df.select(F.col(id_col), F.col(lang_col))
        # (id, lang, score) is doc-count-sized (~24 B/doc); materialize
        # it once — BOTH the cutpoint aggregation and the bucket
        # assignment read it, and without this the whole LM-scoring
        # subtree (the dominant cost) is derived twice (measured 9.9 s
        # vs the exact form's 7.5 s at the 100× replica; materialized
        # it shares the scoring cost the exact form pays once).
        j = scored.join(langs, id_col).localCheckpoint(eager=True)
    else:
        # caller owns the (id, score, lang) materialization — the
        # attestation entry shares ONE scored frame between this and
        # the exact form (r11: two full LM subtrees halved to one).
        j = scored_langs
    cuts = j.groupBy(lang_col).agg(
        F.percentile_approx(
            "mean_logprob", [1.0 / 3.0, 2.0 / 3.0], accuracy
        ).alias("__cuts")
    )
    # head = top third by score (highest mean log-prob = lowest
    # perplexity), so the upper cutpoint (2/3 percentile ascending)
    # bounds head from below.
    return j.join(F.broadcast(cuts), lang_col).select(
        F.col(id_col),
        F.col(lang_col),
        F.when(F.col("mean_logprob") >= F.col("__cuts")[1], F.lit("head"))
        .when(F.col("mean_logprob") >= F.col("__cuts")[0], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def canonicalize_url(url_col: Column) -> Column:
    """URL canonicalization for the web-crawl dedup tier: lowercase
    scheme and host, strip the fragment, strip default ports (:80 for
    http, :443 for https), strip utm_* tracking parameters (keeping
    other query params), drop empty leftover '?'/'&', and strip one
    trailing slash from the path. Path CASE is preserved (paths are
    case-sensitive per RFC 3986; hosts are not). Pure portable-regex
    column expression — runs in the scan stage of whatever plan uses
    it."""
    u = F.regexp_replace(url_col, "#.*$", "")  # fragment never reaches servers
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, "^([^/?]*)", 1))
    host = F.when(
        (scheme == "http"), F.regexp_replace(hostport, ":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    pathq = F.regexp_replace(rest, "^[^/?]*", "")
    # strip utm params only at a [?&] parameter boundary — an
    # unanchored match would also delete 'utm_...=...' substrings
    # inside a path segment or another param's value (r4 ADVICE).
    # Keep the delimiter, then mop up separator debris in a fixed
    # order: collapse '&' runs, heal '?&', drop a trailing '?'/'&'.
    pathq = F.regexp_replace(pathq, "([?&])utm_[a-z]+=[^&#]*", "$1")
    pathq = F.regexp_replace(pathq, "&{2,}", "&")
    pathq = F.regexp_replace(pathq, r"\?&", "?")
    pathq = F.regexp_replace(pathq, "[?&]$", "")
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    qs = F.regexp_replace(pathq, "^[^?]*", "")
    path = F.regexp_replace(path, "/$", "")
    return F.concat(scheme, F.lit("://"), host, path, qs)


def dedup_url_groups(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """URL-level dedup: group documents by canonical URL, keep the
    minimum id. The first tier of every web-crawl pipeline — recrawls
    and tracking-param variants collapse before any content hashing
    runs. One projection + one hash aggregation on the canonical
    string; identical scale posture to exact dedup."""
    return (
        df.select(F.col(id_col), canonicalize_url(F.col(url_col)).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
    )


LOGREG_FEATURES: tuple[str, ...] = ("bias", "x1_words", "x2_wordlen", "x3_alpha", "x4_ttr")


def _logreg_fit(
    df: DataFrame, text_col: str, id_col: str, iters: int = 10, lr: float = 0.5
) -> list[float]:
    """TRAIN the quality classifier, distributed: batch gradient
    descent for logistic regression over four portable text features
    (scaled word count, scaled mean word length, alphabetic-word
    fraction, type-token ratio) against a deterministic weak label
    (n_words > 200) — the training half of the fastText-style filter
    whose INFERENCE half is ``quality_logit``. Weak supervision from a
    cheap rule is exactly how production corpus classifiers bootstrap
    (label with heuristics or a seed set, train, then score at scale).

    Scale shape: features are computed ONCE in a single scan and
    cached (at 100 TB: checkpointed to parquet); each of the ``iters``
    rounds is ONE map-side-combined aggregation producing 5 partial
    sums — the only driver traffic is the 5-float gradient, the only
    state is the weight vector (the bpe_learn_merges loop shape).
    No per-round shuffle of the corpus, no window, no UDF: the sigmoid
    is a codegen'd expression.

    Every arithmetic step is IEEE-double on both engines, so the whole
    10-round trajectory replays in SQL as unrolled CTEs; final weights
    round to 6 (gradient sums are the only order-dependent floats,
    ~1e-14 noise vs a 1e-6 grid). Returns (feature, weight) rows.
    """
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    # The featurize pass (tokenize + array_distinct per doc) is the
    # CPU-heavy step; small test files are one-task scans, so without
    # the parallelism guard the cache materializes single-threaded
    # (~2.5 s of the r8 bench's 3 s wall — the >2× outlier). Gradient
    # sums stay on the round-6 grid under any partitioning (the
    # documented ~1e-14 order noise).
    feats = (
        fan(df, id_col)
        .select(
            (n / F.lit(100.0)).alias("x1"),
            (total_len / n / F.lit(10.0)).alias("x2"),
            (F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / n).alias("x3"),
            (F.size(F.array_distinct(toks)) / n).alias("x4"),
            F.when(n > 200, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        )
        .filter(n > 0)
    )
    # The featurize pass above runs at full scan parallelism (CPU-heavy
    # per row); the CACHED frame the 10 gradient rounds re-aggregate is
    # 5 doubles/row, so give it a SIZE-derived partition count instead
    # of the core count — every round pays a fixed per-task cost, and a
    # core-count-partitioned tiny cache costs ~2.5× per round (r11
    # bench: 169 ms vs 68 ms per aggregation job). The shuffle this
    # adds moves 5 doubles/row once. Sized from the FEATS plan, not the
    # raw documents frame (r11 ADVICE): Catalyst estimates the
    # projection at a fixed ~68 B/row (measured identical at sf0.1 and
    # a 30× replica), i.e. proportional to ROW COUNT, where the
    # text-bytes proxy overshoots by the mean document length and
    # silently degenerated the count to defaultParallelism at scale.
    # 4 MB/task ≈ 60k cached rows per round task; sf0.1 → 1 partition
    # (same behavior as the r11-measured win), 1000× → the clamp.
    # Gradient sums stay on the round-6 grid under any partitioning
    # (documented ~1e-14 order noise).
    try:
        feats = feats.repartition(iterate_partitions(feats))
    except Exception:  # non-classic sessions: pin as-is
        pass
    # AQE adds a per-stage re-plan break to every round's job; for
    # this loop each job is a FIXED 2-stage global scalar aggregation
    # over the cached frame (5 doubles cross the shuffle), so adaptive
    # re-planning can never improve it and costs ~45 ms/round in
    # scheduler latency — ~0.5 s over 10 rounds, the difference
    # between this entry sitting at or 1.3× over its bench baseline.
    # The override is scoped through session.conf_override, which
    # ENFORCES the sequential-execution-per-session invariant it
    # depends on (a concurrent override raises instead of silently
    # running another query without AQE — r9 ADVICE).
    from graphdbetl_spark.session import conf_override

    with pinned(feats), conf_override(
        df.sparkSession, "spark.sql.adaptive.enabled", "false"
    ):
        w = [0.0] * 5
        for _ in range(iters):
            z = F.lit(w[0])
            for j in range(4):
                z = z + F.lit(w[j + 1]) * F.col(f"x{j + 1}")
            e = (F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("y")).alias("e")
            # N rides along in the gradient aggregation (one job per
            # round, total iters jobs — no separate count() job; the
            # first round's agg also materializes the feature cache)
            round_q = feats.select(e, "x1", "x2", "x3", "x4").agg(
                F.sum("e").alias("g0"),
                F.sum(F.col("e") * F.col("x1")).alias("g1"),
                F.sum(F.col("e") * F.col("x2")).alias("g2"),
                F.sum(F.col("e") * F.col("x3")).alias("g3"),
                F.sum(F.col("e") * F.col("x4")).alias("g4"),
                F.count(F.lit(1)).alias("n"),
            )
            # per-round plan-evidence hook — see coreset.PLAN_PROBE
            from graphdbetl_spark.operators import coreset as _c

            if _c.PLAN_PROBE is not None:
                _c.PLAN_PROBE("logreg_round", round_q)
            row = round_q.first()
            w = [w[k] - lr * row[k] / row["n"] for k in range(5)]
    return w


def logreg_train_quality(
    df: DataFrame, text_col: str, id_col: str, iters: int = 10, lr: float = 0.5
) -> DataFrame:
    """Weight-table form of :func:`_logreg_fit` (docstring above):
    (feature, weight) rows, weights rounded to 6 for oracle replay."""
    w = _logreg_fit(df, text_col, id_col, iters, lr)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(name, round(wk, 6)) for name, wk in zip(LOGREG_FEATURES, w)],
        "feature string, weight double",
    )


def _logreg_train_oracle_parts(iters: int = 10, lr: float = 0.5) -> tuple[str, str]:
    """(trajectory, weight-tail) halves of the training oracle. The
    trajectory — feature CTE plus one (g_t, w_{t+1}) CTE pair per
    gradient step — is reused verbatim by the train→score oracle,
    which appends a scoring select instead of the weight-emitting
    tail (r4 ADVICE: composing by string-slicing the joined SQL broke
    on any formatting change, at module import time)."""
    head = """
    WITH t AS (
        SELECT string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), f AS MATERIALIZED (
        SELECT CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
               list_sum(list_transform(toks, x -> len(x)))
                   / CAST(len(toks) AS DOUBLE) / 10.0 AS x2,
               len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                   / CAST(len(toks) AS DOUBLE) AS x3,
               len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS x4,
               CASE WHEN len(toks) > 200 THEN 1.0 ELSE 0.0 END AS y
        FROM t WHERE len(toks) > 0
    ), w0 AS (
        SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4
    )"""
    steps = []
    for i in range(iters):
        steps.append(f""", g{i} AS MATERIALIZED (
        SELECT SUM(e) AS g0, SUM(e * x1) AS g1, SUM(e * x2) AS g2,
               SUM(e * x3) AS g3, SUM(e * x4) AS g4, COUNT(*) AS n
        FROM (SELECT 1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                                        + w.w3 * x3 + w.w4 * x4))) - y AS e,
                     x1, x2, x3, x4
              FROM f, w{i} w)
    ), w{i + 1} AS MATERIALIZED (
        SELECT w.b - {lr} * g.g0 / g.n AS b, w.w1 - {lr} * g.g1 / g.n AS w1,
               w.w2 - {lr} * g.g2 / g.n AS w2, w.w3 - {lr} * g.g3 / g.n AS w3,
               w.w4 - {lr} * g.g4 / g.n AS w4
        FROM w{i} w, g{i} g
    )""")
    tail = f"""
    SELECT 'bias' AS feature, ROUND(b, 6) AS weight FROM w{iters}
    UNION ALL SELECT 'x1_words', ROUND(w1, 6) FROM w{iters}
    UNION ALL SELECT 'x2_wordlen', ROUND(w2, 6) FROM w{iters}
    UNION ALL SELECT 'x3_alpha', ROUND(w3, 6) FROM w{iters}
    UNION ALL SELECT 'x4_ttr', ROUND(w4, 6) FROM w{iters}"""
    return head + "".join(steps), tail


def logreg_train_oracle_sql(iters: int = 10, lr: float = 0.5) -> str:
    """The unrolled-CTE SQL replay of :func:`logreg_train_quality`:
    one (g_t, w_{t+1}) CTE pair per gradient step, same feature
    expressions, same update arithmetic — the full training
    trajectory is oracle-checked, not just the final score."""
    trajectory, tail = _logreg_train_oracle_parts(iters, lr)
    return trajectory + tail


def logreg_score_trained(
    df: DataFrame, text_col: str, id_col: str, weights: list[float]
) -> DataFrame:
    """INFERENCE half of the trained classifier: score every document
    with sigmoid(w·x) over the same four features the trainer used —
    weights arrive as plan literals, so scoring is a zero-shuffle
    scan-stage projection (the 100 TB deployment shape: train on a
    sample, score the corpus). Returns (id_col, quality_prob, keep)
    with prob rounded to 6 and keep = prob >= 0.5."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    x = [
        n / F.lit(100.0),
        total_len / n / F.lit(10.0),
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / n,
        F.size(F.array_distinct(toks)) / n,
    ]
    z = F.lit(weights[0])
    for j in range(4):
        z = z + F.lit(weights[j + 1]) * x[j]
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.filter(n > 0).select(
        F.col(id_col),
        F.round(p, 6).alias("quality_prob"),
        (p >= 0.5).alias("keep"),
    )


def logreg_train_score_oracle_sql(iters: int = 10, lr: float = 0.5) -> str:
    """Oracle for the composed train→score pipeline: the unrolled
    training CTEs of :func:`logreg_train_oracle_sql` feed a final
    scoring select over the SAME feature CTE — end-to-end replay of
    fit + inference."""
    trajectory, _tail = _logreg_train_oracle_parts(iters, lr)
    return trajectory + f"""
    , fd AS MATERIALIZED (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ), fx AS (
        SELECT doc_id,
               CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
               list_sum(list_transform(toks, x -> len(x)))
                   / CAST(len(toks) AS DOUBLE) / 10.0 AS x2,
               len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                   / CAST(len(toks) AS DOUBLE) AS x3,
               len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS x4
        FROM fd WHERE len(toks) > 0
    )
    SELECT fx.doc_id,
           ROUND(1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                                    + w.w3 * x3 + w.w4 * x4))), 6)
               AS quality_prob,
           (1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                               + w.w3 * x3 + w.w4 * x4))) >= 0.5) AS keep
    FROM fx, w{iters} w"""


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Semantic (embedding-level) benchmark decontamination: flag every
    candidate-training vector whose max cosine to ANY eval vector
    reaches ``threshold``. Complements ``decontaminate_against_eval``
    (surface n-gram overlap) — paraphrased or lightly-rewritten eval
    leakage shares no 5-gram but sits at high embedding similarity,
    which is how modern pipelines (e.g. the GPT-3/PaLM contamination
    appendices at the n-gram tier, SemDeDup at the embedding tier)
    actually audit for it.

    Scale shape: the eval side is a benchmark — MBs against a 100 TB
    corpus — so it is collected into the kernel closure and the corpus
    streams ONCE through a numpy Arrow kernel that emits one (id, max)
    row per corpus vector, independent of |eval|, with no shuffle. For
    eval sets that grow with the corpus, block both sides with the
    hyperplane-bucket machinery (dedup_embedding_cosine) instead.

    Returns (id_col, max_eval_cosine rounded 6, contaminated bool);
    the threshold compares the UNROUNDED max on both engines.

    The pair scan is a numpy Arrow kernel, not DataFrame
    higher-order functions: interpreted lambda folds cost ~2 µs per
    element (SCALING.md r2 lesson), and |corpus|·|eval| 64-element
    dots put the HOF form at 105 s for 22.5M pairs on the 30× replica
    — numpy does the identical arithmetic per Arrow batch in seconds.
    Bit-parity with the DuckDB oracle: both sides unit-normalize once,
    every reduction runs in TRUE left-fold order (``seq_sum``; the
    per-pair dot accumulates dimension-by-dimension so each pair's sum
    is sequential, matching `list_reduce` — 0.0 + x1 == x1 in IEEE),
    max is order-independent, and rounding + thresholding stay JVM-side
    (np.round is half-even; F.round/DuckDB ROUND are ties-away). The
    eval matrix is collected bounded-by-construction (a benchmark, not
    data — the PQ codebook-closure pattern); the eval axis is scored
    in chunks with a running max (max is associative, so chunking is
    bit-neutral), capping kernel working memory at ~160 MB per task no
    matter how large the eval set grows. The per-chunk scoring is
    tiered-precision (see the `screen` closure): fp32 sgemm finds each
    row's near-max band, fp64 left-fold re-verifies only that band —
    bit-identical max, ~30× less memory traffic than the full fp64
    fold it replaced.
    """
    import numpy as np
    import pyarrow as pa

    from graphdbetl_spark.functions.vectors import arrow_matrix, seq_sum
    from graphdbetl_spark.operators.similarity import _collect_queries

    corpus, _, ev = _collect_queries(corpus, eval_df, id_col, vec_col)
    eu = ev / np.sqrt(seq_sum(ev * ev, axis=1))[:, None]

    eu32 = eu.astype(np.float32)

    def screen(batches):
        # Tiered precision (the _screened_pair_fold treatment, max
        # form): per eval chunk, one fp32 sgemm approximates every
        # pair's cosine to ≤~4e-6; only pairs within _SCREEN_MARGIN of
        # their row's chunk max can hold the row's true argmax (the
        # true max exceeds every fp32 score by at most the error
        # bound), and exactly those are re-folded in fp64 with the
        # original dim-major left-fold — so the emitted max is
        # bit-identical to the former full-matrix fold at ~1/30 the
        # memory traffic (the r8 verdict's most expensive rung entry,
        # 138 s at 100×).
        from graphdbetl_spark.operators.similarity import (
            _SCREEN_MARGIN,
            _fold_pairs_fp64,
        )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = arrow_matrix(rb, vec_col, width=eu.shape[1])
            cu = v / np.sqrt(seq_sum(v * v, axis=1))[:, None]
            cu32 = cu.astype(np.float32)
            chunk = max(1, 40_000_000 // rb.num_rows)
            mx = np.full(rb.num_rows, -np.inf)
            for lo in range(0, eu.shape[0], chunk):
                a32 = cu32 @ eu32[lo : lo + chunk].T
                rowmax32 = a32.max(axis=1)
                ci, ei = np.nonzero(
                    a32 >= (rowmax32 - np.float32(_SCREEN_MARGIN))[:, None]
                )
                acc = _fold_pairs_fp64(cu, ci, eu, lo + ei)
                np.maximum.at(mx, ci, acc)
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col), pa.array(mx)], names=[id_col, "__mx"]
            )

    src = fan(corpus, id_col).select(
        F.col(id_col), F.col(vec_col)
    )
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(screen, schema=f"{id_col} {id_type}, __mx double").select(
        id_col,
        F.round("__mx", 6).alias("max_eval_cosine"),
        (F.col("__mx") >= F.lit(threshold)).alias("contaminated"),
    )


def semantic_decontaminate_ivf(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_cells: int | str = 8,
    n_probe: int = 2,
    seed: str = "42",
) -> DataFrame:
    """IVF-cell-restricted sibling of :func:`semantic_decontaminate` —
    the scale path when the EVAL side grows with the corpus (r8
    verdict #3): instead of scoring every train vector against every
    eval vector, eval vectors are bucketed into ``n_cells`` coarse
    cells (md5-sampled EVAL-side centroids — the deterministic
    sim_ivf_topk quantizer, so the whole restriction replays in SQL)
    and each train vector scores only the eval members of its
    ``n_probe`` max-dot cells: per-pair work drops by
    ~``n_probe/n_cells`` and keeps dropping as cells grow with the
    eval set. Approximate BY CONSTRUCTION (the reported max is a lower
    bound of the true max — a contaminated vector whose nearest eval
    twin sits outside the probed cells is missed); the exact form
    stays the recall floor, and with eval-side centroids the probed
    cells are exactly the eval-dense directions, the FAISS IVF recall
    argument.

    Train vectors whose probed cells hold NO eval vectors are omitted
    (no candidate set → no max; the oracle's join drops them the same
    way).

    Bit-parity with the SQL replay (the ivf_assign_cells_md5
    discipline): unit-normalization divides by sqrt(left-fold Σx²);
    every dot folds dimension-major (TRUE left fold per pair); eval
    cell assignment takes np.argmax's first-max index = ties to the
    lowest cell, matching the oracle's ``ORDER BY dt DESC, cell``;
    probe ranking uses a STABLE sort on descending dot so equal dots
    keep ascending cell order, matching the same window; candidate
    scoring reuses the tiered-precision screen (fp32 sgemm band +
    fp64 fold — bit-identical max, see semantic_decontaminate).
    Returns (id_col, max_eval_cosine rounded 6, contaminated); the
    threshold compares the UNROUNDED max.

    ``n_cells="auto"`` is the PRODUCTION scaling rule (r9 verdict #5):
    ``n_cells = max(8, |eval| // 1024)`` — a TARGET-CELL-SIZE rule, so
    per-train candidate work stays ~constant (n_probe · ~1024 pair
    dots) as the eval set grows, plus a coarse-assignment term of
    |eval|/1024 centroid dots. The textbook FAISS sqrt sizing
    (n_cells = sqrt(n_probe·|eval|), which minimizes the per-train
    DOT COUNT) was measured first and REJECTED: at |eval| = 24k it
    yields 218 cells of ~109 vectors, and the kernel's per-cell sgemm
    chunks collapse below BLAS efficiency — 8.3 s vs the exact form's
    4.4 s, twice as slow while doing 50× fewer flops (BASELINE.md
    "r10: IVF auto-cells"). ~1024-vector cells keep each probed-cell
    matmul wide enough that the flop reduction actually converts to
    wall time. The registered oracle entry pins n_cells=8 (a CONSTANT
    ¼ restriction the SQL replays verbatim); auto is parameter-only
    because the cell count — and therefore the candidate restriction —
    changes with |eval|, which a fixed oracle string can't follow.
    tests/test_r10_ops.py pins auto's lower-bound and recall-floor
    properties against the exact form.
    """
    import numpy as np
    import pyarrow as pa

    from graphdbetl_spark.functions.vectors import arrow_matrix, fold_dots, seq_sum
    from graphdbetl_spark.operators.similarity import (
        _SCREEN_MARGIN,
        _collect_queries,
        _fold_pairs_fp64,
        md5_sampled_centroid_list,
    )

    corpus, _, ev = _collect_queries(corpus, eval_df, id_col, vec_col)
    if not len(ev):  # no eval vector, no cells: the exact form's empty frame
        return semantic_decontaminate(corpus, eval_df, id_col, vec_col, threshold)
    if n_cells == "auto":
        n_cells = max(8, len(ev) // 1024)
    cents = md5_sampled_centroid_list(eval_df, id_col, vec_col, k=n_cells, seed=seed)
    cm = np.array([c for _, c in cents], dtype=np.float64)  # ascending cell
    eu = ev / np.sqrt(seq_sum(ev * ev, axis=1))[:, None]
    ev_cell = np.argmax(fold_dots(eu, cm), axis=1)  # first max = lowest cell on ties
    eu_by_cell = [eu[ev_cell == c] for c in range(n_cells)]
    eu32_by_cell = [m.astype(np.float32) for m in eu_by_cell]

    def screen(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            v = arrow_matrix(rb, vec_col, width=cm.shape[1])
            cu = v / np.sqrt(seq_sum(v * v, axis=1))[:, None]
            # stable sort on -dot keeps ascending cell order on ties
            order = np.argsort(-fold_dots(cu, cm), axis=1, kind="stable")[:, :n_probe]
            cu32 = cu.astype(np.float32)
            mx = np.full(rb.num_rows, -np.inf)
            for c in range(n_cells):
                rows = np.nonzero((order == c).any(axis=1))[0]
                ec32 = eu32_by_cell[c]
                if rows.size == 0 or ec32.shape[0] == 0:
                    continue
                a32 = cu32[rows] @ ec32.T
                rowmax32 = a32.max(axis=1)
                ci, ei = np.nonzero(
                    a32 >= (rowmax32 - np.float32(_SCREEN_MARGIN))[:, None]
                )
                ex = _fold_pairs_fp64(cu, rows[ci], eu_by_cell[c], ei)
                np.maximum.at(mx, rows[ci], ex)
            hit = mx > -np.inf
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col).filter(pa.array(hit)), pa.array(mx[hit])],
                names=[id_col, "__mx"],
            )

    src = fan(corpus, id_col).select(
        F.col(id_col), F.col(vec_col)
    )
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(screen, schema=f"{id_col} {id_type}, __mx double").select(
        id_col,
        F.round("__mx", 6).alias("max_eval_cosine"),
        (F.col("__mx") >= F.lit(threshold)).alias("contaminated"),
    )


def importance_resample(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred,
    k: int = 100,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every candidate
    document by its average per-token log-likelihood RATIO between a
    target-domain LM and the whole-corpus LM (both Laplace-smoothed
    unigram models fitted in-plan over the shared vocabulary), and keep
    the top-``k`` candidates — the documents from the general pool that
    look most like the target domain. This is the selection step that
    upgrades hand-rule curation (Gopher/C4 gates) to distribution
    matching against a target corpus.

    Scale shape: ONE token-count shuffle fits both LMs (conditional
    partial aggs over the same exploded pass — target and corpus
    counts ride the same map-side combine); the totals are a broadcast
    1-row cross join; the LM-to-token scoring join is vocabulary-sized
    and AQE-strategied (the unigram_logprob shape); the top-k is
    orderBy+limit → TakeOrderedAndProject (per-partition top-k, one
    merge — never a global sort), and the rank window runs over the
    constant-k survivor set only. Ordering is on the ROUNDED weight
    with id tiebreak, so the cut is deterministic under float
    accumulation-order noise.
    """
    toks = _tokens(F.col(text_col))
    ex = fan(df, id_col).select(
        F.col(id_col), target_pred.alias("__t"), F.explode(toks).alias("__tok")
    )
    cnt = ex.groupBy("__tok").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("__ct"),
        F.count(F.lit(1)).alias("__cc"),
    )
    tots = cnt.agg(
        F.sum("__ct").alias("__tt"),
        F.sum("__cc").alias("__tc"),
        F.count(F.lit(1)).alias("__v"),
    )
    lm = cnt.crossJoin(F.broadcast(tots)).select(
        "__tok",
        (
            F.log((F.col("__ct") + 1) / (F.col("__tt") + F.col("__v")).cast("double"))
            - F.log((F.col("__cc") + 1) / (F.col("__tc") + F.col("__v")).cast("double"))
        ).alias("__w"),
    )
    dw = (
        ex.filter(~F.col("__t"))
        .join(lm, "__tok")
        .groupBy(id_col)
        .agg(F.round(F.avg("__w"), 6).alias("importance_weight"))
    )
    sel = dw.orderBy(F.col("importance_weight").desc(), F.col(id_col)).limit(k)
    w = Window.orderBy(F.col("importance_weight").desc(), F.col(id_col))
    return sel.withColumn("rank", F.row_number().over(w).cast("int"))
