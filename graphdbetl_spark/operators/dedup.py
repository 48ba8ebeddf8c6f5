"""Deduplication operators: exact, merge-by-id, MinHash-LSH, SimHash,
n-gram Jaccard.

Grounding: the reference *declares* dedup/merge on load — "maintains a
record of already-seen nodes (based on the primary ID) and either
merges data ... or creates a new entry" (``graph_db_builder.py:
493-497``, id_key semantics ``:463-467``) — but never implements it
(D1 in SURVEY.md §2A). The near-dup family is the north-star
LLM-pipeline extension: at 100 TB, exact dedup is one hash shuffle on a
64-bit digest; near-dup must avoid the quadratic pair space via
banding (MinHash-LSH) or fingerprint equality (SimHash), never a cross
join.
"""

from __future__ import annotations

import random
from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from graphdbetl_spark.operators.skew import BYTES_PER_TASK, checkpoint_if_scaled, fan


def dedup_merge_first_wins(
    df: DataFrame, id_col: str, order_by: list[str] | None = None
) -> DataFrame:
    """Collapse duplicate ids into one row, first non-null value per
    column wins (the reference's "merge data into an existing record"
    intent, graph_db_builder.py:463-467).

    With ``order_by``, "first" is deterministic: the value from the
    lowest-ordered row that has the column non-null. Implemented as a
    single hash aggregation — ``min(struct(order, value))`` over
    non-null rows — one shuffle on the id, no window sort, partial
    aggregation map-side. Without ``order_by``, falls back to Spark's
    ``first(ignorenulls=True)`` (arbitrary winner, like the reference).
    """
    value_cols = [c for c in df.columns if c != id_col]
    if not order_by:
        aggs = [F.first(c, ignorenulls=True).alias(c) for c in value_cols]
        return df.groupBy(id_col).agg(*aggs)
    order_cols = [F.col(c) for c in order_by]
    aggs = []
    for c in value_cols:
        picked = F.min(F.when(F.col(c).isNotNull(), F.struct(*order_cols, F.col(c).alias("__v"))))
        aggs.append(picked.getField("__v").alias(c))
    return df.groupBy(id_col).agg(*aggs)


def dedup_merge_by_source(
    df: DataFrame, id_col: str, src_col: str, sources: Iterable[str]
) -> DataFrame:
    """:func:`dedup_merge_first_wins` with ``order_by=[src_col]``, for a
    frame whose ``src_col`` values are known at plan time (``sources``,
    every value the column holds; never null).

    Per column, the value comes from the first source in name order
    that has it non-null, and a tie inside one source goes to the min
    value: ``coalesce`` over one ``min(CASE WHEN src = s THEN c END)``
    per source, in ``sorted`` order (Python's ``str`` order is Spark's
    UTF-8 binary order). That is the struct-``min`` answer without
    building and comparing a struct per row and column.
    """
    is_src = [F.col(src_col) == s for s in sorted(sources)]
    aggs = [
        F.coalesce(*(F.min(F.when(is_s, F.col(c))) for is_s in is_src)).alias(c)
        for c in df.columns
        if c != id_col
    ]
    return df.groupBy(id_col).agg(*aggs)


def dedup_exact_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content digest: keep the minimum id per sha256(text).

    One shuffle on a 32-byte key regardless of document size; at scale
    the digest is computed in the scan projection so only (digest, id)
    ever shuffles.
    """
    return (
        df.select(F.sha2(F.col(text_col), 256).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def _tokens(text_col: Column) -> Column:
    return F.split(F.trim(text_col), r"\s+")


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams via n-1 shifted-array zip_withs — O(len) per doc.
    (A transform that slices per position is O(len²) and dominated the
    whole LSH pipeline at bench scale.)"""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, m)
        grams = F.zip_with(grams, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return grams


def _word_ngram_hashes(toks: Column, n: int) -> Column:
    """64-bit n-gram fingerprints WITHOUT materializing gram strings:
    hash each token once, then chain-combine the n shifted hash arrays
    with ``xxhash64(acc, next)`` (xxhash64 over two longs — a fixed
    16-byte JVM-native mix per position, vs allocating and re-hashing
    progressively longer concat strings). 3-4× cheaper per token at the
    scan, which is where every n-gram pipeline spends its map side.
    Fingerprint identity: equal token sequences ⇒ equal fingerprint;
    collisions are the usual ~|grams|²/2⁶⁴. Use when only gram
    IDENTITY matters (df counts, semi-joins); use :func:`_word_ngrams`
    when the gram text itself is needed (oracle replay via md5)."""
    th = F.transform(toks, lambda t: F.xxhash64(t))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(th, 1, m)
    for j in range(1, n):
        shifted = F.slice(th, j + 1, m)
        grams = F.zip_with(grams, shifted, lambda a, b: F.xxhash64(a, b))
    return grams


def _shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document."""
    return F.array_distinct(_word_ngrams(_tokens(text_col), n))


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm) at word-``k``-gram granularity: hash every
    k-gram, slide a window of ``w`` consecutive hashes, keep each
    window's minimum; the distinct minima are the document's
    fingerprint set. Guarantees any shared run of ≥ w+k-1 tokens
    produces at least one shared fingerprint, at ~2/(w+1) the density
    of full k-gram sets — the classic fingerprint-budget/recall trade.
    This is the set-of-minima variant (fingerprint positions dropped):
    the matching property only needs the set.

    Hashes use the engine-portable md5-family idiom (first 12 hex
    chars → 48-bit BIGINT) so a SQL oracle replays the selection bit
    for bit — integer-only output, no float surface.

    The per-row pipeline is an Arrow kernel, not interpreted array
    expressions: hashing every gram through transform-md5 plus the
    O(len·w) window-min slices cost ~140 s PER PASS over the 100×
    replica (and a multi-consumer caller pays it once per branch). The
    kernel memoizes gram → 48-bit hash in a per-task dict — gram
    vocabulary repeats heavily in any real corpus — and slides the
    minima in plain loops over small ints. Tokenization mirrors the
    JVM/RE2 pair exactly (space-only trim, ASCII ``\\s+`` split, NO
    empty-token filter — k-grams of the raw split, like _tokens).

    Returns (id_col, fp) exploded rows, one per distinct fingerprint;
    documents with at least one k-gram but fewer than w of them yield
    the single global minimum (the algorithm's short-document case).
    """
    import hashlib
    import re as _re

    import pyarrow as pa

    ws_re = _re.compile(r"\s+", _re.ASCII)

    def kern(batches):
        memo: dict[str, int] = {}

        def ghash(g: str) -> int:
            h = memo.get(g)
            if h is None:
                h = int(hashlib.md5(g.encode()).hexdigest()[:12], 16)
                memo[g] = h
            return h

        for rb in batches:
            rows, fps = [], []
            for row, t in enumerate(rb.column(text_col).to_pylist()):
                toks = ws_re.split((t or "").strip(" "))
                gh = [
                    ghash(" ".join(toks[i : i + k]))
                    for i in range(len(toks) - k + 1)
                ]
                m = len(gh) - (w - 1)
                if m >= 1:
                    wins = {min(gh[i : i + w]) for i in range(m)}
                elif gh:
                    wins = {min(gh)}
                else:
                    continue
                rows.extend([row] * len(wins))
                fps.extend(wins)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(id_col).take(pa.array(rows, pa.int64())),
                    pa.array(fps, pa.int64()),
                ],
                names=[id_col, "fp"],
            )

    src = fan(df, id_col).select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(kern, schema=f"{id_col} {id_type}, fp long")


def dedup_keep_list(
    df: DataFrame,
    text_col: str,
    id_col: str,
    near_threshold: float = 0.5,
    block_cols: list[str] | None = None,
    max_gram_df: int | None = 10_000,
) -> DataFrame:
    """Training-data dedup policy: one row per document with
    keep/drop verdict and reason.

    - exact duplicates: keep the min id per sha256(text), drop the rest
      ('exact_dup');
    - near duplicates (n-gram Jaccard ≥ threshold among survivors):
      drop the higher id of each pair ('near_dup').

    Drop-the-higher-id resolves chains without iteration (no connected
    components needed): within any near-dup cluster exactly the minimum
    id survives pairwise domination. Output: (id, keep, reason).
    """
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("__sha")
    )
    # keep_exact and survivors each feed two branches of the returned
    # frame: checkpointed (skew.pinned, form 1), so the base scan +
    # digest don't recompute per consumer
    keep_exact = hashed.groupBy("__sha").agg(F.min(id_col).alias(id_col))
    keep_exact = keep_exact.localCheckpoint(eager=True)
    exact_dropped = hashed.join(keep_exact, [id_col, "__sha"], "left_anti").select(
        F.col(id_col), F.lit(False).alias("keep"), F.lit("exact_dup").alias("reason")
    )

    survivors = df.join(keep_exact.select(id_col), id_col, "left_semi")
    survivors = survivors.localCheckpoint(eager=True)  # pairs + kept list
    pairs = ngram_jaccard_pairs(
        survivors, text_col, id_col, n=3, threshold=near_threshold,
        block_cols=block_cols, max_gram_df=max_gram_df,
    )
    near_dropped_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    near_dropped = near_dropped_ids.select(
        F.col(id_col), F.lit(False).alias("keep"), F.lit("near_dup").alias("reason")
    )

    kept = (
        survivors.select(id_col)
        .join(near_dropped_ids, id_col, "left_anti")
        .select(F.col(id_col), F.lit(True).alias("keep"), F.lit("unique").alias("reason"))
    )
    return kept.unionByName(near_dropped).unionByName(exact_dropped)


def simhash_fingerprints_md5(
    df: DataFrame, text_col: str, id_col: str, bits: int = 48
) -> DataFrame:
    """SimHash fingerprint per document over an engine-portable hash
    family: token hash = first 12 hex chars of md5 (48 bits), available
    bit-identically in any engine with md5, which makes the fingerprint
    ORACLE-CHECKABLE.

    Token → md5 bits → per-bit ±1 votes → sign of vote sum per bit →
    fingerprint. Entirely JVM-side: explode + groupBy(id) with one
    conditional sum per bit would shuffle wide, so instead the vote
    loop runs as a higher-order ``aggregate`` over the token array —
    zero shuffles beyond the final projection. Near-dups share
    fingerprints (group on fingerprint, or on fingerprint bands for
    hamming<k).
    """
    df = df.repartition(F.col(id_col))  # parallelize the per-doc bit votes
    tok = _tokens(F.col(text_col))
    masks = [1 << i for i in range(bits)]
    zero = F.array_repeat(F.lit(0), bits)
    votes = F.aggregate(
        tok,
        zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[
                F.when(
                    F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long").bitwiseAND(F.lit(m)) != 0,
                    1,
                ).otherwise(-1)
                for m in masks
            ]),
            lambda a, b: a + b,
        ),
    )
    bits_col = F.transform(votes, lambda v: F.when(v > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"))
    fp = F.aggregate(bits_col, F.lit(0).cast("long"), lambda acc, b: F.shiftleft(acc, 1) + b)
    return df.select(F.col(id_col), fp.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_gram_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Inverted-index style: explode distinct n-grams, self-join on the
    n-gram (equi-join — candidates are only pairs sharing ≥1 gram),
    count shared grams per pair, then Jaccard = shared / (|A|+|B|-shared).
    ``block_cols`` adds cheap blocking (e.g. lang) to cut the candidate
    space. No cross join anywhere.

    Skew safety (on by default): the gram self-join produces df² pair
    rows per gram, so one ultra-common gram at corpus scale is a
    quadratic reducer. ``max_gram_df`` drops grams appearing in more
    than that many documents from the vocabulary *before* the join —
    the candidate fan-out per gram is then bounded by max_gram_df², and
    Jaccard is computed exactly over the capped vocabulary (the
    standard stop-gram treatment; a gram shared by >10k docs carries no
    near-dup signal). The df aggregation itself is skew-immune: partial
    (map-side) aggregation collapses duplicates before the shuffle.
    Pass ``max_gram_df=None`` for uncapped exact semantics.
    """
    shared = _ngram_shared_counts(df, text_col, id_col, n, block_cols, max_gram_df)
    jacc = (F.col("shared") / (F.col("count_a") + F.col("count_b") - F.col("shared"))).alias("jaccard")
    return shared.select("id_a", "id_b", jacc).filter(F.col("jaccard") >= threshold)


def _capped_gram_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    block_cols: list[str] | None,
    max_gram_df: int | None,
) -> DataFrame:
    """The post-cap exploded gram index shared by every exact n-gram
    pair measure: (id, [blocks], gh, gram_count) — distinct n-grams
    per doc FINGERPRINTED to a 60-bit md5 integer in the scan stage
    (engine-portable: the oracle computes the identical
    ``('0x' || substr(md5(gram), 1, 15))::BIGINT``), stop-grams
    (document frequency > cap) removed, per-doc post-cap set size
    attached. Gram STRINGS never leave the scan: carrying them
    through the materialized index and the self-join GC-thrashed the
    8 g heap at the 30× replica (stage-level GCLocker stalls — ~70 s
    where the hashed index runs the same plan in a fraction; strings
    were also the sort keys). Fingerprint equality stands in for gram
    equality on BOTH engines identically, so results replay bit-for-
    bit; collisions are the usual ~|grams|²/2⁶¹ and shared by the
    oracle. The slim (id, gh) explode is MATERIALIZED once, EAGERLY
    (localCheckpoint in its own job, body comment): with lazy
    materialization the checkpoint builds INSIDE the first consuming
    job, where a self-join's two sides race to compute-and-persist
    the same partitions concurrently (measured ~70 s at the 30×
    replica vs ~16 s materialized-first — GCLocker stalls from the
    duplicated in-flight state). The cap anti-join + per-doc window
    re-derive lazily from that checkpoint per consumer (fixed-width
    longs — seconds); a second resident copy of the full index
    doubled heap pressure under the 8 g default."""
    grams = F.array_distinct(_word_ngrams(_tokens(F.col(text_col)), n))
    base_cols = [F.col(id_col), grams.alias("grams")] + [F.col(c) for c in (block_cols or [])]
    # tokenize+explode is the CPU of the whole family and small test
    # files scan as a handful of tasks (5 at the 30× replica — ~40 s
    # per pass at 5-way vs ~6 s at full width); it is also consumed
    # TWICE (the stop-gram broadcast build and the index itself), so
    # checkpoint the slim hashed explode BEFORE the cap aggregation —
    # one wide tokenize pass, every downstream reads fixed-width rows.
    g = fan(df, id_col).select(*base_cols)
    gh = F.conv(F.substring(F.md5(F.col("__gram")), 1, 15), 16, 10).cast("long")
    # SIZE-CONDITIONAL materialization (r11): the eager checkpoint is
    # what makes the 30×/100× rungs linear (one wide tokenize pass),
    # but at tiny scale the materialization job costs ~5× the plain
    # recompute (~0.9 s vs ~0.17 s at sf0.1) — below the threshold the
    # deterministic explode is recomputed per consumer and the
    # self-join's identical sides share one exchange via ReuseExchange.
    ex = checkpoint_if_scaled(
        g.select(id_col, *(block_cols or []), F.explode("grams").alias("__gram"))
        .select(id_col, *(block_cols or []), gh.alias("gh")),
        size_of=df,
    )
    if max_gram_df is not None:
        # grams are distinct per doc, so count(*) per fingerprint ==
        # document frequency; the >cap survivor set is small by
        # construction, so the anti-join broadcasts.
        common = (
            ex.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("__gram_df"))
            .filter(F.col("__gram_df") > max_gram_df)
            .select("gh")
        )
        ex = ex.join(F.broadcast(common), "gh", "left_anti")
    # post-cap set size per doc (== size(grams) when nothing is capped);
    # window over the uniform doc-id key, not a second join. NOT
    # checkpointed again: the anti-join + window re-derive from the
    # slim checkpoint per consumer side in seconds (fixed-width longs),
    # and a second resident copy of the index doubled heap pressure
    # under the 8 g default (RowBasedKeyValueBatch allocation failures
    # in the cap aggregation).
    w = Window.partitionBy(id_col, *[F.col(c) for c in (block_cols or [])])
    return ex.withColumn("gram_count", F.count(F.lit(1)).over(w))


def _ngram_shared_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    block_cols: list[str] | None,
    max_gram_df: int | None,
) -> DataFrame:
    """Shared inverted-index candidate core for the exact n-gram pair
    measures (Jaccard / containment): explode distinct n-grams, cap
    stop-grams, self-join on the gram, count shared grams per pair.
    Returns (id_a, id_b, count_a, count_b, shared) with id_a < id_b."""
    ex = _capped_gram_index(df, text_col, id_col, n, block_cols, max_gram_df)
    # Both self-join sides are the (materialized) corpus-sized
    # exploded gram table; neither is ever small by construction, so
    # pin the sort-merge strategy (at the 100× replica the stats-less
    # planner once tried to BROADCAST 40M exploded rows —
    # BytesToBytesMap alloc failure; the r4 "stats-less build side"
    # lesson, inverted).
    a, b = ex.alias("a").hint("merge"), ex.alias("b")
    join_cond = (F.col("a.gh") == F.col("b.gh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in block_cols or []:
        join_cond = join_cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    shared = (
        a.join(b, join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.gram_count").alias("count_a"),
            F.col("b.gram_count").alias("count_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return shared


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_gram_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — the asymmetric complement of
    :func:`ngram_jaccard_pairs`: containment = shared / |smaller set|,
    the measure that catches SUB-DOCUMENT duplication (a quote, a
    boilerplate block, a doc embedded whole in a larger one) that
    Jaccard misses — a 500-gram doc fully contained in a 50k-gram doc
    scores containment 1.0 but Jaccard ~0.01.

    Same inverted-index candidate generation and skew treatment as
    the Jaccard form (shared-gram equi-join, stop-gram cap, merge-pin
    on the stats-less self-join — one code path via the identical
    shared-counts pipeline, so the two measures can never disagree on
    candidates). Output orients each pair: ``contained_id`` is the
    smaller gram set (ties to the lower id), ``container_id`` the
    larger; ``containment`` ∈ (0, 1].
    """
    shared = _ngram_shared_counts(df, text_col, id_col, n, block_cols, max_gram_df)
    # tie (equal sizes) orients to id_a, which is < id_b by the join
    smaller_is_a = F.col("count_a") <= F.col("count_b")
    cont = (F.col("shared") / F.least("count_a", "count_b")).alias("containment")
    return (
        shared.select(
            F.when(smaller_is_a, F.col("id_a")).otherwise(F.col("id_b")).alias("contained_id"),
            F.when(smaller_is_a, F.col("id_b")).otherwise(F.col("id_a")).alias("container_id"),
            cont,
        )
        .filter(F.col("containment") >= threshold)
    )


def ngram_containment_collapsed_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    max_gram_df: int | None = 10_000,
    broadcast_cap: int = 2_000_000,
) -> DataFrame:
    """Containment pairs with UPSTREAM CLONE COLLAPSE — the measured
    form of the 100 TB mitigation documented beside
    :func:`ngram_containment_pairs` (r10 verdict #1): the exact
    containment self-join's cost law is Σ_gram df², quadratic in
    normalized-exact clone-group size until the df>cap stop-gram cap
    saturates; a corpus with c-deep reformat-clone groups pays ~c²/2
    pair rows per gram for pairs that carry no containment
    information (clones of one doc trivially contain each other).
    Collapsing those groups FIRST with the linear-cost
    :func:`dedup_normalized_exact_groups` tier (one Arrow digest pass
    + one 16-byte-key hash agg) removes the c² term before any pair
    math: containment runs on one survivor per normalized group, and
    each output pair carries both endpoints' ``dup_count`` so
    downstream expansion to clone members stays exact (every member
    of the contained group is contained in every member of the
    container group — normalized-identical docs have identical
    post-normalization gram sets, and the measure is computed on the
    raw survivors, the group's min-id representatives).

    Cost composition: digest pass (linear in chars) + survivor
    restriction (one equi-join on the id key — the text column
    shuffles once, far cheaper than the Σ df² rows it removes when
    clones exist; when the corpus has NO normalized clones the whole
    composition is pure overhead, measured at ~1.1× of bare exact on
    the marker-token big-clone fixture, BASELINE.md "r11: containment
    upstream collapse") + the unchanged exact containment core on
    survivors + two pair-sized dup-count joins.

    Returns (contained_id, container_id, containment, contained_dups,
    container_dups); ids are normalized-group survivors (min id)."""
    groups = dedup_normalized_exact_groups(df, text_col, id_col)
    # counts feeds THREE consumers (survivor semi-join + both dup-count
    # joins); materialize it eagerly so the Arrow digest pass over the
    # corpus runs exactly once — unpersisted, the digest kernel +
    # hash agg re-ran per consumer (measured 42 s → 17 s cold at
    # sf0.01). Tiny residency: two fixed-width columns, one row per
    # normalized group (same eager-localCheckpoint discipline as
    # _capped_gram_index).
    counts = groups.select(
        F.col("keep_id"), F.col("dup_count").cast("long").alias("dup_count")
    ).localCheckpoint(eager=True)
    # Adaptive survivor restriction (r11 measurement): the checkpoint
    # above makes n_groups a free driver-side statistic, and the two
    # regimes want opposite joins. LOW-CLONE corpora (survivors ≈
    # corpus — the sf10 rung: 493k survivors for 7k dups) must NOT
    # shuffle the text column just to drop a few duplicates; a
    # BROADCAST semi-join (ids only, 8 B/row, ≤~16 MB at the cap)
    # keeps the gram tokenizer reading straight off the scan — the
    # shuffle form measured 72 s vs exact's 39 s at sf10, broadcast
    # cuts the composition overhead to the digest pass. CLONE-HEAVY
    # corpora past the cap (the actual collapse regime at 100 TB)
    # take the shuffle semi-join, amortized by the Σ df² pair volume
    # it removes (2.25× net win on the 150-deep exactclone fixture).
    n_groups = counts.count()
    broadcastable = n_groups <= broadcast_cap
    surv_ids = counts.select(F.col("keep_id").alias(id_col))
    survivors = df.join(
        F.broadcast(surv_ids) if broadcastable else surv_ids,
        id_col,
        "left_semi",
    )
    pairs = ngram_containment_pairs(
        survivors, text_col, id_col, n, threshold, block_cols, max_gram_df
    )
    # dup-count annotation: same statistic picks the join strategy —
    # broadcast counts (two fixed-width cols) under the cap, else
    # shuffle-hash on the pair ids (pairs is the small side by
    # construction: threshold-filtered survivor pairs).
    ca = counts.select(
        F.col("keep_id").alias("contained_id"),
        F.col("dup_count").alias("contained_dups"),
    )
    cb = counts.select(
        F.col("keep_id").alias("container_id"),
        F.col("dup_count").alias("container_dups"),
    )
    if broadcastable:
        ca, cb = F.broadcast(ca), F.broadcast(cb)
    else:
        ca, cb = ca.hint("shuffle_hash"), cb.hint("shuffle_hash")
    return (
        pairs.join(ca, "contained_id")
        .join(cb, "container_id")
        .select(
            "contained_id",
            "container_id",
            "containment",
            "contained_dups",
            "container_dups",
        )
    )


MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime: products stay < 2^62


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded universal-family coefficients h_i(x) = (a_i·x + b_i) mod p,
    shared between the Spark operator and the generated DuckDB oracle."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def _minhash_md5_sig_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    materialize: bool = True,
):
    """Shared md5-family MinHash pipeline front half: shingle sets and
    banded signature buckets for one input. Returns (sh, buckets) —
    ``sh``: (id, sh: array of distinct shingles); ``buckets``: (id,
    band, bh) with one row per band. Each output is consumed twice
    downstream (candidate join + verification), and a corpus index is
    reused across probe batches:

    - ``materialize=True`` (corpus side): both are lineage-owned
      ``localCheckpoint`` blocks (skew.pinned, form 1), freed by the
      ContextCleaner once the caller's DataFrames go out of scope.
      ``sh`` checkpoints FIRST and ``buckets`` derives from the
      checkpointed ``sh``, so the expensive shingle+signature
      derivation runs exactly once (checkpointing an independently
      built ``buckets`` would re-derive the whole pipeline: the r5
      ADVICE finding).
    - ``materialize=False`` (per-batch probe side): no materialization
      — the ``repartition(id)`` exchange below is identical in every
      consumer branch, so ReuseExchange covers the shared work within
      one query, and no per-batch job runs before the batch's own."""
    r = num_hashes // bands
    coeffs = minhash_coeffs(num_hashes)
    p = MINHASH_PRIME
    sh = (
        df.repartition(F.col(id_col))
        .select(F.col(id_col), _shingles(F.col(text_col), shingle_n).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    if materialize:
        sh = sh.localCheckpoint(eager=True)
    base = lambda s: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"), F.lit(p)
    )
    hashed = sh.withColumn("hs", F.transform("sh", base))
    sig_cols = [
        F.array_min(
            F.transform(F.col("hs"), lambda h: (h * F.lit(a) + F.lit(b)) % p)
        ).alias(f"s{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    with_sig = hashed.select(id_col, *sig_cols)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"s{b * r + j}").cast("string") for j in range(r)]
                )
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    buckets = with_sig.select(
        id_col, F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    if materialize:
        # derives from the already-checkpointed sh: only the (cheap)
        # signature/band projection over the vocabulary-sized sh runs
        buckets = buckets.localCheckpoint(eager=True)
    return sh, buckets


def minhash_near_duplicates_md5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Banded MinHash-LSH over an engine-portable hash family: shingle
    base hash = first 8 hex chars of md5 (32 bits), band bucket = md5 of
    the comma-joined band signature — every step replayable bit-for-bit
    in any engine with md5, which makes the WHOLE pipeline (candidate
    generation included) ORACLE-CHECKABLE. The package's one MinHash
    implementation (dedup_minhash, dedup_minhash_md5, the incremental
    and persisted-index paths all run these signatures).

    AND-OR banding: shingle → k minhashes → b bands of r=k/b rows →
    band-bucket equi-join for candidates (a pair collides iff some band
    matches on all r rows, P = 1-(1-j^r)^b) → exact Jaccard
    verification on the candidates → filter ≥ threshold. Spark ML's
    MinHashLSH is OR-only (any single hash match is a candidate), which
    degenerates to ~all-pairs on corpora with shared vocabulary; the
    AND-banding keeps the candidate set near the true near-dup set.
    Recall < 1 per the collision curve.
    """
    sh, buckets = _minhash_md5_sig_buckets(
        df, text_col, id_col, shingle_n, num_hashes, bands
    )
    a_, b_ = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a_.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jc = inter / union
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jc >= threshold)
        .select("id_a", "id_b", F.round(jc, 6).alias("jaccard"))
    )


def minhash_incremental_md5(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental NEAR-dup screening of a new ingest batch against an
    existing corpus — the MinHash analogue of exact-digest
    ``dedup_incremental``, and the shape repeat ingestion actually has
    at 100 TB: the corpus's banded signature index is computed once
    (in production: persisted, bucketed by (band, bh)) and each new
    batch probes it; the corpus text is never re-shuffled per batch and
    batch×batch self-pairs are out of scope (handled by the batch's own
    self-dedup).

    Same md5-family signatures as :func:`minhash_near_duplicates_md5`
    (AND-OR banding, exact-Jaccard verification on candidates), so the
    whole screen — candidate generation included — replays bit-for-bit
    in any md5-capable engine. The batch side is the small side of
    every join: AQE broadcasts its buckets against the corpus index and
    its shingle sets against the verification join.

    Returns one row per batch document: (id_col, is_near_dup,
    n_matches) where n_matches counts distinct corpus documents with
    verified Jaccard ≥ threshold.

    The corpus index is two lineage-owned checkpoints (see
    :func:`_minhash_md5_sig_buckets`): the expensive shingle+signature
    derivation materializes exactly once, and the ContextCleaner frees
    the blocks once the returned frame goes out of scope, so a long
    session accumulates no cache entries (ReuseExchange alone
    re-derives the index per consumer branch — measured 3.0 s vs
    1.1 s at sf0.1). Callers that reuse the index across many probe
    batches should build it once with :func:`_minhash_md5_sig_buckets`
    and call :func:`minhash_probe_md5` per batch, as the streaming
    screen does.
    """
    sh_c, bk_c = _minhash_md5_sig_buckets(
        corpus, text_col, id_col, shingle_n, num_hashes, bands
    )
    return minhash_probe_md5(
        sh_c, bk_c, batch, text_col, id_col, shingle_n, num_hashes, bands, threshold
    )


def minhash_probe_md5(
    sh_c: DataFrame,
    bk_c: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Probe half of the incremental MinHash screen: given a corpus's
    PRE-BUILT signature index (``sh_c``/``bk_c`` from
    :func:`_minhash_md5_sig_buckets` — built once, reused across
    batches), sign just the new batch and screen it. See
    :func:`minhash_incremental_md5` for semantics and the returned
    schema. The batch side is built unmaterialized: this runs once per
    micro-batch in a potentially unbounded stream, and ReuseExchange
    dedups the batch's repartition across the candidate/verify
    branches."""
    sh_b, bk_b = _minhash_md5_sig_buckets(
        batch, text_col, id_col, shingle_n, num_hashes, bands, materialize=False
    )
    candidates = (
        bk_b.select(
            F.col(id_col).alias("__bid"), "band", "bh"
        )
        .join(bk_c.select(F.col(id_col).alias("__cid"), "band", "bh"), ["band", "bh"])
        .select("__bid", "__cid")
        .dropDuplicates(["__bid", "__cid"])
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c"))
    union = F.size("sh_b") + F.size("sh_c") - inter
    matches = (
        candidates.join(
            sh_b.select(F.col(id_col).alias("__bid"), F.col("sh").alias("sh_b")),
            "__bid",
        )
        .join(
            sh_c.select(F.col(id_col).alias("__cid"), F.col("sh").alias("sh_c")),
            "__cid",
        )
        .filter((inter / union) >= threshold)
        .groupBy("__bid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
    )
    return (
        batch.select(F.col(id_col))
        # matches is a per-batch-doc aggregate (≤ batch rows by
        # construction), so broadcasting it is safe whenever the batch
        # itself is probe-sized; the hint matters because the batch
        # side is unmaterialized and the static planner sees no size
        # stats.
        .join(
            F.broadcast(matches.withColumnRenamed("__bid", id_col)), id_col, "left"
        )
        .select(
            id_col,
            F.col("n_matches").isNotNull().alias("is_near_dup"),
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
        )
    )


def minhash_persist_index(
    corpus: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Build the corpus's MinHash index ONCE and persist it: the
    banded bucket table under ``path``/buckets and the shingle sets
    (needed for exact-Jaccard verification of candidates) under
    ``path``/shingles. The serving shape for repeat ingestion — after
    this, every batch screen is :func:`minhash_load_index` +
    :func:`minhash_probe_md5` and the corpus TEXT is never read again.
    At warehouse scale write ``buckets`` with ``bucketBy(band, bh)``
    into a catalog table so the per-batch candidate join is
    exchange-free on the corpus side; plain parquet here keeps the
    test-path self-contained."""
    sh, bk = _minhash_md5_sig_buckets(
        corpus, text_col, id_col, shingle_n, num_hashes, bands
    )
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    bk.write.mode("overwrite").parquet(f"{path}/buckets")


def minhash_load_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted MinHash index: returns (shingles, buckets) in
    the shape :func:`minhash_probe_md5` consumes."""
    return (
        spark.read.parquet(f"{path}/shingles"),
        spark.read.parquet(f"{path}/buckets"),
    )


def normalize_text(text_col: Column) -> Column:
    """Aggressive text normalization for the 'fuzzy-exact' dedup tier
    (the Dolma/RefinedWeb step between byte-exact and MinHash):
    lowercase, strip every non-alphanumeric character except
    whitespace, collapse whitespace runs, trim. Deliberately written in
    the engine-portable regex subset (no classes beyond []-sets, no
    lookarounds) so an oracle replays it verbatim."""
    out = F.lower(text_col)
    out = F.regexp_replace(out, "[^a-z0-9 \t\n]", "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


_DELETE_TABLE: dict | None = None


def _normalize_delete_table() -> dict:
    """Delete-table for :func:`_normalized_digest_kernel`, covering the
    FULL Unicode range (``sys.maxunicode + 1`` = 0x110000) so astral
    codepoints (emoji, supplementary-plane CJK, Deseret, ...) are
    deleted exactly as the oracle's ``[^a-z0-9 \\t\\n]`` regex deletes
    them. Built lazily and cached per process — a module-level function
    pickles by reference, so the ~1.1M-key dict is constructed once per
    executor instead of being shipped in every task closure."""
    global _DELETE_TABLE
    if _DELETE_TABLE is None:
        import sys

        keep = set("abcdefghijklmnopqrstuvwxyz0123456789 \t\n")
        _DELETE_TABLE = {
            cp: None
            for cp in range(sys.maxunicode + 1)
            if chr(cp) not in keep
        }
    return _DELETE_TABLE


def _normalized_digest_kernel(text_col: str, id_col: str):
    """Single-pass Arrow kernel computing md5(normalize(text)):
    ``str.translate`` with a delete-table (one C pass over the chars)
    followed by ``" ".join(s.split())`` replaces the three sequential
    JVM regexp_replace passes, which re-walked and re-allocated every
    document per pass and were the char-volume-bound 4.0× rung in the
    r8 multi-scale table (60.3 s at 100× → ~8 s). Digest-equivalence
    with the regex form (which the oracle still replays verbatim):
    only [a-z0-9 \\t\\n] survive the delete table, so the collapse step
    sees pure-ASCII whitespace where Python ``split()`` and the
    engines' ``\\s+`` agree, and the few codepoints that LOWERCASE
    into that alphabet (Latin capitals, U+212A KELVIN SIGN → k) map
    identically under Python ``str.lower`` and UTF8String's
    locale-independent lowercasing. Verified digest-identical against
    the JVM chain on the full 30× replica corpus. A null text digests
    to NULL, as ``md5(normalize_text(NULL))`` and the oracle do."""
    import hashlib

    import pyarrow as pa

    def kern(batches):
        table = _normalize_delete_table()
        for rb in batches:
            digests = [
                None
                if s is None
                else hashlib.md5(
                    " ".join(s.lower().translate(table).split()).encode()
                ).hexdigest()
                for s in rb.column(text_col).to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col), pa.array(digests, pa.string())],
                names=[id_col, "norm_digest"],
            )

    return kern


def dedup_normalized_exact_groups(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Normalization-invariant exact dedup: documents that differ only
    in case, punctuation, or whitespace collapse to one group. The tier
    every production pipeline runs between byte-exact sha dedup (which
    misses trivially-reformatted copies) and near-dup LSH (which is
    ~10× the cost): one projection computing md5(normalize(text)) in
    the scan stage, then ONE hash aggregation on the 16-byte digest —
    identical cost model to :func:`dedup_exact`, so it holds at 100 TB
    for the same reason (the shuffle carries 16-byte keys, never text).
    The digest projection is the fused single-pass Arrow kernel
    (:func:`_normalized_digest_kernel`); :func:`normalize_text` is the
    Column-expression twin the oracle replays.

    Returns (norm_digest, keep_id, dup_count) with keep_id = min id
    per group (deterministic survivor)."""
    src = fan(df, id_col, BYTES_PER_TASK).select(
        F.col(id_col), F.col(text_col)
    )
    id_type = dict(src.dtypes)[id_col]
    return (
        src.mapInArrow(
            _normalized_digest_kernel(text_col, id_col),
            schema=f"{id_col} {id_type}, norm_digest string",
        )
        .groupBy("norm_digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
    )
