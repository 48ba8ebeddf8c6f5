"""Tests for the r4 curation/dedup additions: normalized-exact dedup,
URL canonicalization, character-entropy gate, Gopher rules, bigram-LM
scoring, and the mixture epoch planner."""

import math

import pytest

from graphdbetl_spark.operators.curation import (
    bigram_logprob,
    canonicalize_url,
    char_entropy,
    dedup_url_groups,
    gopher_quality,
)
from graphdbetl_spark.operators.dedup import dedup_normalized_exact_groups
from graphdbetl_spark.operators.sampling import mixture_epoch_plan


def test_normalized_exact_collapses_reformatted_copies(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello,   world!"),
            (2, "hello world"),
            (3, "HELLO -- WORLD??"),
            (4, "goodbye world"),
        ],
        ["doc_id", "text"],
    )
    rows = dedup_normalized_exact_groups(df, "text", "doc_id").collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in rows}
    assert by_keep == {1: 3, 4: 1}


def test_normalized_digest_kernel_astral_parity(spark):
    """The fused Arrow digest kernel must agree with the oracle's
    regex normalization on ASTRAL-plane text (r9 ADVICE: the delete
    table was built over range(0x11000), silently keeping emoji and
    every supplementary-plane codepoint the `[^a-z0-9 \\t\\n]` regex
    deletes). Parity is checked digest-for-digest per document."""
    import pyspark.sql.functions as F

    from graphdbetl_spark.operators.dedup import (
        _normalized_digest_kernel,
        normalize_text,
    )

    docs = [
        (1, "hello \U0001f600 x"),           # emoji (U+1F600)
        (2, "hello  x"),                      # its normalized twin
        (3, "a\U00011000b\U0010ffffc"),       # U+11000 and max codepoint
        (4, "abc"),
        (5, "\U00010400deseret\U00010428"),   # Deseret caps+lower
        (6, "KKelvin"),                  # KELVIN SIGN lowers to k
        (7, "\U0001f600\U0001f680\U0001f4a9"),  # emoji-only -> empty
        (8, ""),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kern_rows = df.mapInArrow(
        _normalized_digest_kernel("text", "doc_id"),
        schema="doc_id bigint, norm_digest string",
    ).collect()
    oracle_rows = df.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("d")
    ).collect()
    kern = {r["doc_id"]: r["norm_digest"] for r in kern_rows}
    oracle = {r["doc_id"]: r["d"] for r in oracle_rows}
    assert kern == oracle
    # emoji doc collapses onto its stripped twin
    assert kern[1] == kern[2]


def test_normalized_exact_null_text_matches_column_twin(spark):
    """A null text gets a NULL digest (its own group), exactly as the
    Column twin md5(normalize_text(text)) and the oracle give it."""
    import pyspark.sql.functions as F

    from graphdbetl_spark.operators.dedup import normalize_text

    df = spark.createDataFrame(
        [(1, "Hello, world"), (2, "hello world"), (3, None)],
        "doc_id long, text string",
    )
    twin = (
        df.groupBy(F.md5(normalize_text(F.col("text"))).alias("norm_digest"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
        .collect()
    )
    got = dedup_normalized_exact_groups(df, "text", "doc_id").collect()
    assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, twin), key=repr)
    assert (None, 3, 1) in {tuple(r) for r in got}


def test_canonicalize_url_cases(spark):
    cases = [
        # (raw, canonical)
        ("HTTP://WWW.Ex.COM:80/a/b/", "http://www.ex.com/a/b"),
        ("http://www.ex.com/a/b?utm_source=x&utm_medium=y", "http://www.ex.com/a/b"),
        ("http://www.ex.com/a/b#frag", "http://www.ex.com/a/b"),
        ("http://www.ex.com/a/b?id=7&utm_medium=y", "http://www.ex.com/a/b?id=7"),
        ("http://www.ex.com/a/b?utm_a=1&id=7", "http://www.ex.com/a/b?id=7"),
        ("https://ex.com:443/x", "https://ex.com/x"),
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),  # non-default kept
        ("http://ex.com/", "http://ex.com"),
        ("http://ex.com", "http://ex.com"),
        # utm stripping is anchored to a [?&] boundary (r4 ADVICE):
        # a param merely *containing* 'utm_...=' is a different param,
        # and 'utm_' inside a path segment or a value is untouched
        ("http://ex.com/a?xutm_source=1", "http://ex.com/a?xutm_source=1"),
        ("http://ex.com/autm_x=1/b", "http://ex.com/autm_x=1/b"),
        ("http://ex.com/a?id=utm_source=x", "http://ex.com/a?id=utm_source=x"),
        ("http://ex.com/a?utm_a=1&utm_b=2&c=3", "http://ex.com/a?c=3"),
        ("http://ex.com/a?utm_a=1&utm_b=2", "http://ex.com/a"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], ["i", "url"]
    )
    import pyspark.sql.functions as F

    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize_url(F.col("url")).alias("c")).collect()
    }
    for i, (raw, want) in enumerate(cases):
        assert got[i] == want, f"{raw} -> {got[i]} != {want}"


def test_dedup_url_groups_keeps_min_id(spark):
    df = spark.createDataFrame(
        [
            (5, "HTTP://A.com/p/"),
            (2, "http://a.com/p"),
            (9, "http://a.com/p#x"),
            (3, "http://b.com/p"),
        ],
        ["doc_id", "url"],
    )
    rows = {r["canon_url"]: r for r in dedup_url_groups(df, "url", "doc_id").collect()}
    assert rows["http://a.com/p"]["keep_id"] == 2
    assert rows["http://a.com/p"]["dup_count"] == 3
    assert rows["http://b.com/p"]["dup_count"] == 1


def test_char_entropy_extremes(spark):
    df = spark.createDataFrame(
        [(1, "aaaaaaaa"), (2, "abcdefghijklmnop"), (3, "aabb")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in char_entropy(df, "text", "doc_id").collect()}
    assert rows[1]["entropy"] == 0.0 and rows[1]["low_entropy"]
    # 16 equiprobable chars -> ln 16 = 2.77, above the 2.5 gate
    assert rows[2]["entropy"] == pytest.approx(math.log(16), abs=1e-6)
    assert not rows[2]["low_entropy"]
    assert rows[3]["entropy"] == pytest.approx(math.log(2), abs=1e-6)
    assert rows[3]["low_entropy"]
    assert rows[1]["n_distinct_chars"] == 1 and rows[2]["n_distinct_chars"] == 16


def test_char_entropy_empty_text(spark):
    """split('','') is [''] in Spark — the empty document must still
    report 0 chars / 0 distinct / entropy 0 like the oracle's
    len(text)=0 (r4 ADVICE: the gate also screens arbitrary streaming
    ingest, where empty rows are routine)."""
    df = spark.createDataFrame([(1, ""), (2, "ab")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in char_entropy(df, "text", "doc_id").collect()}
    assert rows[1]["n_chars"] == 0
    assert rows[1]["n_distinct_chars"] == 0
    assert rows[1]["entropy"] == 0.0 and rows[1]["low_entropy"]
    assert rows[2]["n_chars"] == 2 and rows[2]["n_distinct_chars"] == 2


def test_gopher_quality_rules(spark):
    good = "the quick brown fox jumps over and over with many fine words " * 5
    short = "the cat"
    salad = " ".join(f"tok{i}" for i in range(60))  # no stopwords
    df = spark.createDataFrame(
        [(1, good.strip()), (2, short), (3, salad)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in gopher_quality(df, "text", "doc_id").collect()}
    assert rows[1]["passes"]
    assert not rows[2]["passes"]  # word count < 50
    assert not rows[3]["passes"] and rows[3]["n_stopwords"] == 0
    assert rows[2]["n_words"] == 2
    assert rows[2]["mean_word_len"] == pytest.approx((3 + 3) / 2, abs=1e-9)


def test_bigram_logprob_hand_computed(spark):
    # corpus bigrams: (a,b) x2 from docs 1,2; (b,c) x1 from doc 2.
    # C1(a)=2, C1(b)=1, V=|{a,b,c}|=3.
    df = spark.createDataFrame([(1, "a b"), (2, "a b c")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in bigram_logprob(df, "text", "doc_id").collect()}
    p_ab = math.log((2 + 1) / (2 + 3))
    p_bc = math.log((1 + 1) / (1 + 3))
    assert rows[1]["n_bigrams"] == 1
    assert rows[1]["mean_logprob"] == pytest.approx(round(p_ab, 6), abs=1e-6)
    assert rows[2]["n_bigrams"] == 2
    assert rows[2]["mean_logprob"] == pytest.approx(
        round((p_ab + p_bc) / 2, 6), abs=1e-6
    )


def test_mixture_epoch_plan_budget_identity(spark):
    # two sources, 4:1 token mass; alpha=.5 flattens shares toward the
    # small source; planned tokens must sum to budget_factor * N.
    df = spark.createDataFrame(
        [(i, "w " * 8, "big") for i in range(8)]
        + [(100 + i, "w " * 4, "small") for i in range(4)],
        ["doc_id", "text", "source"],
    )
    rows = {
        r["source"]: r
        for r in mixture_epoch_plan(
            df, "text", "source", alpha=0.5, budget_factor=2.0
        ).collect()
    }
    n_big, n_small = 64, 16
    total = n_big + n_small
    w_big, w_small = math.sqrt(n_big / total), math.sqrt(n_small / total)
    q_big = w_big / (w_big + w_small)
    assert rows["big"]["n_tokens"] == n_big
    assert rows["big"]["share"] == pytest.approx(q_big, abs=1e-6)
    planned = rows["big"]["planned_tokens"] + rows["small"]["planned_tokens"]
    assert planned == pytest.approx(2.0 * total, abs=0.02)
    # upweighted small source repeats more often per pass
    assert rows["small"]["epochs"] > rows["big"]["epochs"]
    assert rows["small"]["epochs"] == pytest.approx(
        2.0 * total * (1 - q_big) / n_small, abs=1e-3
    )


def test_logreg_train_matches_numpy_reference(spark):
    import numpy as np

    from graphdbetl_spark.operators.curation import logreg_train_quality

    texts = [
        (i, " ".join(f"w{j % 7}" for j in range((i % 5 + 1) * 60)))
        for i in range(12)
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {r["feature"]: r["weight"] for r in
           logreg_train_quality(df, "text", "doc_id", iters=10, lr=0.5).collect()}

    # plain-numpy replay of the same features + GD loop
    feats, ys = [], []
    for _, t in texts:
        toks = t.split()
        n = len(toks)
        feats.append([
            n / 100.0,
            sum(len(w) for w in toks) / n / 10.0,
            sum(1 for w in toks if any(c.isalpha() for c in w)) / n,
            len(set(toks)) / n,
        ])
        ys.append(1.0 if n > 200 else 0.0)
    x = np.hstack([np.ones((len(feats), 1)), np.array(feats)])
    y = np.array(ys)
    w = np.zeros(5)
    for _ in range(10):
        p = 1.0 / (1.0 + np.exp(-(x @ w)))
        w = w - 0.5 * (x.T @ (p - y)) / len(y)
    for k, name in enumerate(
        ["bias", "x1_words", "x2_wordlen", "x3_alpha", "x4_ttr"]
    ):
        assert got[name] == pytest.approx(w[k], abs=1e-5), name
    # the weak label is learnable: post-training loss beats iteration 0
    p = 1.0 / (1.0 + np.exp(-(x @ w)))
    assert np.mean((p > 0.5) == (y > 0.5)) >= 0.75
