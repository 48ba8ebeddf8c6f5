"""Text analysis functions (reference R8 + north-star text ops).

R8: the reference ASCII-folds strings on insert via
``unicodedata.normalize('NFKD', d).encode('ascii', 'ignore')``
(``graph_db_builder.py:521-527``) — a per-row Python loop there; here an
Arrow-batched scalar UDF (the one sanctioned Python path), since no
Spark built-in does NFKD decomposition.

The rest are built-in-only column expressions: token counting,
quality scoring, n-gram language ID, rolling-hash fingerprints.
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import StringType

from graphdbetl_spark.operators.skew import fan


# DataType instance (not DDL string): a string return type would need an
# active SparkSession to parse at import time.
@F.arrow_udf(StringType())
def nfkd_ascii_fold(s: pa.Array) -> pa.Array:
    """NFKD-normalize and drop non-ASCII ('Müller café ☃' → 'Muller cafe ');
    a null stays null."""
    return pa.array(
        [
            unicodedata.normalize("NFKD", v).encode("ascii", "ignore").decode("ascii")
            if v is not None
            else None
            for v in s.to_pylist()
        ],
        pa.string(),
    )


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string → empty array."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1] from length, punctuation
    density, and mean word length — all JVM-side expressions.

    score = 0.4·len_ok + 0.3·(1-punct_ratio) + 0.3·wordlen_ok
    """
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(1.0))
    tok = tokens(text)
    mean_wordlen = F.when(
        F.size(tok) > 0,
        F.aggregate(tok, F.lit(0), lambda a, t: a + F.length(t)) / F.size(tok),
    ).otherwise(F.lit(0.0))
    len_ok = F.when((n >= 100) & (n <= 20000), 1.0).when(n > 0, 0.5).otherwise(0.0)
    wordlen_ok = F.when((mean_wordlen >= 3) & (mean_wordlen <= 10), 1.0).otherwise(0.5)
    return F.round(0.4 * len_ok + 0.3 * (1.0 - punct_ratio) + 0.3 * wordlen_ok, 4)


# Fixed stopword list for the classifier feature below (and reusable
# by other ratio features). A real deployment swaps in a per-language
# list; the operator shape (token ∈ broadcast-literal set) is identical.
_EN_STOPWORDS = (
    "the", "and", "of", "to", "in", "is", "that", "with",
    "a", "for", "on", "as", "it", "by", "at", "from",
)


def quality_logit(text: Column) -> Column:
    """Model-based quality score in (0,1): a logistic regression over
    five cheap portable text features — the operator shape of a
    fastText-style quality classifier (as used for pretraining-corpus
    filtering) with FIXED, documented coefficients standing in for
    trained weights (the runtime plumbing — feature extraction in the
    scan projection, a dot product, a sigmoid — is identical, and
    that's what this engine owns; the weights belong to the modeler).

    Features: punctuation ratio, stopword ratio, mean word length,
    log10 document length, duplicate-token fraction. All JVM-side
    expressions, zero shuffle, RE2-portable so a SQL oracle replays
    the score bit for bit at 6 decimals.
    """
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[\p{Punct}]", ""))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(1.0))
    tok = tokens(F.lower(text))
    n_tok = F.size(tok)
    stop_ratio = F.when(
        n_tok > 0,
        F.size(F.filter(tok, lambda t: t.isin(*_EN_STOPWORDS))) / n_tok,
    ).otherwise(F.lit(0.0))
    mean_wordlen = F.when(
        n_tok > 0,
        F.aggregate(tok, F.lit(0), lambda a, t: a + F.length(t)) / n_tok,
    ).otherwise(F.lit(0.0))
    log_len = F.log10(n.cast("double") + F.lit(1.0))
    dup_frac = F.when(
        n_tok > 0, (n_tok - F.size(F.array_distinct(tok))) / n_tok
    ).otherwise(F.lit(0.0))
    z = (
        F.lit(-1.0)
        - 4.0 * punct_ratio
        + 3.0 * stop_ratio
        + 0.2 * mean_wordlen
        + 0.5 * log_len
        - 2.0 * dup_frac
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


# Tiny per-language marker lexicons for heuristic language ID. At real
# scale this would be a character-n-gram profile model; the operator
# shape (score per language → argmax) is identical.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es": ("el", "la", "los", "que", "de", "es", "una", "por"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "que"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不"),
}


def language_id(text: Column) -> Column:
    """Heuristic language ID: count marker-token hits per language,
    take the argmax; ties break to the lexicographically smallest
    language. Pure built-ins: argmax = array_min over (-score, lang)
    structs (struct comparison is lexicographic)."""
    tok = tokens(F.lower(text))
    candidates = F.array(*[
        F.struct(
            (-F.size(F.filter(tok, lambda t: t.isin(*markers)))).alias("neg_score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(_LANG_MARKERS.items())
    ])
    return F.array_min(candidates).getField("lang")


def rolling_fingerprint(text: Column, base: int = 257, mod: int = (1 << 61) - 1) -> Column:
    """Polynomial rolling-hash fingerprint of the whole document:
    h = Σ byte·base^i mod m, folded JVM-side over the char array."""
    chars = F.split(text, "")
    return F.aggregate(
        F.filter(chars, lambda c: c != ""),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, c: (acc * base + F.ascii(c)) % F.lit(mod).cast("decimal(38,0)"),
        lambda acc: acc.cast("string"),
    )


# RE2-compatible subword proxy: alnum runs or single non-alnum,
# non-space chars (CJK text counts per character). No lookarounds, so
# the DuckDB oracle replays the pattern verbatim.
PORTABLE_SUBWORD_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def portable_subword_token_count(text: Column) -> Column:
    """Approximate subword token count: word/number runs plus single
    punctuation marks, the standard cheap proxy for LLM token
    budgeting."""
    return F.size(F.regexp_extract_all(text, F.lit(PORTABLE_SUBWORD_PATTERN), F.lit(0)))


def rolling_fingerprints(
    df, text_col: str, id_col: str, base: int = 257, mod: int = (1 << 61) - 1
):
    """Corpus-scale sibling of :func:`rolling_fingerprint`: the same
    polynomial hash as an Arrow kernel. The Column form folds
    decimal(38,0) multiply/mod per CHARACTER in the interpreted
    evaluator — 61 s per 500k docs at the 100× replica; Python
    arbitrary-precision ints compute the identical residues (pure
    integer arithmetic, code-point parity with ascii()/ord) in
    seconds. Returns (id, fingerprint string)."""
    import pyarrow as pa

    def kern(batches):
        for rb in batches:
            out = []
            for t in rb.column(text_col).to_pylist():
                h = 0
                for ch in t or "":
                    h = (h * base + ord(ch)) % mod
                out.append(str(h))
            yield pa.RecordBatch.from_arrays(
                [rb.column(id_col), pa.array(out, pa.string())],
                names=[id_col, "fingerprint"],
            )

    src = fan(df, id_col).select(id_col, text_col)
    id_type = dict(src.dtypes)[id_col]
    return src.mapInArrow(kern, schema=f"{id_col} {id_type}, fingerprint string")
