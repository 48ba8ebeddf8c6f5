"""Property-based tests (SURVEY.md §5.5): harmonization and dedup
invariants under hypothesis-generated inputs. Pure-Python properties
run broadly; Spark-backed ones use small bounded examples."""

import hypothesis.strategies as st
import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from pyspark.sql import types as T

from graphdbetl_spark.etl.schema import merge_schemas
from graphdbetl_spark.operators.dedup import dedup_merge_by_source, dedup_merge_first_wins

_TYPES = [T.LongType(), T.StringType(), T.DoubleType(), T.IntegerType(), T.BooleanType()]

_field = st.tuples(
    st.text(alphabet="abcdefgh", min_size=1, max_size=3), st.sampled_from(range(len(_TYPES)))
)
_schema = st.lists(_field, min_size=1, max_size=6, unique_by=lambda f: f[0]).map(
    lambda fs: T.StructType([T.StructField(n, _TYPES[i]) for n, i in fs])
)


def _consistent(schemas):
    seen: dict[str, T.DataType] = {}
    for s in schemas:
        for f in s.fields:
            if f.name in seen and seen[f.name] != f.dataType:
                return False
            seen[f.name] = f.dataType
    return True


@given(st.lists(_schema, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_merge_name_set_is_union_and_permutation_invariant(schemas):
    if not _consistent(schemas):
        return
    merged = merge_schemas(schemas)
    assert {f.name for f in merged.fields} == {f.name for s in schemas for f in s.fields}
    reversed_merge = merge_schemas(list(reversed(schemas)))
    assert {f.name for f in merged.fields} == {f.name for f in reversed_merge.fields}
    # types stable regardless of order (conflict-free inputs)
    assert {f.name: f.dataType for f in merged.fields} == {
        f.name: f.dataType for f in reversed_merge.fields
    }


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),  # id
            st.one_of(st.none(), st.integers(0, 9)),  # value
            st.integers(0, 3),  # source order
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dedup_merge_idempotent_and_covering(spark, rows):
    df = spark.createDataFrame(rows, schema="id int, v int, src int")
    once = dedup_merge_first_wins(df, "id", order_by=["src"])
    got = {r.id: r.v for r in once.collect()}
    # one row per distinct id
    assert set(got) == {r[0] for r in rows}
    # idempotent: dedup of the dedup result is itself
    twice = dedup_merge_first_wins(once, "id", order_by=["src"])
    assert {(r.id, r.v) for r in twice.collect()} >= {(i, v) for i, v in got.items()}
    # first-non-null-by-src semantics, python reference model
    for i in set(r[0] for r in rows):
        vals = sorted(((s, v) for (j, v, s) in rows if j == i and v is not None))
        expected = vals[0][1] if vals else None
        assert got[i] == expected, (i, vals)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 4),  # id, repeated within and across sources
            st.sampled_from(["b", "a", "cc", "c"]),  # source
            st.one_of(st.none(), st.integers(0, 9)),
            st.one_of(st.none(), st.text(alphabet="xyz", max_size=2)),
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_builder_merge_equals_struct_min_merge(spark, rows):
    """The graph builder's per-source merge answers like the struct-min
    merge ordered by source: first source in name order with a non-null
    value, the min value on a tie inside one source."""
    df = spark.createDataFrame(rows, schema="_id int, _source string, n int, s string")
    sources = {r[1] for r in rows}
    got = dedup_merge_by_source(df, "_id", "_source", sources)
    want = dedup_merge_first_wins(df, "_id", order_by=["_source"])
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())


def test_cast_roundtrip(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "x int")
    back = df.select(F.col("x").cast("string").cast("int").alias("x"))
    assert sorted(r.x for r in back.collect()) == list(range(100))


@given(
    st.lists(
        st.text(alphabet="abc d", min_size=1, max_size=400), min_size=1, max_size=5
    ),
    st.integers(min_value=1, max_value=50),
    st.integers(min_value=0, max_value=30),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_chunking_covers_text_exactly(spark, texts, stride, extra):
    """For size >= stride, concatenating chunk[0] with the last
    (size-overlap) chars... simpler invariant: chunk starts tile the
    text at `stride`, every chunk equals the matching slice, and the
    count is floor((len-1)/stride)+1."""
    from graphdbetl_spark.operators.curation import chunk_text

    size = stride + extra
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = chunk_text(df, "text", "doc_id", size=size, stride=stride).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text
    for i, t in enumerate(texts):
        chunks = by_doc[i]
        assert len(chunks) == max(len(t) - 1, 0) // stride + 1
        for cid, ctext in chunks.items():
            assert ctext == t[cid * stride : cid * stride + size]
        # full coverage: every char index falls inside some chunk window
        assert (len(chunks) - 1) * stride + size >= len(t)


# ---------------------------------------------------------- media codecs


@given(
    doc_id=st.integers(min_value=0, max_value=2**40),
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
)
@settings(max_examples=60, deadline=None)
def test_ppm_bmp_roundtrip_any_dims(doc_id, w, h):
    """Both image codecs must invert exactly for any dimensions —
    including widths whose BMP rows need padding (w % 4 != 0)."""
    from graphdbetl_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
        synthetic_rgb,
    )

    rgb = synthetic_rgb(doc_id, w, h)
    for enc, fmt in ((encode_ppm, "ppm"), (encode_bmp, "bmp")):
        got_fmt, gw, gh, got = decode_image(enc(w, h, rgb))
        assert (got_fmt, gw, gh, got) == (fmt, w, h, rgb)


@given(
    doc_id=st.integers(min_value=0, max_value=2**40),
    n=st.integers(min_value=1, max_value=64),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_any_length(doc_id, n, rate):
    import struct

    from graphdbetl_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        synthetic_pcm16,
    )

    pcm = synthetic_pcm16(doc_id, n)
    grate, ch, samples = decode_wav(encode_wav(rate, 1, pcm))
    assert (grate, ch) == (rate, 1)
    assert struct.pack(f"<{n}h", *samples) == pcm


@given(
    doc_id=st.integers(min_value=0, max_value=2**20),
    n_frames=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=40, deadline=None)
def test_ppm_stream_demux_any_shape(doc_id, n_frames, w, h):
    """Demux must recover exactly the frames that were concatenated,
    for any frame count and dimensions (headers are variable-width)."""
    from graphdbetl_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
        encode_ppm_stream,
        split_ppm_stream,
        synthetic_rgb,
    )

    frames = [
        encode_ppm(w, h, synthetic_rgb(doc_id * 1000 + f, w, h))
        for f in range(n_frames)
    ]
    out = split_ppm_stream(encode_ppm_stream(frames))
    assert out == frames
    for f, fr in enumerate(out):
        assert decode_image(fr)[3] == synthetic_rgb(doc_id * 1000 + f, w, h)


_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])


@given(
    st.lists(
        st.lists(_word, min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_segment_dedup_reference_model(spark, docs):
    """segment_dedup against a direct python model: first corpus-wide
    occurrence of each width-3 word window survives, documents rebuild
    from surviving windows in order."""
    from graphdbetl_spark.operators.curation import segment_dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["n_kept"], r["clean_text"])
        for r in segment_dedup(df, "text", "doc_id", width=3).collect()
    }

    seen: set[str] = set()
    for i, toks in enumerate(rows):
        words = rows[i][1].split()
        segs = [" ".join(words[j : j + 3]) for j in range(0, len(words), 3)]
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        assert got[i] == (len(segs), len(kept), " ".join(kept)), (i, segs)


@given(
    st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(1, 40),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_temperature_sample_rate_invariants(spark, strata):
    """Rates are capped at 1e6; the LARGEST stratum's rate never
    exceeds any smaller stratum's (α<1 flattens toward uniform); a
    single stratum keeps everything."""
    from graphdbetl_spark.operators.sampling import temperature_sample

    rows = [
        (1000 * k + i, lang)
        for k, (lang, n) in enumerate(sorted(strata.items()))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "doc_id", "lang", alpha=0.5)
    rates = {
        r["lang"]: r["rate_micro"]
        for r in out.select("lang", "rate_micro").distinct().collect()
    }
    assert all(0 <= v <= 1_000_000 for v in rates.values())
    counts = dict(strata)
    for la, ra in rates.items():
        for lb, rb in rates.items():
            if counts[la] > counts[lb]:
                assert ra <= rb, (rates, strata)
    if len(strata) == 1:
        (only,) = strata
        assert rates.get(only, 1_000_000) == 1_000_000
        assert out.count() == len(rows)


def test_url_canonicalization_idempotent_batch(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) over a
    generated cross-product of scheme/host/port/path/query/fragment
    variants (320 URLs) — a canonicalizer that isn't idempotent
    produces different dedup groups on recrawl of its own output."""
    from graphdbetl_spark.operators.curation import canonicalize_url

    schemes = ["http", "HTTP", "https"]
    hosts = ["Ex.COM", "www.ex.com", "A.b.C.de"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/a/b", "/A/b/"]
    queries = ["", "?utm_source=x", "?id=7&utm_medium=y", "?utm_a=1&utm_b=2"]
    frags = ["", "#x"]
    urls = [
        f"{s}://{h}{po}{pa}{q}{fr}"
        for s in schemes for h in hosts for po in ports[:2]
        for pa in paths for q in queries for fr in frags[:1]
    ] + [
        f"https://{h}{po}{pa}{q}{fr}"
        for h in hosts[:2] for po in (":443", ":8443") for pa in paths[:3]
        for q in queries[:2] for fr in frags
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["i", "url"])
    once = df.select("i", canonicalize_url(F.col("url")).alias("c1"))
    twice = once.select(
        "i", "c1", canonicalize_url(F.col("c1")).alias("c2")
    )
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert bad == [], bad[:5]
