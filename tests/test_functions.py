"""Unit tests for scalar/vector functions and dedup/similarity
operators on synthetic micro-fixtures (FIXTURES.md §3)."""

import math

import pyspark.sql.functions as F
import pytest

from graphdbetl_spark.functions.text import (
    language_id,
    nfkd_ascii_fold,
    portable_subword_token_count,
    rolling_fingerprint,
    token_count,
)
from graphdbetl_spark.functions.vectors import cosine_similarity, dot, l2_norm
from graphdbetl_spark.operators.dedup import (
    dedup_exact_text,
    dedup_merge_first_wins,
    ngram_jaccard_pairs,
    simhash_fingerprints_md5,
)
from graphdbetl_spark.operators.joins import asof_join
from graphdbetl_spark.operators.multimodal import attach_media_columns, extract_features


class TestNfkdFold:
    def test_folds_accents_and_drops_non_ascii(self, spark):
        # the reference's exact semantics: NFKD then ascii-ignore
        # (graph_db_builder.py:527)
        df = spark.createDataFrame([("Müller café ☃",), (None,)], ["s"])
        out = [r.f for r in df.select(nfkd_ascii_fold("s").alias("f")).collect()]
        assert out[0] == "Muller cafe "
        assert out[1] is None


class TestTokens:
    def test_token_count_handles_empty_and_multispace(self, spark):
        df = spark.createDataFrame([("a  b c",), ("",), ("  ",)], ["s"])
        out = [r.n for r in df.select(token_count(F.col("s")).alias("n")).collect()]
        assert out == [3, 0, 0]

    def test_bpe_ish_counts_subword_pieces(self, spark):
        df = spark.createDataFrame([("don't stop-me now2day",)], ["s"])
        n = df.select(portable_subword_token_count(F.col("s")).alias("n")).first().n
        assert n == 7  # don / ' / t / stop / - / me / now2day


class TestLanguageId:
    def test_marker_based_prediction(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog of the house",), ("der Hund ist nicht ein Katze und",)],
            ["s"],
        )
        out = [r.l for r in df.select(language_id(F.col("s")).alias("l")).collect()]
        assert out == ["en", "de"]

    def test_tie_breaks_to_smallest_lang(self, spark):
        df = spark.createDataFrame([("xyzzy plugh",)], ["s"])  # 0 hits everywhere
        assert df.select(language_id(F.col("s")).alias("l")).first().l == "de"


class TestRollingFingerprint:
    def test_matches_python_reference(self, spark):
        text = "hello world"
        expected = 0
        for ch in text:
            expected = (expected * 257 + ord(ch)) % ((1 << 61) - 1)
        df = spark.createDataFrame([(text,)], ["s"])
        got = df.select(rolling_fingerprint(F.col("s")).alias("h")).first().h
        assert got == str(expected)


class TestVectors:
    def test_dot_norm_cosine(self, spark):
        df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], ["a", "b"])
        row = df.select(
            dot(F.col("a"), F.col("b")).alias("d"),
            l2_norm(F.col("a")).alias("na"),
            cosine_similarity(F.col("a"), F.col("b")).alias("c"),
        ).first()
        assert row.d == pytest.approx(32.0)
        assert row.na == pytest.approx(math.sqrt(14))
        assert row.c == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))


class TestDedup:
    def test_merge_first_wins_fills_from_later_source(self, spark):
        df = spark.createDataFrame(
            [(1, None, "x", 1), (1, "a", None, 2), (2, "b", "y", 1)],
            ["id", "c1", "c2", "src"],
        )
        out = {r.id: r for r in dedup_merge_first_wins(df, "id", order_by=["src"]).collect()}
        assert out[1].c1 == "a" and out[1].c2 == "x"  # first non-null by src order
        assert out[2].c1 == "b" and out[2].c2 == "y"

    def test_exact_text_collapses_duplicates(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
        )
        out = {r.doc_id: r.dup_count for r in dedup_exact_text(df, "text", "doc_id").collect()}
        assert out == {1: 2, 3: 1}

    def test_simhash_identical_docs_share_fingerprint(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz qq ww ee rr tt")],
            ["doc_id", "text"],
        )
        fps = {
            r.doc_id: r.simhash
            for r in simhash_fingerprints_md5(df, "text", "doc_id").collect()
        }
        assert fps[1] == fps[2]
        assert fps[1] != fps[3]

    def test_ngram_jaccard_finds_overlapping_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "a b c d e f z"), (3, "q w e r t y u")],
            ["doc_id", "text"],
        )
        pairs = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.3).collect()
        assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]

    def test_ngram_jaccard_df_cap_bounds_adversarial_common_gram(self, spark):
        """Skew safety: every doc shares one ultra-common gram. Uncapped,
        the inverted-index join emits a candidate for every pair (n²);
        with the df cap the hot gram leaves the vocabulary before the
        self-join, so only genuinely overlapping docs pair up."""
        n = 60
        rows = [(i, f"the common gram u{i} v{i} w{i} x{i}") for i in range(n)]
        rows += [(1000, "dup dup alpha beta gamma delta"), (1001, "dup dup alpha beta gamma delta")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        capped = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.05, max_gram_df=20)
        got = [(p.id_a, p.id_b) for p in capped.collect()]
        # 60 docs × shared 'the common gram' would be 1770 candidate pairs
        # uncapped; capped, only the true near-dup pair survives
        assert got == [(1000, 1001)]
        # uncapped run on the same corpus: the hot gram pairs everything
        uncapped = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.05, max_gram_df=None)
        assert uncapped.count() > n * (n - 1) / 2

    def test_ngram_jaccard_cap_noop_below_threshold(self, spark):
        """Default cap (10k docs) never fires at test corpus sizes — the
        capped operator is bit-identical to exact semantics there."""
        df = spark.createDataFrame(
            [(1, "a b c d e f g"), (2, "a b c d e f z"), (3, "q w e r t y u")],
            ["doc_id", "text"],
        )
        exact = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.0, max_gram_df=None)
        capped = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.0)
        assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, capped.collect()))


class TestAsofJoin:
    def test_latest_right_at_or_before_left(self, spark):
        left = spark.createDataFrame([(1, 10, "L1"), (1, 20, "L2"), (2, 5, "L3")], ["k", "ts", "tag"])
        right = spark.createDataFrame([(1, 8, 100.0), (1, 15, 200.0), (2, 9, 300.0)], ["k", "ts", "v"])
        out = asof_join(
            left, right.withColumnRenamed("v", "rv"), "k", "ts", "ts", ["rv"]
        )
        got = {(r.k, r.ts): r.rv for r in out.collect()}
        assert got[(1, 10)] == 100.0  # right@8
        assert got[(1, 20)] == 200.0  # right@15
        assert got[(2, 5)] is None  # right@9 is after

    def test_tie_right_at_same_ts_matches(self, spark):
        left = spark.createDataFrame([(1, 10)], ["k", "ts"])
        right = spark.createDataFrame([(1, 10, 7.0)], ["k", "ts", "rv"])
        out = asof_join(left, right, "k", "ts", "ts", ["rv"]).collect()
        assert out[0].rv == 7.0


class TestMultimodal:
    def test_feature_extraction_batch_shape(self, spark):
        df = spark.createDataFrame([(1, "abc"), (2, "")], ["doc_id", "text"])
        media = attach_media_columns(df, "text")
        assert dict(media.dtypes)["payload"] == "binary"
        feats = {r.doc_id: r for r in extract_features(media).collect()}
        assert feats[1].n_bytes == 3
        assert feats[1].byte_mean == f"{(97 + 98 + 99) / 3:.4f}"
        assert feats[2].n_bytes == 0

    def test_decode_compressed_is_stubbed(self):
        from graphdbetl_spark.operators.multimodal import decode_image

        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG")

    def test_ppm_round_trip(self):
        from graphdbetl_spark.operators.multimodal import decode_image, encode_ppm, synthetic_rgb

        rgb = synthetic_rgb(7, 5, 4)
        fmt, w, h, got = decode_image(encode_ppm(5, 4, rgb))
        assert (fmt, w, h) == ("ppm", 5, 4)
        assert got == rgb

    def test_ppm_decode_skips_comments(self):
        from graphdbetl_spark.operators.multimodal import decode_image

        payload = b"P6\n# a comment\n2 1\n255\n" + bytes(range(6))
        fmt, w, h, rgb = decode_image(payload)
        assert (fmt, w, h) == ("ppm", 2, 1)
        assert rgb == bytes(range(6))

    def test_bmp_round_trip_with_row_padding(self):
        from graphdbetl_spark.operators.multimodal import decode_image, encode_bmp, synthetic_rgb

        # width 3 -> 9-byte rows pad to 12; bottom-up + BGR must both invert
        rgb = synthetic_rgb(11, 3, 2)
        fmt, w, h, got = decode_image(encode_bmp(3, 2, rgb))
        assert (fmt, w, h) == ("bmp", 3, 2)
        assert got == rgb

    def test_decode_features_end_to_end(self, spark):
        from graphdbetl_spark.operators.multimodal import (
            attach_synthetic_images,
            decode_features,
            synthetic_rgb,
        )

        df = spark.createDataFrame([(3,), (9,)], ["doc_id"])
        for fmt in ("ppm", "bmp"):
            d = attach_synthetic_images(df, "doc_id", width=4, height=3, fmt=fmt)
            out = {r.doc_id: r for r in decode_features(d).collect()}
            for i in (3, 9):
                rgb = synthetic_rgb(i, 4, 3)
                assert (out[i].format, out[i].width, out[i].height) == (fmt, 4, 3)
                assert out[i].sum_r == sum(rgb[0::3])
                assert out[i].sum_g == sum(rgb[1::3])
                assert out[i].sum_b == sum(rgb[2::3])

    def test_resize_real_decode_path(self, spark):
        from graphdbetl_spark.operators.multimodal import (
            attach_synthetic_images,
            decode_image,
            resize_media,
            synthetic_rgb,
        )

        df = spark.createDataFrame([(5,)], ["doc_id"])
        media = attach_synthetic_images(df, "doc_id", width=8, height=6, fmt="ppm")
        out = resize_media(media, width=4, height=3).collect()[0]
        assert out.media_meta.format == "ppm"
        fmt, w, h, rgb = decode_image(bytes(out.payload))
        assert (fmt, w, h) == ("ppm", 4, 3)
        # nearest-neighbor: output pixel (0,0) is source pixel (0,0)
        src = synthetic_rgb(5, 8, 6)
        assert rgb[:3] == src[:3]
        # output pixel (1,0) samples source x = 1*8//4 = 2
        assert rgb[3:6] == src[6:9]

    def test_frame_sample_fans_out(self, spark):
        from graphdbetl_spark.operators.multimodal import attach_media_columns, frame_sample

        df = spark.createDataFrame([(1, "x" * 600), (2, "y" * 10)], ["doc_id", "text"])
        media = attach_media_columns(df, "text")
        frames = frame_sample(media, frame_size=64, stride=256).collect()
        by_doc = {}
        for r in frames:
            by_doc.setdefault(r.doc_id, []).append(r)
        assert len(by_doc[1]) == 3  # 600 bytes / 256 stride -> offsets 0,256,512
        assert len(by_doc[1][0].frame_bytes) == 64
        assert len(by_doc[2]) == 1 and len(by_doc[2][0].frame_bytes) == 10


class TestResizeMedia:
    def test_resize_subsamples_and_pads(self, spark):
        from graphdbetl_spark.operators.multimodal import attach_media_columns, resize_media

        df = spark.createDataFrame([(1, "x" * 600), (2, "y" * 10)], ["doc_id", "text"])
        media = attach_media_columns(df, "text")
        out = {r.doc_id: r for r in resize_media(media, width=8, height=8).collect()}
        # every payload lands at exactly width*height bytes
        assert len(out[1].payload) == 64  # 600 -> stride-subsampled down
        assert len(out[2].payload) == 64  # 10 -> zero-padded up
        assert out[2].payload[:10] == b"y" * 10
        assert out[2].payload[10:] == b"\x00" * 54
        assert out[1].media_meta.width == 8 and out[1].media_meta.height == 8
        assert out[1].media_meta.n_bytes == 64

    def test_resize_no_shuffle(self, spark):
        import contextlib
        import io

        from graphdbetl_spark.operators.multimodal import attach_media_columns, resize_media

        df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
        plan = io.StringIO()
        with contextlib.redirect_stdout(plan):
            resize_media(attach_media_columns(df, "text"), 4, 4).explain("formatted")
        assert "Exchange" not in plan.getvalue()  # partition flow follows input
        assert "MapInArrow" in plan.getvalue()


class TestNativeUdtfAndGroupedAgg:
    """SURVEY §2B UDF/UDTF rows: the DataFrame-native forms (explode,
    applyInArrow) carry the oracle-checked queries; these pin the
    native Python UDTF and GROUPED_AGG pandas_udf APIs themselves."""

    def test_python_udtf(self, spark):
        from pyspark.sql.functions import udtf

        @udtf(returnType="chunk_id int, piece string")
        class SplitEvery:
            def eval(self, text: str, n: int):
                for i in range(0, len(text), n):
                    yield i // n, text[i : i + n]

        spark.udtf.register("split_every", SplitEvery)
        rows = spark.sql(
            "SELECT * FROM split_every('abcdefgh', 3)"
        ).collect()
        assert [(r.chunk_id, r.piece) for r in rows] == [
            (0, "abc"), (1, "def"), (2, "ghi"[:2])
        ]

    def test_grouped_agg_pandas_udf(self, spark):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def trimmed_mean(v: pd.Series) -> float:
            lo, hi = v.quantile(0.1), v.quantile(0.9)
            return float(v[(v >= lo) & (v <= hi)].mean())

        df = spark.createDataFrame(
            [("a", float(x)) for x in range(1, 11)] + [("a", 1000.0), ("b", 5.0)],
            "k string, v double",
        )
        out = {r.k: r.tm for r in df.groupBy("k").agg(trimmed_mean("v").alias("tm")).collect()}
        assert out["b"] == 5.0
        assert out["a"] < 100  # the 1000.0 outlier is trimmed


class TestVariantType:
    def test_variant_parse_and_extract(self, spark):
        """Spark 4 VARIANT surface: parse_json into an open-schema value
        and extract typed fields — the semi-structured path for
        events.props when the schema is not declared up front."""
        df = spark.createDataFrame(
            [(1, '{"k": 87, "tags": ["a", "b"]}'), (2, '{"k": 3}')],
            "id long, props string",
        )
        out = df.select(
            "id",
            F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
            F.expr("variant_get(parse_json(props), '$.tags[0]', 'string')").alias("t0"),
        ).collect()
        rows = {r.id: r for r in out}
        assert rows[1].k == 87 and rows[1].t0 == "a"
        assert rows[2].k == 3 and rows[2].t0 is None


class TestLinkage:
    def test_blocking_bounds_candidates_and_finds_planted_matches(self, spark):
        from graphdbetl_spark.operators.linkage import fuzzy_match_pairs

        left = spark.createDataFrame(
            [(1, "Acme Corp 0001"), (2, "Bcme Corp 0002"), (3, "Acme Corp 9999")],
            "id long, name string",
        )
        # 101 matches 1 with one mid-string edit; 103's edit touches the
        # last-4 suffix, so blocking (deliberately) never considers it
        right = spark.createDataFrame(
            [(101, "AcmeXCorp 0001"), (102, "Bcme Corp 0002"), (103, "Acme Corp 9990")],
            "id long, name string",
        )
        got = {
            (r.id, r.id_r, r.distance)
            for r in fuzzy_match_pairs(
                left.withColumnRenamed("id", "id"),
                right.withColumnRenamed("id", "id_r").withColumnRenamed("name", "name_r"),
                "id", "id_r", "name", "name_r", max_distance=1,
            ).collect()
        }
        assert (1, 101, 1) in got
        assert (2, 102, 0) in got
        assert all(pair[1] != 103 for pair in got)  # blocked out, not distance-failed


class TestAsofVariants:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, "k", 100), (2, "k", 200), (3, "k", 300)],
            "id long, k string, ts long",
        )
        right = spark.createDataFrame(
            [("k", 90, 9.0), ("k", 150, 15.0), ("k", 290, 29.0)],
            "k string, ts long, rv double",
        )
        return left, right

    def test_forward_direction(self, spark):
        from graphdbetl_spark.operators.joins import asof_join

        left, right = self._frames(spark)
        out = {
            r.id: r.rv
            for r in asof_join(
                left, right, "k", "ts", "ts", ["rv"], direction="forward"
            ).collect()
        }
        # nearest FOLLOWING right row; ts=300 has none ahead -> NULL
        assert out == {1: 15.0, 2: 29.0, 3: None}

    def test_backward_tolerance_nullifies_stale_matches(self, spark):
        from graphdbetl_spark.operators.joins import asof_join

        left = spark.createDataFrame(
            [(1, "k", "2024-01-01 10:00:00"), (2, "k", "2024-01-01 20:00:00")],
            "id long, k string, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        right = spark.createDataFrame(
            [("k", "2024-01-01 09:30:00", 1.0)], "k string, ts string, rv double"
        ).withColumn("ts", F.to_timestamp("ts"))
        out = {
            r.id: r.rv
            for r in asof_join(
                left, right, "k", "ts", "ts", ["rv"], tolerance="2 hours"
            ).collect()
        }
        # 10:00 is within 2h of 09:30; 20:00 is not -> stale match nulled
        assert out == {1: 1.0, 2: None}

    def test_bad_direction_rejected(self, spark):
        from graphdbetl_spark.operators.joins import asof_join

        left, right = self._frames(spark)
        with pytest.raises(ValueError):
            asof_join(left, right, "k", "ts", "ts", ["rv"], direction="sideways")


class TestAudio:
    def test_wav_round_trip(self):
        import struct

        from graphdbetl_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
            synthetic_pcm16,
        )

        pcm = synthetic_pcm16(11, 32)
        rate, ch, samples = decode_wav(encode_wav(8000, 1, pcm))
        assert (rate, ch, len(samples)) == (8000, 1, 32)
        assert struct.pack("<32h", *samples) == pcm

    def test_wav_chunk_walk_skips_extra_chunks(self):
        import struct

        from graphdbetl_spark.operators.multimodal import decode_wav, encode_wav

        wav = encode_wav(16000, 1, struct.pack("<2h", 5, -5))
        # splice a LIST chunk (odd size -> exercises word-alignment) before data
        head, rest = wav[:12], wav[12:]
        extra = struct.pack("<4sI", b"LIST", 3) + b"abc\x00"
        spliced = head + extra + rest
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        rate, ch, samples = decode_wav(spliced)
        assert samples == [5, -5]

    def test_compressed_audio_is_stubbed(self):
        from graphdbetl_spark.operators.multimodal import decode_wav

        with pytest.raises(NotImplementedError):
            decode_wav(b"ID3\x04mp3data")

    def test_audio_features_end_to_end(self, spark):
        from graphdbetl_spark.operators.multimodal import (
            attach_synthetic_audio,
            audio_features,
            synthetic_pcm16,
        )
        import struct

        df = spark.createDataFrame([(4,), (9,)], ["doc_id"])
        d = attach_synthetic_audio(df, "doc_id", n_samples=16, sample_rate=22050)
        out = {r.doc_id: r for r in audio_features(d).collect()}
        for i in (4, 9):
            samples = struct.unpack("<16h", synthetic_pcm16(i, 16))
            assert out[i].sample_rate == 22050 and out[i].n_samples == 16
            assert out[i].sum_samples == sum(samples)
            assert out[i].sum_abs == sum(abs(s) for s in samples)

    def test_audio_chunks_partition_exactly(self, spark):
        """Fixed windows (incl. the short tail) partition the samples:
        chunk sums re-add to the whole-file sums, window boundaries at
        exact multiples of chunk_samples."""
        from graphdbetl_spark.operators.multimodal import (
            attach_synthetic_audio,
            audio_chunk_features,
            audio_features,
        )

        df = spark.createDataFrame([(4,), (9,)], ["doc_id"])
        d = attach_synthetic_audio(df, "doc_id", n_samples=50, sample_rate=16000)
        chunks = audio_chunk_features(d, chunk_samples=16).collect()
        whole = {r.doc_id: r for r in audio_features(d).collect()}
        for i in (4, 9):
            mine = sorted((r for r in chunks if r.doc_id == i), key=lambda r: r.chunk_idx)
            assert [r.chunk_idx for r in mine] == [0, 1, 2, 3]
            assert [r.n_samples for r in mine] == [16, 16, 16, 2]  # 50 = 3*16 + 2
            assert sum(r.sum_samples for r in mine) == whole[i].sum_samples
            assert sum(r.sum_abs for r in mine) == whole[i].sum_abs

    def test_audio_chunks_project_before_the_boundary(self, spark):
        """Only (id, payload) cross into Python: a column the kernel
        never reads must not appear in the MapInArrow node's arguments."""
        import contextlib
        import io

        from graphdbetl_spark.operators.multimodal import (
            audio_chunk_features,
            encode_wav,
            synthetic_pcm16,
        )

        df = spark.createDataFrame(
            [(4, encode_wav(16000, 1, synthetic_pcm16(4, 32)), "x")],
            "doc_id long, payload binary, junk string",
        )
        plan = io.StringIO()
        with contextlib.redirect_stdout(plan):
            audio_chunk_features(df, chunk_samples=16).explain("formatted")
        node = plan.getvalue().split("MapInArrow\n")[-1]
        args = next(l for l in node.splitlines() if l.startswith("Arguments:"))
        assert "payload" in args and "junk" not in args


class TestVideo:
    def test_split_rejects_garbage_midstream(self):
        from graphdbetl_spark.operators.multimodal import (
            encode_ppm,
            split_ppm_stream,
            synthetic_rgb,
        )

        good = encode_ppm(2, 2, synthetic_rgb(1, 2, 2))
        with pytest.raises(ValueError):
            split_ppm_stream(good + b"JUNK" + good)

    def test_video_frame_features_samples_every_other(self, spark):
        from graphdbetl_spark.operators.multimodal import (
            attach_synthetic_video,
            synthetic_rgb,
            video_frame_features,
        )

        df = spark.createDataFrame([(3,)], ["doc_id"])
        vid = attach_synthetic_video(df, "doc_id", n_frames=5, width=4, height=3)
        out = {r.frame_idx: r for r in video_frame_features(vid, every=2).collect()}
        assert set(out) == {0, 2, 4}  # temporal subsampling cadence
        for f in (0, 2, 4):
            rgb = synthetic_rgb(3 * 1000 + f, 4, 3)
            assert out[f].sum_r == sum(rgb[0::3])
            assert (out[f].width, out[f].height) == (4, 3)


def test_ahash_identical_equal_perturbed_close(spark):
    from graphdbetl_spark.operators.multimodal import (
        ahash_features,
        encode_ppm,
        synthetic_rgb,
    )

    rgb = synthetic_rgb(7, 8, 6)
    # +1 luminance on every byte: relative order of pixel grays vs the
    # mean is unchanged -> identical average hash (the near-dup property)
    brighter = bytes(min(255, b + 1) for b in rgb)
    inverted = bytes(255 - b for b in rgb)
    rows = [
        (1, encode_ppm(8, 6, rgb)),
        (2, encode_ppm(8, 6, rgb)),        # byte-identical copy
        (3, encode_ppm(8, 6, brighter)),   # near-dup
        (4, encode_ppm(8, 6, inverted)),   # complement: bits flip
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["ahash"] for r in ahash_features(df).collect()}
    assert got[1] == got[2]
    assert got[1] == got[3]
    assert got[4] != got[1]
    # complement flips every above/below-mean decision that isn't a tie
    mask48 = (1 << 48) - 1
    assert bin(got[1] ^ got[4]).count("1") >= 40
    assert got[1] == got[1] & mask48  # only the 48 pixel bits are used


def test_audio_fingerprint_discriminates_and_orders(spark):
    from graphdbetl_spark.operators.multimodal import (
        audio_fingerprint_features,
        encode_wav,
        synthetic_pcm16_mixed,
    )

    pcm_a = synthetic_pcm16_mixed(3, 480)
    pcm_b = synthetic_pcm16_mixed(4, 480)
    rows = [
        (1, encode_wav(16000, 1, pcm_a)),
        (2, encode_wav(16000, 1, pcm_a)),  # byte-identical copy
        (3, encode_wav(16000, 1, pcm_b)),  # different source
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["afp"] for r in audio_fingerprint_features(df).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    # 480 samples / 24 = 20 chunks -> 19 delta bits
    assert 0 <= got[1] < (1 << 19)


def test_video_signature_is_order_sensitive(spark):
    from graphdbetl_spark.operators.multimodal import (
        encode_ppm,
        encode_ppm_stream,
        synthetic_rgb,
        video_signature_features,
    )

    frames = [encode_ppm(8, 6, synthetic_rgb(100 + f, 8, 6)) for f in range(4)]
    rows = [
        (1, encode_ppm_stream(frames)),
        (2, encode_ppm_stream(frames)),                  # identical clip
        (3, encode_ppm_stream(list(reversed(frames)))),  # same frames, reordered
        (4, encode_ppm_stream(frames[:3])),              # truncated
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r["vsig"] for r in video_signature_features(df).collect()}
    assert got[1] == got[2]
    assert got[3] != got[1]  # a commutative fold would collide here
    assert got[4] != got[1]


@pytest.mark.parametrize(
    "kernel",
    [
        "decode_features",
        "extract_features",
        "audio_features",
        "video_frame_features",
        "ahash_features",
        "video_signature_features",
        "audio_chunk_features",
        "audio_fingerprint_features",
        "attach_synthetic_images",
    ],
)
def test_null_payload_or_seed_is_named(spark, kernel):
    """A null payload (decoders) or a null seed (the attach generators'
    shared path) fails with a ValueError naming the column, not a
    TypeError from deep inside the decoder."""
    from pyspark.errors import PythonException

    from graphdbetl_spark.operators import multimodal

    if kernel == "attach_synthetic_images":
        df = spark.createDataFrame([(1,), (None,)], "doc_id long")
        expect = r"null seed in column 'doc_id'"
    else:
        df = spark.createDataFrame([(2, None)], "doc_id long, payload binary")
        expect = r"null payload in column 'payload'"
    with pytest.raises(PythonException, match=expect):
        getattr(multimodal, kernel)(df).collect()


def test_binaryfile_source_feeds_decode_pipeline(spark, tmp_path):
    """Real media ingest path: spark.read.format('binaryFile') over a
    directory of image files feeds the same decode operators as the
    synthetic fixtures — path, modificationTime, length, content."""
    from graphdbetl_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
        synthetic_rgb,
    )

    media = tmp_path / "media"
    media.mkdir()
    for i in range(4):
        (media / f"img_{i}.ppm").write_bytes(encode_ppm(8, 6, synthetic_rgb(i, 8, 6)))
    (media / "notes.txt").write_text("not an image")

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")  # source-level filter: txt never read
        .load(str(media))
    )
    assert set(df.columns) == {"path", "modificationTime", "length", "content"}
    rows = df.select("path", "content").collect()
    assert len(rows) == 4
    for r in rows:
        fmt, w, h, rgb = decode_image(bytes(r["content"]))
        assert (fmt, w, h) == ("ppm", 8, 6)
        i = int(r["path"].rsplit("img_", 1)[1].split(".")[0])
        assert rgb == synthetic_rgb(i, 8, 6)


def test_rolling_fingerprints_kernel_matches_column_form(spark):
    from graphdbetl_spark.functions.text import (
        rolling_fingerprint,
        rolling_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "a"), (4, "Zw1% \t x")], ["id", "s"]
    )
    col_form = {
        r["id"]: r["h"]
        for r in df.select("id", rolling_fingerprint(F.col("s")).alias("h")).collect()
    }
    kern_form = {
        r["id"]: r["fingerprint"] for r in rolling_fingerprints(df, "s", "id").collect()
    }
    assert col_form == kern_form
