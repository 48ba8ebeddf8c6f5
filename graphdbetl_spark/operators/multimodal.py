"""Multimodal column conventions: opaque binary payloads + typed metadata.

Contract (north-star): image/audio/video payloads ride as
``binary`` columns (or out-of-line as storage paths) next to a typed
metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow-batched ``mapInArrow`` stages so each Python batch touches a
bounded number of payload bytes.

The decode path is REAL for the uncompressed formats a pure-Python
decoder can handle — binary PPM (P6) and 24-bit uncompressed BMP via
``struct`` — so the decode → feature → resize pipeline executes end to
end with no codec libraries. Compressed codecs (jpeg/png/webp) remain
stubbed behind ``NotImplementedError`` (their libraries are not
installed here); at deployment only the codec branch of
``decode_image`` changes — schemas, batching, and partition flow stay.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from graphdbetl_spark.operators.skew import DECODE_BYTES_PER_TASK, fan

# Canonical multimodal schema fragment.
MEDIA_META = StructType(
    [
        StructField("media_type", StringType()),  # image/audio/video
        StructField("format", StringType()),  # png/jpeg/wav/...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_mean", StringType()),  # deterministic fake feature
    ]
)


def attach_media_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo wiring: derive a binary payload + metadata struct from a text
    column (stands in for reading real media bytes via
    ``spark.read.format('binaryFile')``)."""
    payload = F.encode(F.col(text_col), "utf-8").cast(BinaryType())
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("fake").alias("format"),
        F.lit(None).cast(IntegerType()).alias("width"),
        F.lit(None).cast(IntegerType()).alias("height"),
        F.octet_length(payload).cast(LongType()).alias("n_bytes"),
    )
    return df.withColumn("payload", payload).withColumn("media_meta", meta)


def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Binary PPM (P6, maxval 255) from top-down row-major RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def _column(rb: pa.RecordBatch, col: str, what: str = "payload") -> pa.Array:
    """Column ``col`` of a record batch, refusing nulls by name. A null
    payload has nothing to decode and a null seed has no pattern;
    left alone they fail deep inside the kernel (``bytes(None)``,
    ``len(None)``) without saying which column held them."""
    arr = rb.column(col)
    if arr.null_count:
        raise ValueError(f"null {what} in column '{col}'")
    return arr


def _map_typed(df: DataFrame, schema: StructType, kernel) -> DataFrame:
    """Run ``kernel`` (record batch → one column per field of
    ``schema``) under mapInArrow. Every output batch is built against
    ``to_arrow_schema(schema)``, computed once here: Arrow arrays
    (pass-through ids) are cast to the declared type and Python lists
    are built with it. mapInArrow does not coerce: an int64 array for
    an ``int`` field fails in the JVM."""
    target = to_arrow_schema(schema)

    def batches(it):
        for rb in it:
            cols = [
                c.cast(f.type) if isinstance(c, pa.Array) else pa.array(c, f.type)
                for c, f in zip(kernel(rb), target)
            ]
            yield pa.RecordBatch.from_arrays(cols, schema=target)

    return df.mapInArrow(batches, schema)


def _attach(df: DataFrame, id_col: str, seed_col: str, payloads_of) -> DataFrame:
    """Shared body of the ``attach_synthetic_*`` fixture generators:
    project to ONLY the columns the kernel reads (an opaque mapInArrow
    otherwise ships every column and sizes the stats on them), fan out
    at decode weight, then per batch one payload per row
    from ``payloads_of(seeds)`` (the non-null ``seed_col`` values as
    a numpy array) next to the passed-through ``id_col``. Arrow-batched
    and partition-local (no shuffle)."""
    cols = (id_col,) if seed_col == id_col else (id_col, seed_col)
    schema = StructType(
        [StructField(id_col, LongType()), StructField("payload", BinaryType())]
    )

    def kernel(rb):
        seeds = _column(rb, seed_col, "seed").to_numpy()
        return [rb.column(id_col), payloads_of(seeds)]

    return _map_typed(
        fan(df.select(*cols), cols[0], DECODE_BYTES_PER_TASK), schema, kernel
    )


def _synthetic_rgb_batch(ids, width: int, height: int):
    """Vectorized :func:`synthetic_rgb` over an id batch: (n, w·h·3)
    uint8 matrix, row i byte-identical to ``synthetic_rgb(ids[i])`` —
    int64 modular arithmetic is exact, so this is the same function
    evaluated batch-wise (guide §4.2: hand whole batches to NumPy
    instead of per-pixel Python loops). Parity pinned by pytest."""
    ida = np.asarray(ids, dtype=np.int64)[:, None, None]
    x = np.arange(width, dtype=np.int64)[None, None, :]
    y = np.arange(height, dtype=np.int64)[None, :, None]
    r = (ida * 31 + x * 7 + y * 13) % 256
    g = (ida * 17 + x * 5 + y * 11) % 256
    b = (ida * 29 + x * 3 + y * 19) % 256
    out = np.stack([r, g, b], axis=-1).astype(np.uint8)
    return out.reshape(out.shape[0], -1)


def _synthetic_rgb_cluster_batch(ids, width: int, height: int):
    """Vectorized :func:`synthetic_rgb_cluster` (same treatment as
    :func:`_synthetic_rgb_batch`; parity pinned by pytest)."""
    ida = np.asarray(ids, dtype=np.int64)
    k = ida[:, None] // 10
    c = ida[:, None] % 10
    p = np.arange(width * height, dtype=np.int64)[None, :]
    t = (k * 40503 + p * 9973 + 12345) % 65536
    r = (t * t) // 256 % 256
    r = np.where(p == c, (r + 120) % 256, r)
    t = (k * 31727 + p * 8191 + 54321) % 65536
    g = (t * t) // 256 % 256
    t = (k * 28657 + p * 7919 + 11111) % 65536
    b = (t * t) // 256 % 256
    return (
        np.stack([r, g, b], axis=-1).astype(np.uint8).reshape(len(ida), -1)
    )


def _encode_ppm_batch(mat, width: int, height: int) -> list[bytes]:
    """P6 payloads from a (n, w·h·3) uint8 matrix — the constant header
    is built once; each payload is header + the row's contiguous bytes
    (byte-identical to :func:`encode_ppm` per row)."""
    hdr = b"P6\n%d %d\n255\n" % (width, height)
    return [hdr + row.tobytes() for row in mat]


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up, BGR,
    4-byte row padding) from top-down row-major RGB bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb length must be width*height*3")
    row_size = (3 * width + 3) & ~3
    pad = b"\x00" * (row_size - 3 * width)
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = rgb[y * width * 3 : (y + 1) * width * 3]
        bgr = bytearray()
        for x in range(width):
            r, g, b = row[3 * x : 3 * x + 3]
            bgr += bytes((b, g, r))
        rows.append(bytes(bgr) + pad)
    pixels = b"".join(rows)
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    return header + dib + pixels


def decode_image(payload: bytes) -> tuple[str, int, int, bytes]:
    """Decode an image payload to (format, width, height, rgb) where
    ``rgb`` is top-down row-major RGB bytes.

    Pure-Python decoders for the uncompressed container formats (PPM
    P6, 24-bit BMP); compressed codecs stay stubbed — the libraries are
    not installed in this environment, and a deployment swaps in
    PIL/opencv in the NotImplementedError branch only.
    """
    if payload[:2] == b"P6":
        # header: "P6" <ws> width <ws> height <ws> maxval <single ws> pixels
        fields: list[bytes] = []
        i = 2
        while len(fields) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment line
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            fields.append(payload[i:j])
            i = j
        i += 1  # the single whitespace after maxval
        width, height, maxval = (int(f) for f in fields)
        if maxval != 255:
            raise NotImplementedError("PPM maxval != 255 not supported")
        rgb = payload[i : i + width * height * 3]
        if len(rgb) != width * height * 3:
            raise ValueError("truncated PPM pixel data")
        return ("ppm", width, height, rgb)
    if payload[:2] == b"BM":
        offset = struct.unpack_from("<I", payload, 10)[0]
        dib_size, width, height = struct.unpack_from("<Iii", payload, 14)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        compression = struct.unpack_from("<I", payload, 30)[0]
        if dib_size < 40 or bpp != 24 or compression != 0:
            raise NotImplementedError("only 24-bit uncompressed BMP supported")
        bottom_up = height > 0
        height = abs(height)
        row_size = (3 * width + 3) & ~3
        out = bytearray()
        for y in range(height):
            src_y = (height - 1 - y) if bottom_up else y
            base = offset + src_y * row_size
            for x in range(width):
                b, g, r = payload[base + 3 * x : base + 3 * x + 3]
                out += bytes((r, g, b))
        return ("bmp", width, height, bytes(out))
    raise NotImplementedError("compressed image codec not available in this environment")


def synthetic_rgb(doc_id: int, width: int, height: int) -> bytes:
    """Deterministic per-id pixel pattern (pure integer arithmetic) —
    reproducible in any engine, which is what makes the decode pipeline
    oracle-checkable end to end."""
    out = bytearray()
    for y in range(height):
        for x in range(width):
            out.append((doc_id * 31 + x * 7 + y * 13) % 256)
            out.append((doc_id * 17 + x * 5 + y * 11) % 256)
            out.append((doc_id * 29 + x * 3 + y * 19) % 256)
    return bytes(out)


def attach_synthetic_images(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 8,
    height: int = 6,
    fmt: str = "ppm",
    key_col: str | None = None,
) -> DataFrame:
    """Attach a REAL encoded image payload (PPM or BMP) derived
    deterministically from the id — the fixture generator for the
    decode → feature → resize pipeline. With ``key_col`` the pixel
    pattern is generated from that column while the row keeps its own
    ``id_col`` — the fixture for duplicate-image corpora (rows sharing
    a key carry byte-identical payloads under distinct ids)."""

    def payloads_of(seeds):
        if fmt == "ppm":
            # vectorized generate + slice-free encode (guide §4.2)
            return _encode_ppm_batch(
                _synthetic_rgb_batch(seeds, width, height), width, height
            )
        # BMP keeps the reference per-row path (BGR + padding)
        return [
            encode_bmp(width, height, synthetic_rgb(int(s), width, height))
            for s in seeds
        ]

    return _attach(df, id_col, key_col or id_col, payloads_of)


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def decode_features(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """REAL decode → feature extraction: parse each payload with
    ``decode_image`` and emit decoded dimensions + per-channel pixel
    sums. Sums are exact integers, so the comparison against an oracle
    carries zero float-formatting risk."""

    def kernel(rb):
        fmts, ws, hs, bufs = [], [], [], []
        for pl in _column(rb, payload_col).to_pylist():
            fmt, w, h, rgb = decode_image(pl)
            fmts.append(fmt)
            ws.append(w)
            hs.append(h)
            bufs.append(rgb)
        return [rb.column(id_col), fmts, ws, hs, *_channel_sums(bufs)]

    return _map_typed(df.select(id_col, payload_col), DECODE_SCHEMA, kernel)


def _channel_sums(bufs: list[bytes]):
    """Exact integer (sum_r, sum_g, sum_b) of row-major RGB buffers.
    Uniform geometry (the common corpus shape) sums the whole batch as
    ONE stacked int64 matrix (guide §4.2 — per-row numpy loses to
    per-row Python sums at 48-pixel images; batch numpy beats both);
    mixed geometries keep the per-row reference sums."""
    sizes = {len(b) for b in bufs}
    if bufs and len(sizes) == 1 and next(iter(sizes)):
        mat = np.frombuffer(b"".join(bufs), dtype=np.uint8).reshape(len(bufs), -1, 3)
        s = mat.astype(np.int64).sum(axis=1)
        return s[:, 0], s[:, 1], s[:, 2]
    return tuple([sum(rgb[c::3]) for rgb in bufs] for c in range(3))


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def frame_sample(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_size: int = 64,
    stride: int = 256,
) -> DataFrame:
    """Frame sampling over binary payloads (the video path): one input
    row fans out to N frame rows — mapInArrow is a flat map, so the
    one-to-many shape needs no explode. The 'decoder' slices fixed
    windows from the byte stream (deterministic stand-in for a codec's
    keyframe extraction; swap the slicing for a real decoder at
    deployment). A null payload samples as empty bytes (no frames).
    Output partitioning follows the input — no shuffle."""

    def kernel(rb):
        ids, idxs, frames = [], [], []
        for rid, data in zip(
            rb.column(id_col).to_pylist(), rb.column(payload_col).to_pylist()
        ):
            data = data or b""
            for i, off in enumerate(range(0, len(data), stride)):
                ids.append(rid)
                idxs.append(i)
                frames.append(data[off : off + frame_size])
        return [ids, idxs, frames]

    return _map_typed(df.select(id_col, payload_col), FRAME_SCHEMA, kernel)


def extract_features(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """Feature extraction over binary payloads via mapInArrow.

    Arrow streams batches of (id, payload); Python computes per-payload
    features. Here the 'feature' is a deterministic byte-mean fake
    (decode stubbed), but the batch shape, schema, and partition flow
    are exactly what a real decoder uses.
    """

    def _mean(b: bytes) -> str:
        if not len(b):
            return "0"
        # exact integer byte sum via one vectorized pass (== sum(b))
        s = int(np.frombuffer(b, dtype=np.uint8).astype(np.int64).sum())
        return f"{(s / len(b)):.4f}"

    def kernel(rb):
        pls = _column(rb, payload_col).to_pylist()
        return [rb.column(id_col), [len(b) for b in pls], [_mean(b) for b in pls]]

    return _map_typed(df.select(id_col, payload_col), FEATURE_SCHEMA, kernel)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_meta", MEDIA_META),
    ]
)


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Resize stage over binary payloads via mapInArrow (the image
    path): decodable payloads (PPM/BMP) get a REAL nearest-neighbor
    resample to ``width×height`` and are re-encoded in their own
    format; undecodable payloads fall back to deterministic byte
    stride-subsampling / zero-padding (format 'fake'); a null payload
    resizes as empty bytes. A deployment swaps only the codec branch of
    ``decode_image`` for compressed formats. The Arrow batch shape,
    output schema (payload + typed metadata), and partition flow
    (follows input, no shuffle) are the production plumbing.
    """
    target = width * height

    def resize(data: bytes) -> tuple[str, bytes]:
        try:
            fmt, sw, sh, rgb = decode_image(data)
            # nearest-neighbor resample as one fancy-indexed gather
            # (guide §4.2). Same truncating float map as the per-pixel
            # reference: int(y*sh/height) == float64-divide then trunc
            # on both paths.
            sy = np.minimum((np.arange(height) * sh / height).astype(np.int64), sh - 1)
            sx = np.minimum((np.arange(width) * sw / width).astype(np.int64), sw - 1)
            a = np.frombuffer(rgb, dtype=np.uint8).reshape(sh, sw, 3)
            encode = encode_ppm if fmt == "ppm" else encode_bmp
            return fmt, encode(width, height, a[sy][:, sx].tobytes())
        except (NotImplementedError, ValueError, IndexError, struct.error):
            if len(data) >= target:
                idx = (np.arange(target) * (len(data) / target)).astype(np.int64)
                return "fake", np.frombuffer(data, dtype=np.uint8)[idx].tobytes()
            return "fake", data + b"\x00" * (target - len(data))

    def kernel(rb):
        out = [resize(pl or b"") for pl in rb.column(payload_col).to_pylist()]
        meta = [
            {
                "media_type": "image",
                "format": fmt,
                "width": width,
                "height": height,
                "n_bytes": len(resized),
            }
            for fmt, resized in out
        ]
        return [rb.column(id_col), [resized for _, resized in out], meta]

    return _map_typed(df.select(id_col, payload_col), RESIZED_SCHEMA, kernel)


# ----------------------------------------------------------- audio (WAV/PCM)


def encode_wav(sample_rate: int, channels: int, pcm16: bytes) -> bytes:
    """Canonical RIFF/WAVE container around 16-bit little-endian PCM —
    pure stdlib, the audio analogue of encode_ppm."""
    if len(pcm16) % (2 * channels):
        raise ValueError("pcm16 length must be a multiple of 2*channels")
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate, byte_rate, channels * 2, 16
    )
    data = struct.pack("<4sI", b"data", len(pcm16)) + pcm16
    return struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE") + fmt + data


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode a PCM16 WAV payload to (sample_rate, channels, samples).
    Compressed audio codecs (mp3/ogg/flac) stay stubbed — as with
    decode_image, only this branch changes at deployment."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("compressed audio codec not available in this environment")
    pos, sample_rate, channels, bits = 12, None, None, None
    samples: list[int] = []
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, sample_rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError("only 16-bit PCM WAV supported")
        elif cid == b"data":
            samples = list(struct.unpack(f"<{len(body) // 2}h", body))
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or not samples:
        raise ValueError("truncated WAV: missing fmt or data chunk")
    return (sample_rate, channels, samples)


def synthetic_pcm16(doc_id: int, n_samples: int) -> bytes:
    """Deterministic mono int16 pattern (pure integer arithmetic) —
    engine-reproducible, so the audio decode path is oracle-checkable
    exactly like synthetic_rgb for images."""
    return struct.pack(
        f"<{n_samples}h",
        *(((doc_id * 31 + i * 7) % 65536) - 32768 for i in range(n_samples)),
    )


def _synthetic_pcm16_batch(ids, n_samples: int):
    """Vectorized :func:`synthetic_pcm16`: (n, n_samples) little-endian
    int16 matrix, row i byte-identical to ``synthetic_pcm16(ids[i])``
    (int64 arithmetic exact; '<i2' matches struct.pack '<h')."""
    ida = np.asarray(ids, dtype=np.int64)[:, None]
    i = np.arange(n_samples, dtype=np.int64)[None, :]
    return (((ida * 31 + i * 7) % 65536) - 32768).astype("<i2")


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_samples", LongType()),
        StructField("sum_abs", LongType()),
    ]
)


def attach_synthetic_audio(
    df: DataFrame, id_col: str = "doc_id", n_samples: int = 480, sample_rate: int = 16000
) -> DataFrame:
    """Attach a REAL encoded WAV payload derived deterministically from
    the id — Arrow-batched, partition-local (no shuffle)."""
    return _attach(
        df,
        id_col,
        id_col,
        lambda seeds: [
            encode_wav(sample_rate, 1, row.tobytes())
            for row in _synthetic_pcm16_batch(seeds, n_samples)
        ],
    )


def audio_features(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """REAL audio decode -> features: parse each WAV with decode_wav and
    emit format fields plus exact integer sample sums (sum and sum-of-
    absolute — the integer core of DC offset and mean amplitude), so
    oracle comparison carries zero float risk."""

    def kernel(rb):
        rates, chs, ns, sums, absums = [], [], [], [], []
        for pl in _column(rb, payload_col).to_pylist():
            rate, ch, samples = decode_wav(pl)
            a = np.asarray(samples, dtype=np.int64)
            rates.append(rate)
            chs.append(ch)
            ns.append(len(samples))
            sums.append(int(a.sum()))
            absums.append(int(np.abs(a).sum()))
        return [rb.column(id_col), rates, chs, ns, sums, absums]

    return _map_typed(df.select(id_col, payload_col), AUDIO_SCHEMA, kernel)


# ------------------------------------------------- video (PPM frame stream)


def encode_ppm_stream(frames: list[bytes]) -> bytes:
    """Concatenated-PPM video container (the raw-MJPEG shape: a stream
    of independently decodable frames, no index)."""
    return b"".join(frames)


def split_ppm_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated-PPM stream into frames by walking each
    header's declared dimensions — the real work a frame demuxer does.
    Raises on a malformed header mid-stream (no silent resync)."""
    frames: list[bytes] = []
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"P6":
            raise ValueError(f"not a PPM frame at offset {pos}")
        # reuse the image decoder's header walk to find the pixel extent
        _fmt, w, h, _rgb = decode_image(payload[pos:])
        # recompute the header length: decode_image consumed it
        i, fields = 2, 0
        while fields < 3:
            while payload[pos + i : pos + i + 1].isspace():
                i += 1
            if payload[pos + i : pos + i + 1] == b"#":
                while payload[pos + i : pos + i + 1] != b"\n":
                    i += 1
                continue
            while not payload[pos + i : pos + i + 1].isspace():
                i += 1
            fields += 1
        i += 1  # single whitespace after maxval
        end = pos + i + w * h * 3
        frames.append(payload[pos:end])
        pos = end
    return frames


def attach_synthetic_video(
    df: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = 8,
    width: int = 8,
    height: int = 6,
    key_col: str | None = None,
) -> DataFrame:
    """Attach a REAL multi-frame video payload (concatenated PPM
    frames, frame f seeded by doc_id*1000+f) — Arrow-batched,
    partition-local. With ``key_col`` the frames are seeded from that
    column instead (frame f of key k uses pattern k*1000+f) — the
    duplicate-video corpus generator."""
    hdr = b"P6\n%d %d\n255\n" % (width, height)

    def payloads_of(seeds):
        # all (seed, frame) patterns generated in one vectorized pass
        frame_seeds = (
            np.asarray(seeds, dtype=np.int64)[:, None] * 1000
            + np.arange(n_frames, dtype=np.int64)[None, :]
        )
        mat = _synthetic_rgb_batch(frame_seeds.ravel(), width, height).reshape(
            len(seeds), n_frames, -1
        )
        return [b"".join(hdr + fr.tobytes() for fr in doc) for doc in mat]

    return _attach(df, id_col, key_col or id_col, payloads_of)


VIDEO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def video_frame_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every: int = 2,
) -> DataFrame:
    """REAL frame sampling + decode: demux the PPM stream, keep every
    ``every``-th frame (keyframe-style temporal subsampling — the
    standard vision-pretraining reduction), decode each kept frame, and
    emit exact per-channel pixel sums. One input row fans out to
    ceil(n_frames/every) rows inside mapInArrow — no explode, no
    shuffle; output partitioning follows the input."""

    def kernel(rb):
        ids, idxs, ws, hs, bufs = [], [], [], [], []
        for rid, pl in zip(
            rb.column(id_col).to_pylist(), _column(rb, payload_col).to_pylist()
        ):
            for idx, frame in enumerate(split_ppm_stream(pl)):
                if idx % every:
                    continue
                _fmt, w, h, rgb = decode_image(frame)
                ids.append(rid)
                idxs.append(idx)
                ws.append(w)
                hs.append(h)
                bufs.append(rgb)
        return [ids, idxs, ws, hs, *_channel_sums(bufs)]

    return _map_typed(df.select(id_col, payload_col), VIDEO_FRAME_SCHEMA, kernel)


AUDIO_CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_samples", LongType()),
        StructField("sum_abs", LongType()),
    ]
)


def audio_chunk_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    chunk_samples: int = 160,
) -> DataFrame:
    """Fixed-window audio chunking — the framing step every speech
    feature pipeline starts with (10 ms frames at 16 kHz = 160
    samples): decode each WAV ONCE, then emit one row per window with
    exact integer sums. One-to-many fan-out inside Arrow-batched
    mapInArrow, partition-local like frame_sample — no shuffle, no
    payload duplication (windows carry reduced features, not bytes).
    The final (possibly short) window is kept, so windows partition the
    samples exactly: per-chunk sums must re-add to the whole-file sums
    (asserted in tests and by the shared oracle formula)."""

    def kernel(rb):
        ids, idxs, ns, sums, absums = [], [], [], [], []
        for rid, pl in zip(
            rb.column(id_col).to_pylist(), _column(rb, payload_col).to_pylist()
        ):
            _rate, _ch, samples = decode_wav(pl)
            a = np.asarray(samples, dtype=np.int64)
            # per-window exact integer sums in one reduceat pass
            # (windows partition the samples exactly, final short
            # window included — same invariant as the loop form)
            starts = np.arange(0, len(a), chunk_samples)
            ids += [rid] * len(starts)
            idxs += range(len(starts))
            ns += np.diff(np.append(starts, len(a))).tolist()
            sums += np.add.reduceat(a, starts).tolist()
            absums += np.add.reduceat(np.abs(a), starts).tolist()
        return [ids, idxs, ns, sums, absums]

    return _map_typed(df.select(id_col, payload_col), AUDIO_CHUNK_SCHEMA, kernel)


AHASH_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("ahash", LongType())]
)


def ahash_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Average-hash perceptual fingerprint of DECODED images: per
    pixel, integer grayscale g = (r+g+b)//3; bit p (row-major pixel
    index) is set iff g·npix > Σg (strict, integer arithmetic — no
    float mean, so the hash replays exactly in any engine); bits pack
    into one BIGINT. Byte-identical images hash equal; near-identical
    images (small luminance perturbations) mostly hash equal — the
    cheap first tier of image dedup before embedding similarity.

    Runs inside the same Arrow mapInArrow stage shape as
    :func:`decode_features` — decode + hash per batch, no shuffle; the
    dedup that follows is one groupBy on the 8-byte hash, exactly
    ``dedup_exact``'s cost model with images instead of text.
    """

    def kernel(rb):
        return [rb.column(id_col), _ahashes(_column(rb, payload_col).to_pylist())]

    return _map_typed(df.select(id_col, payload_col), AHASH_SCHEMA, kernel)


def _ahashes(images: list[bytes]) -> list[int]:
    """Decode each image payload and average-hash it. Uniform geometry
    (the common corpus shape) hashes the whole list as one stacked
    matrix (guide §4.2); ≤63 pixel-bits keeps the packed hash inside
    int64 — the LongType output column's bound. Mixed geometries or
    oversized images take the per-row reference."""
    bufs, npixs = [], []
    for im in images:
        _fmt, w, h, rgb = decode_image(im)
        bufs.append(rgb)
        npixs.append(w * h)
    if bufs and len(set(npixs)) == 1 and 0 < npixs[0] <= 63:
        mat = np.frombuffer(b"".join(bufs), dtype=np.uint8).reshape(len(bufs), -1)
        return _ahash_batch(mat, npixs[0]).tolist()
    return [_ahash_rgb(b, n) for b, n in zip(bufs, npixs)]


def _ahash_rgb(rgb: bytes, npix: int) -> int:
    """Integer average-hash of row-major RGB bytes (shared by the image
    and per-frame video fingerprints): bit p set iff gray_p·npix > Σgray."""
    grays = [(rgb[3 * p] + rgb[3 * p + 1] + rgb[3 * p + 2]) // 3 for p in range(npix)]
    total = sum(grays)
    hv = 0
    for p, g in enumerate(grays):
        if g * npix > total:
            hv |= 1 << p
    return hv


def _ahash_batch(mat, npix: int):
    """Vectorized :func:`_ahash_rgb` over a (n, npix·3) uint8 matrix —
    int64 arithmetic is exact and, for npix ≤ 63, the packed weight sum
    stays ≤ 2⁶³−1, so results equal the per-row reference bit for bit
    (pinned by pytest parity). Returns an int64 array."""
    a = mat.astype(np.int64).reshape(mat.shape[0], npix, 3)
    grays = a.sum(axis=2) // 3
    total = grays.sum(axis=1)
    mask = grays * npix > total[:, None]
    weights = np.int64(1) << np.arange(npix, dtype=np.int64)
    return (mask * weights).sum(axis=1)


def synthetic_pcm16_mixed(key: int, n_samples: int) -> bytes:
    """Key-structured PCM pattern for the duplicate-audio fixture: a
    Knuth-multiplier mix gives each key its own oscillation so
    energy-DELTA fingerprints discriminate between keys (the linear
    ramp of :func:`synthetic_pcm16` has monotone energies for every
    key — all keys fingerprint to 0). Pure integer arithmetic,
    replayable in SQL (products stay < 2^63)."""
    return struct.pack(
        f"<{n_samples}h",
        *((((key * 31 + 1) * (i + 1) * 2654435761) % 65536) - 32768 for i in range(n_samples)),
    )


def _synthetic_pcm16_mixed_batch(keys, n_samples: int):
    """Vectorized :func:`synthetic_pcm16_mixed`. The product can exceed
    2⁶³ for large keys; int64 multiplication wraps mod 2⁶⁴, and because
    65536 divides 2⁶⁴ the wrap preserves the value mod 65536 — so the
    ``% 65536`` result (numpy % is sign-of-divisor, i.e. non-negative)
    equals Python's arbitrary-precision result for every integer key
    (pinned by pytest parity, large keys included)."""
    ka = np.asarray(keys, dtype=np.int64)[:, None]
    i = np.arange(1, n_samples + 1, dtype=np.int64)[None, :]
    with np.errstate(over="ignore"):
        mixed = (ka * 31 + 1) * i * 2654435761
    return ((mixed % 65536) - 32768).astype("<i2")


def attach_synthetic_audio_keyed(
    df: DataFrame,
    id_col: str,
    key_col: str,
    n_samples: int = 480,
    sample_rate: int = 16000,
) -> DataFrame:
    """WAV fixture with the PCM pattern generated from ``key_col``
    (rows sharing a key carry byte-identical audio) — the
    duplicate-audio corpus generator."""
    return _attach(
        df,
        id_col,
        key_col,
        lambda seeds: [
            encode_wav(sample_rate, 1, row.tobytes())
            for row in _synthetic_pcm16_mixed_batch(seeds, n_samples)
        ],
    )


AUDIO_FP_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("afp", LongType())]
)


def audio_fingerprint_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id", chunk: int = 24
) -> DataFrame:
    """Energy-delta audio fingerprint of DECODED WAV payloads (the
    Shazam-family shape reduced to one band): chunk the PCM16 stream
    into ``chunk``-sample windows, per-window energy e_c = Σ|s|, bit
    c-1 set iff e_c > e_{c-1} (strict integer compare — engine-exact).
    Robust to uniform gain-down (energy ORDER is what's hashed), cheap
    enough to run at ingest; dedup is then one groupBy on the packed
    fingerprint, dedup_exact's cost model on audio."""

    def fingerprint(payload: bytes) -> int:
        _rate, _ch, samples = decode_wav(payload)
        a = np.abs(np.asarray(samples, dtype=np.int64))
        energies = np.add.reduceat(a, np.arange(0, len(a), chunk))
        fp = 0
        # bit c-1 set iff e_c > e_{c-1}: pack only the set bits
        for c in np.nonzero(energies[1:] > energies[:-1])[0]:
            fp |= 1 << int(c)
        return fp

    def kernel(rb):
        pls = _column(rb, payload_col).to_pylist()
        return [rb.column(id_col), [fingerprint(pl) for pl in pls]]

    return _map_typed(df.select(id_col, payload_col), AUDIO_FP_SCHEMA, kernel)


VIDEO_SIG_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("vsig", StringType())]
)


def video_signature_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Order-sensitive video signature: demux the PPM stream, integer
    average-hash every frame, md5 the comma-joined hash sequence —
    equal only when the same frames appear in the same order (a
    reordered or truncated clip signs differently, unlike any
    commutative frame-hash fold)."""
    import hashlib

    def signature(payload: bytes) -> str:
        joined = ",".join(str(h) for h in _ahashes(split_ppm_stream(payload)))
        return hashlib.md5(joined.encode()).hexdigest()

    def kernel(rb):
        pls = _column(rb, payload_col).to_pylist()
        return [rb.column(id_col), [signature(pl) for pl in pls]]

    return _map_typed(df.select(id_col, payload_col), VIDEO_SIG_SCHEMA, kernel)


def synthetic_rgb_cluster(doc_id: int, width: int, height: int) -> bytes:
    """Near-duplicate-CLUSTER pixel fixture: docs sharing doc_id//10
    get the same hash-mixed base image (a Knuth-multiplier mix, so
    distinct clusters get effectively independent images — the additive
    gradient of :func:`synthetic_rgb` only has 256 distinct patterns,
    which makes dup-cluster size grow with the corpus and pair outputs
    quadratic at replica scale); the copy index doc_id%10 bumps ONE
    pixel's red channel, so within-cluster copies are NEAR-duplicates
    (Hamming-close average hashes), not byte-identical. Pure integer
    arithmetic, intermediates < 2^63 — SQL-replayable."""
    k, c = doc_id // 10, doc_id % 10
    out = bytearray()
    for y in range(height):
        for x in range(width):
            p = y * width + x
            # middle-square mixing per (cluster, pixel, channel):
            # empirically ZERO cross-cluster hash pairs at Hamming ≤ 6
            # among 2M cluster pairs (a multiplicative-only mix left
            # only 256 effective images and heavy cross correlation)
            t = (k * 40503 + p * 9973 + 12345) % 65536
            r = ((t * t) // 256) % 256
            if p == c:
                r = (r + 120) % 256
            out.append(r)
            t = (k * 31727 + p * 8191 + 54321) % 65536
            out.append(((t * t) // 256) % 256)
            t = (k * 28657 + p * 7919 + 11111) % 65536
            out.append(((t * t) // 256) % 256)
    return bytes(out)


def attach_synthetic_image_clusters(
    df: DataFrame, id_col: str = "doc_id", width: int = 8, height: int = 6
) -> DataFrame:
    """Attach the near-dup-cluster PPM payloads of
    :func:`synthetic_rgb_cluster` — Arrow-batched, partition-local."""
    return _attach(
        df,
        id_col,
        id_col,
        lambda seeds: _encode_ppm_batch(
            _synthetic_rgb_cluster_batch(seeds, width, height), width, height
        ),
    )
