"""Multimodal (image/audio/video) column operators — Spark plumbing.

Design for a 100 TB training-data pipeline: media rides as an opaque
``binary`` column next to typed metadata (mime, width/height, duration),
exactly like Parquet/Iceberg store it in production. All engine-side
plumbing — schemas, partition sizing, Arrow batch shape, mapInPandas
signatures — is real and tested. FOUR codecs are fully real in pure
stdlib+numpy:

  * 24-bit uncompressed BMP (``encode_bmp``/``decode_bmp``)
  * 8-bit RGB PNG (``encode_png``/``decode_png`` — stdlib ``zlib``
    DEFLATE + all five scanline filter types on decode)
  * 16-bit PCM RIFF/WAVE (``encode_wav``/``decode_wav``)
  * uncompressed 24-bit DIB RIFF AVI (``encode_avi``/``decode_avi``)

driving real feature extraction (``image_features`` /
``audio_features`` / ``video_features`` — exact integer moments,
bit-identical across engines), real nearest-neighbor image resize and
audio resample, and real evenly-spaced video frame sampling
(``sample_frames`` re-encodes each sampled AVI frame as a standalone
BMP, so the image operators compose downstream). JPEG and
compressed-audio/-video decode remain stubbed behind the
``_decode_*`` seams because this container ships no media libraries —
swap the seam for PIL/torchaudio/ffmpeg on a real cluster; nothing
else changes.

Operators:
  * attach_fake_media   — deterministic synthetic binary payloads (seeded
                          per doc) so the pipeline is testable end-to-end
                          with no external data
  * media_stats         — per-row byte size, sha256, magic-sniffed kind
                          (pure JVM functions; no Python)
  * extract_features    — mapInPandas over Arrow batches: binary →
                          fixed-dim float feature vector (stub: seeded
                          hash-derived vector; real: CNN embedding)
  * resize_images       — mapInPandas: binary → binary (stub: truncated
                          payload + updated metadata; real: PIL resize)
  * sample_frames       — one row per sampled frame: REAL evenly-spaced
                          keyframe extraction for AVI payloads (each
                          frame re-encoded as a standalone BMP), byte
                          slices for undecodable containers

Scale notes:
  * Binary rows are large — two levers bound batch memory:
    spark.sql.execution.arrow.maxRecordsPerBatch sizes the INPUT Arrow
    batches (set it for binary-heavy tables), and ``rows_per_batch``
    re-chunks inside the UDF (``_rechunk``) so the decode loop and each
    OUTPUT batch hold ≤ rows_per_batch rows regardless of the conf.
  * mapInPandas streams batches (iterator API): peak executor memory is
    one batch, not one partition.
  * All outputs keep doc_id so downstream joins stay co-partitioned.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

_MAGIC = {
    b"\xff\xd8\xff": "image/jpeg",
    b"\x89PNG": "image/png",
    b"RIFF": "audio/wav",
}


def attach_fake_media(
    df: DataFrame, id_col: str = "doc_id", payload_bytes: int = 256
) -> DataFrame:
    """Deterministic synthetic media column: payload = magic prefix +
    sha256-keystream of the doc id; dims derived from the id. Pure
    column expressions (sha2/repeat/substr) — executors never run
    Python here."""
    i = F.col(id_col).cast("long")
    magic = F.when(i % 3 == 0, F.lit(b"\xff\xd8\xff\xe0")).when(
        i % 3 == 1, F.lit(b"\x89PNG\r\n")
    ).otherwise(F.lit(b"RIFF\x00\x00"))
    # keystream: sha256(id) hex repeated to payload length → binary
    ks = F.repeat(
        F.sha2(i.cast("string").cast("binary"), 256),
        (payload_bytes // 32) + 1,
    )
    payload = F.concat(
        magic,
        F.substring(ks, 1, payload_bytes).cast("binary"),
    )
    return df.select(
        i.alias("doc_id"),
        payload.alias("media"),
        F.when(i % 3 == 0, "image/jpeg")
        .when(i % 3 == 1, "image/png")
        .otherwise("audio/wav")
        .alias("mime"),
        (32 + (i % 8) * 16).cast("int").alias("width"),
        (32 + (i % 5) * 16).cast("int").alias("height"),
    )


def media_stats(df: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, sha256, kind): metadata scan — JVM-only
    expressions, no media decode, column-pruned to the binary column.
    RIFF containers are disambiguated by their form type at bytes
    8:12 ('AVI ' -> video/avi; anything else, including WAVE and
    truncated/keystream payloads, stays audio/wav — the historical
    sniff)."""
    kind = F.lit("unknown")
    for magic, mime in _MAGIC.items():
        kind = F.when(
            F.substring(F.col("media"), 1, len(magic)) == F.lit(magic),
            F.lit(mime),
        ).otherwise(kind)
    kind = F.when(
        (F.substring(F.col("media"), 1, 4) == F.lit(b"RIFF"))
        & (F.substring(F.col("media"), 9, 4) == F.lit(b"AVI ")),
        F.lit("video/avi"),
    ).otherwise(kind)
    return df.select(
        "doc_id",
        F.length("media").alias("n_bytes"),
        F.sha2(F.col("media"), 256).alias("sha256"),
        kind.alias("kind"),
    )


# --------------------------------------------------------------------------
# REAL codec #1: 24-bit uncompressed BMP (BITMAPINFOHEADER, BI_RGB) in
# pure stdlib struct + numpy — no image library needed. PNG and WAV
# follow below; JPEG/compressed-audio remain documented seams (swap
# for PIL/torchaudio on a real cluster; the Spark-side plumbing is
# identical).
# --------------------------------------------------------------------------

import struct

_BMP_HEADER_SIZE = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def encode_bmp(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB (row 0 = TOP) -> 24-bit BI_RGB BMP bytes:
    bottom-up row order, BGR channel order, rows padded to 4 bytes —
    the classic Windows V3 layout every viewer reads."""
    px = np.asarray(px, dtype=np.uint8)
    h, w, ch = px.shape
    if ch != 3:
        raise ValueError(f"expected (h, w, 3) RGB, got {px.shape}")
    row_raw = w * 3
    stride = row_raw + ((-row_raw) % 4)
    img_size = stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER_SIZE + img_size, 0, 0,
        _BMP_HEADER_SIZE,
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    # the pixel array is exactly the DIB layout the AVI codec shares
    return header + info + _encode_dib(px)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP bytes -> (h, w, 3) uint8 RGB, row 0 = TOP
    (inverts encode_bmp exactly; byte-roundtrip pinned in tests)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_sz, w, h_signed = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_sz < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only 24-bit uncompressed BITMAPINFOHEADER BMPs are "
            f"decoded here (header={hdr_sz}, bpp={bpp}, "
            f"compression={compression}) — other variants are the "
            f"documented codec seam"
        )
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    stride = w * 3 + ((-(w * 3)) % 4)
    return _decode_dib(payload[off : off + stride * h], w, h, top_down)


def fake_bmp_pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic pixel grid — linear congruential per
    channel, chosen so a SQL engine can re-derive every pixel (the
    media_features gate oracle regenerates this grid in DuckDB):
    R=(7i+3x+5y)%256, G=(11i+x+2y)%256, B=(13i+4x+y)%256 with x the
    column and y the row FROM THE TOP."""
    i = int(doc_id)
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    r = (7 * i + 3 * x + 5 * y) % 256
    g = (11 * i + x + 2 * y) % 256
    b = (13 * i + 4 * x + y) % 256
    return np.stack(
        [np.broadcast_to(c, (h, w)) for c in (r, g, b)], axis=-1
    ).astype(np.uint8)


def attach_fake_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-format synthetic media: every row gets an actual 24-bit
    BMP (encode_bmp over the deterministic fake_bmp_pixels grid) with
    id-derived dims w in {16,24,32,40}, h in {16,24,32}. mapInPandas —
    binary payload construction is genuinely Python work, unlike
    attach_fake_media's column-algebra keystream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                i = int(did)
                w, h = 16 + (i % 4) * 8, 16 + (i % 3) * 8
                out.append(
                    (i, encode_bmp(fake_bmp_pixels(i, w, h)),
                     "image/bmp", w, h)
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "media", "mime", "width", "height"]
            )

    return df.select(F.col(id_col).cast("long").alias("doc_id")).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


IMAGE_FEATURE_DIM = 8


def _bmp_features(payload: bytes) -> list[float]:
    """REAL feature vector from a decoded image (BMP or PNG — magic
    dispatch via ``decode_image``) — 8 dims, every one a single IEEE
    division of EXACT int64 moments (so any engine that sums the same
    pixels lands on the bit-identical double):
    [mean_R, mean_G, mean_B] / 255, population-variance
    [(n·Σc² − (Σc)²) / (n²·255²)] per channel, w/256, h/256."""
    px = decode_image(payload).astype(np.int64)
    h, w, _ = px.shape
    n = h * w
    out = []
    sums = px.reshape(-1, 3).sum(axis=0)
    sqs = (px.reshape(-1, 3) ** 2).sum(axis=0)
    for c in range(3):
        out.append(float(sums[c]) / float(n * 255))
    for c in range(3):
        out.append(
            float(n * int(sqs[c]) - int(sums[c]) ** 2)
            / float(n * n * 255 * 255)
        )
    out.append(w / 256.0)
    out.append(h / 256.0)
    return out


def _rechunk(
    batches: Iterator[pd.DataFrame], rows_per_batch: int
) -> Iterator[pd.DataFrame]:
    """Slice incoming Arrow batches to ≤rows_per_batch rows. The INPUT
    batch size is governed by spark.sql.execution.arrow.maxRecordsPerBatch
    (set it for binary-heavy tables); re-chunking inside the UDF bounds
    what the decode loop and each OUTPUT batch hold at once, so a large
    input batch cannot force an equally large decoded-features batch."""
    for pdf in batches:
        for s in range(0, len(pdf), rows_per_batch):
            yield pdf.iloc[s : s + rows_per_batch]


def image_features(
    df: DataFrame, rows_per_batch: int = 512
) -> DataFrame:
    """(doc_id, features: array<double>[8]) over REAL BMP or PNG
    payloads via mapInPandas — the fully-real decode paths (other
    formats raise; run it behind a mime/magic filter in mixed
    corpora). float64 so the exact-integer-moment arithmetic survives
    to the output."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, rows_per_batch):
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "features": [
                        _bmp_features(p) for p in pdf["media"]
                    ],
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# REAL codec #2: 8-bit truecolor PNG over stdlib zlib — DEFLATE is in
# the standard library, so PNG needs no image package at all. Decode
# implements all five scanline filter types (None/Sub/Up/Average/
# Paeth); encode can emit any one of them, so the decoder's unfilter
# path is pinned against this encoder for every type in tests.
# --------------------------------------------------------------------------

import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PNG Paeth predictor, vectorized (a=left, b=up, c=up-left)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(px: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB -> 8-bit truecolor (color type 2) PNG bytes.
    ``filter_type`` picks the per-scanline filter (0=None default,
    1..4 = Sub/Up/Average/Paeth)."""
    px = np.asarray(px, dtype=np.uint8)
    h, w, ch = px.shape
    if ch != 3:
        raise ValueError(f"expected (h, w, 3) RGB, got {px.shape}")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"unknown PNG filter type {filter_type}")
    raw = px.astype(np.int64)
    prev = np.zeros((w, 3), dtype=np.int64)
    lines = []
    for y in range(h):
        cur = raw[y]
        left = np.vstack([np.zeros((1, 3), np.int64), cur[:-1]])
        upleft = np.vstack([np.zeros((1, 3), np.int64), prev[:-1]])
        if filter_type == 0:
            out = cur
        elif filter_type == 1:
            out = cur - left
        elif filter_type == 2:
            out = cur - prev
        elif filter_type == 3:
            out = cur - (left + prev) // 2
        else:
            out = cur - _paeth(left, prev, upleft)
        lines.append(
            bytes([filter_type]) + (out % 256).astype(np.uint8).tobytes()
        )
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit truecolor non-interlaced PNG -> (h, w, 3) uint8 RGB.
    Implements all five scanline filters; palette/alpha/16-bit/
    interlaced variants are the documented codec seam. Multiple IDAT
    chunks and unknown ancillary chunks are handled per spec."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        if tag == b"IHDR":
            ihdr = struct.unpack_from(">IIBBBBB", payload, pos + 8)
        elif tag == b"IDAT":
            idat.append(payload[pos + 8 : pos + 8 + ln])
        elif tag == b"IEND":
            break
        pos += 12 + ln  # length + tag + body + crc
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color != 2 or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit truecolor non-interlaced PNGs are decoded here "
            f"(depth={depth}, color={color}, interlace={interlace}) — "
            f"other variants are the documented codec seam"
        )
    stride = 1 + w * 3
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != stride * h:
        raise ValueError("PNG scanline payload has the wrong length")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    out = np.zeros((h, w, 3), dtype=np.int64)
    prev = np.zeros((w, 3), dtype=np.int64)
    zero3 = np.zeros(3, dtype=np.int64)
    for y in range(h):
        ft = int(rows[y, 0])
        cur = rows[y, 1:].reshape(w, 3).astype(np.int64)
        if ft == 0:
            pass
        elif ft == 2:
            cur = (cur + prev) % 256
        elif ft in (1, 3, 4):
            rec = np.zeros((w, 3), dtype=np.int64)
            for x in range(w):
                left = rec[x - 1] if x else zero3
                upleft = prev[x - 1] if x else zero3
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + prev[x]) // 2
                else:
                    pred = _paeth(left, prev[x], upleft)
                rec[x] = (cur[x] + pred) % 256
            cur = rec
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = cur
        prev = cur
    return out.astype(np.uint8)


def decode_image(payload: bytes) -> np.ndarray:
    """Magic-dispatched real image decode: BMP or PNG -> (h, w, 3)
    uint8 RGB. Everything else is the documented JPEG/etc seam."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        return decode_png(payload)
    raise NotImplementedError(
        "no stdlib decoder for this image format — documented codec seam"
    )


def attach_fake_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-format synthetic PNGs over the SAME deterministic pixel
    grid and dims as ``attach_fake_bmp`` (w=16+(i%4)·8, h=16+(i%3)·8)
    — so the media_features DuckDB oracle applies verbatim to the PNG
    decode path. The scanline filter type cycles i%5, so every filter
    is exercised corpus-wide."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                i = int(did)
                w, h = 16 + (i % 4) * 8, 16 + (i % 3) * 8
                out.append(
                    (i,
                     encode_png(fake_bmp_pixels(i, w, h), filter_type=i % 5),
                     "image/png", w, h)
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "media", "mime", "width", "height"]
            )

    return df.select(F.col(id_col).cast("long").alias("doc_id")).mapInPandas(
        run, schema=MEDIA_SCHEMA
    )


# --------------------------------------------------------------------------
# REAL codec #3: 16-bit PCM RIFF/WAVE — pure struct + numpy. Drives
# real audio feature extraction (exact integer moments, same
# bit-identical-division design as the image path), real framing and
# real nearest-neighbor resampling.
# --------------------------------------------------------------------------

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
    ]
)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 PCM samples, shape (n,) mono or (n, ch) -> RIFF/WAVE
    bytes (format tag 1 = PCM, 16 bits/sample — canonical WAV)."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    data = s.astype("<i2").tobytes()
    block = ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block, block, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes -> ((n, ch) int16 samples, sample_rate). Walks
    the chunk list per spec (unknown chunks like LIST are skipped,
    word alignment honored); only format tag 1 / 16-bit PCM decodes —
    compressed audio is the documented seam."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    leaves: list = []
    _riff_walk(payload, 12, len(payload), leaves)  # word-aligned walk
    fmt = data = None
    for tag, body in leaves:
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif tag == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("truncated WAV (missing fmt/data chunk)")
    audio_fmt, ch, sr, _, _, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(
            f"only 16-bit PCM WAVs are decoded here (format={audio_fmt},"
            f" bits={bits}) — compressed audio is the documented seam"
        )
    s = np.frombuffer(data, dtype="<i2").astype(np.int16)
    return s.reshape(-1, ch), sr


def fake_wav_samples(doc_id: int, n: int) -> np.ndarray:
    """Deterministic synthetic mono PCM — linear congruential per
    sample index, chosen so a SQL engine re-derives every sample (the
    audio_features gate oracle regenerates this stream in DuckDB):
    s_t = ((31·i + 9973·t + 7) mod 65536) − 32768. The 9973 step wraps
    the 16-bit range every ~6.6 samples, so the stream genuinely
    oscillates and the zero-crossing dim is exercised."""
    i = int(doc_id)
    t = np.arange(n, dtype=np.int64)
    return ((31 * i + 9973 * t + 7) % 65536 - 32768).astype(np.int16)


def attach_fake_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-format synthetic audio: every row an actual 16-bit PCM WAV
    over the deterministic fake_wav_samples stream; id-derived
    n ∈ {256,384,512,640}, rate ∈ {8000,12000,16000} Hz."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                i = int(did)
                n = 256 + (i % 4) * 128
                sr = 8000 + (i % 3) * 4000
                out.append(
                    (i, encode_wav(fake_wav_samples(i, n), sr),
                     "audio/wav", sr, n)
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "media", "mime", "sample_rate",
                         "n_samples"],
            )

    return df.select(F.col(id_col).cast("long").alias("doc_id")).mapInPandas(
        run, schema=AUDIO_SCHEMA
    )


AUDIO_FEATURE_DIM = 8


def _wav_features(payload: bytes) -> list[float]:
    """REAL feature vector from a decoded WAV — 8 dims, each a single
    IEEE division of EXACT int64 moments over the interleaved sample
    stream (multi-channel streams are flattened; the synthetic corpus
    is mono): [mean, population variance, min, max, mean |s|] in
    full-scale units, zero-crossing fraction, n/65536, rate/65536."""
    s, sr = decode_wav(payload)
    v = s.reshape(-1).astype(np.int64)
    n = v.size
    if n == 0:
        raise ValueError("empty WAV data chunk")
    sv, qv = int(v.sum()), int((v * v).sum())
    sa = int(np.abs(v).sum())
    neg = v < 0
    zc = int(np.count_nonzero(neg[1:] != neg[:-1]))
    return [
        sv / (n * 32768.0),
        float(n * qv - sv * sv) / float(n * n * 32768 * 32768),
        int(v.min()) / 32768.0,
        int(v.max()) / 32768.0,
        sa / (n * 32768.0),
        zc / float(n - 1) if n > 1 else 0.0,
        n / 65536.0,
        sr / 65536.0,
    ]


def audio_features(df: DataFrame, rows_per_batch: int = 512) -> DataFrame:
    """(doc_id, features: array<double>[8]) over REAL WAV payloads via
    mapInPandas — same exact-moment design as image_features, so the
    DuckDB gate oracle re-derives every dim from the regenerated
    sample stream. float64 end-to-end."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, rows_per_batch):
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "features": [_wav_features(p) for p in pdf["media"]],
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=schema)


def resample_audio(df: DataFrame, target_rate: int) -> DataFrame:
    """binary→binary audio transform keeping AUDIO_SCHEMA: decode →
    nearest-neighbor index map (src = (dst·n_src) // n_dst, the same
    floor mapping as image resize — deterministic integer arithmetic)
    → re-encode at ``target_rate``. n_dst = n_src·target/src exactly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["media"]):
                s, sr = decode_wav(payload)
                n_src = s.shape[0]
                n_dst = max((n_src * target_rate) // sr, 1)
                idx = (np.arange(n_dst, dtype=np.int64) * n_src) // n_dst
                out.append(
                    (int(did), encode_wav(s[idx], target_rate),
                     "audio/wav", target_rate, int(n_dst))
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "media", "mime", "sample_rate",
                         "n_samples"],
            )

    return df.select(
        "doc_id", "media", "mime", "sample_rate", "n_samples"
    ).mapInPandas(run, schema=AUDIO_SCHEMA)


def audio_frames(
    df: DataFrame, frame_samples: int = 256, hop: int = 128
) -> DataFrame:
    """One row per analysis window over REAL decoded PCM: (doc_id,
    frame_idx, frame) where ``frame`` is itself a VALID WAV payload
    over samples [idx·hop, idx·hop+frame_samples) — the audio analogue
    of video keyframe sampling. The explode happens inside the UDF so
    one Arrow batch in streams n_frames batches' worth out."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["media"]):
                s, sr = decode_wav(payload)
                n = s.shape[0]
                fi = 0
                for start in range(0, max(n - frame_samples, 0) + 1, hop):
                    rows.append(
                        (int(did), fi,
                         encode_wav(s[start : start + frame_samples], sr))
                    )
                    fi += 1
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "frame"])

    return df.select("doc_id", "media").mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# REAL codec #4: uncompressed 24-bit RGB RIFF AVI ('vids'/'DIB '
# stream, one '00db' chunk per frame) — pure struct + numpy, reusing
# the RIFF chunk walk the WAV codec established and the bottom-up
# BGR padded-row DIB layout the BMP codec established. Makes the
# VIDEO modality real: genuine container parse, genuine per-frame
# pixel decode, real evenly-spaced keyframe sampling (sampled frames
# re-encode as standalone BMPs so the image operators compose), and
# exact-integer-moment video features a SQL engine re-derives.
# --------------------------------------------------------------------------

VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
    ]
)


def _encode_dib(px: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB (row 0 = TOP) -> raw DIB pixel array:
    bottom-up rows, BGR, each row padded to 4 bytes — exactly the
    byte layout encode_bmp writes after its 54-byte header (pinned
    against it in tests)."""
    h, w, _ = px.shape
    row_raw = w * 3
    stride = row_raw + ((-row_raw) % 4)
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :row_raw] = px[::-1, :, ::-1].reshape(h, row_raw)
    return rows.tobytes()


def _decode_dib(
    body: bytes, w: int, h: int, top_down: bool = False
) -> np.ndarray:
    """Inverse of _encode_dib: raw BGR padded rows -> (h, w, 3) uint8
    RGB, row 0 = TOP. ``top_down`` selects the (rarer) top-down row
    order a negative biHeight declares."""
    row_raw = w * 3
    stride = row_raw + ((-row_raw) % 4)
    rows = np.frombuffer(body, dtype=np.uint8, count=stride * h).reshape(
        h, stride
    )[:, :row_raw]
    px = rows.reshape(h, w, 3)[:, :, ::-1]
    return np.ascontiguousarray(px if top_down else px[::-1])


def _riff_chunk(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack("<I", len(body)) + body + (
        b"\x00" if len(body) & 1 else b""
    )


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def encode_avi(frames: np.ndarray, fps: int) -> bytes:
    """(n, h, w, 3) uint8 RGB frames -> RIFF AVI bytes: one 'vids'
    stream, handler 'DIB ' (uncompressed 24-bit bottom-up DIB), one
    '00db' chunk per frame inside LIST 'movi'. Spec-minimal but
    spec-conformant: avih + strh + strf carry the real dims, frame
    count and rate."""
    fr = np.asarray(frames, dtype=np.uint8)
    if fr.ndim != 4 or fr.shape[3] != 3:
        raise ValueError(f"expected (n, h, w, 3) RGB frames, got {fr.shape}")
    n, h, w, _ = fr.shape
    row_raw = w * 3
    stride = row_raw + ((-row_raw) % 4)
    frame_size = stride * h
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,        # dwMicroSecPerFrame
        frame_size * fps,        # dwMaxBytesPerSec
        0, 0,                    # padding granularity, flags
        n, 0, 1,                 # total frames, initial frames, streams
        frame_size, w, h,        # suggested buffer, width, height
        0, 0, 0, 0,              # reserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"DIB ", 0, 0, 0,
        0,                       # dwInitialFrames
        1, fps,                  # dwScale, dwRate -> fps frames/sec
        0, n,                    # dwStart, dwLength
        frame_size, 0, 0,        # suggested buffer, quality, sample size
        0, 0, w, h,              # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(
            b"strl",
            _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf),
        ),
    )
    movi = _riff_list(
        b"movi",
        b"".join(_riff_chunk(b"00db", _encode_dib(fr[k])) for k in range(n)),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_walk(payload: bytes, pos: int, end: int, out: list) -> None:
    """Flatten a RIFF chunk tree into (tag, body) leaves — LIST chunks
    recurse, word alignment honored. The ONE chunk walk both RIFF
    codecs (WAV and AVI) parse with. A chunk that claims more bytes
    than its parent holds raises ``ValueError``."""
    while pos + 8 <= end:
        tag = payload[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        start = pos + 8
        if start + ln > end:
            raise ValueError("truncated RIFF chunk")
        if tag == b"LIST":
            _riff_walk(payload, start + 4, start + ln, out)
        else:
            out.append((tag, payload[start : start + ln]))
        pos = start + ln + (ln & 1)


def decode_avi(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF AVI bytes -> ((n, h, w, 3) uint8 RGB frames, fps). Only
    the uncompressed 24-bit DIB 'vids' stream decodes — compressed
    codecs (MJPEG/H.264/...) and fractional frame rates (NTSC
    30000/1001) raise NotImplementedError, the documented seam. The
    video stream's NUMBER is derived from its strl position
    (frame chunks are '{nn}db'/'{nn}dc'), so a file that muxes an
    audio stream before the video stream still decodes."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    leaves: list = []
    _riff_walk(payload, 12, len(payload), leaves)
    strh = strf = vids_idx = None
    n_strh = 0
    for tag, body in leaves:
        if tag == b"strh":
            if body[:4] == b"vids" and vids_idx is None:
                vids_idx, strh = n_strh, body
            n_strh += 1
        elif tag == b"strf" and strh is not None and strf is None:
            strf = body
    if strh is None or strf is None:
        raise ValueError("truncated AVI (missing vids strh/strf)")
    prefix = b"%02d" % vids_idx
    dibs = [
        body for tag, body in leaves
        if tag in (prefix + b"db", prefix + b"dc")
    ]
    if not dibs:
        raise ValueError("truncated AVI (no frame chunks)")
    scale, rate = struct.unpack_from("<II", strh, 20)
    scale = max(scale, 1)
    if rate % scale:
        raise NotImplementedError(
            f"fractional frame rate {rate}/{scale} — decode_avi returns "
            f"an integer fps, so only whole-number rates are decoded here"
        )
    _, w, h_signed, _, bpp, comp = struct.unpack_from("<IiiHHI", strf, 0)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit DIB AVI streams are decoded here "
            f"(bpp={bpp}, compression={comp}) — compressed video is the "
            f"documented codec seam"
        )
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    frames = np.stack([_decode_dib(d, w, h, top_down) for d in dibs])
    return frames, rate // scale


def fake_avi_pixels(doc_id: int, frame: int, w: int, h: int) -> np.ndarray:
    """Deterministic synthetic frame — the fake_bmp_pixels LCG grid
    extended with a per-frame term, chosen so a SQL engine re-derives
    every pixel of every frame (the video_features gate oracle
    regenerates this in DuckDB): R=(7i+17f+3x+5y)%256,
    G=(11i+23f+x+2y)%256, B=(13i+29f+4x+y)%256."""
    i, f = int(doc_id), int(frame)
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    r = (7 * i + 17 * f + 3 * x + 5 * y) % 256
    g = (11 * i + 23 * f + x + 2 * y) % 256
    b = (13 * i + 29 * f + 4 * x + y) % 256
    return np.stack(
        [np.broadcast_to(c, (h, w)) for c in (r, g, b)], axis=-1
    ).astype(np.uint8)


def attach_fake_avi(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL-format synthetic video: every row an actual uncompressed
    RIFF AVI over the deterministic fake_avi_pixels frames — the SAME
    dim grid as the image codecs (w=16+(i%4)·8, h=16+(i%3)·8),
    n_frames ∈ {2,3,4}, fps ∈ {10,15}."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                i = int(did)
                w, h = 16 + (i % 4) * 8, 16 + (i % 3) * 8
                nf, fps = 2 + (i % 3), 10 + (i % 2) * 5
                frames = np.stack(
                    [fake_avi_pixels(i, f, w, h) for f in range(nf)]
                )
                out.append(
                    (i, encode_avi(frames, fps), "video/avi", w, h, nf, fps)
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "media", "mime", "width", "height",
                         "n_frames", "fps"],
            )

    return df.select(F.col(id_col).cast("long").alias("doc_id")).mapInPandas(
        run, schema=VIDEO_SCHEMA
    )


def resize_videos(
    df: DataFrame, target_w: int, target_h: int
) -> DataFrame:
    """binary→binary video transform keeping VIDEO_SCHEMA: decode the
    AVI → nearest-neighbor resample every frame (the same floor
    mapping as image resize) → re-encode at the original rate. The
    video analogue of ``resize_images``/``resample_audio``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, payload in zip(pdf["doc_id"], pdf["media"]):
                frames, fps = decode_avi(payload)
                resized = np.stack(
                    [nn_resample(f, target_w, target_h) for f in frames]
                )
                out.append(
                    (int(did), encode_avi(resized, fps), "video/avi",
                     target_w, target_h, int(frames.shape[0]), fps)
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "media", "mime", "width", "height",
                         "n_frames", "fps"],
            )

    return df.select(
        "doc_id", "media", "mime", "width", "height", "n_frames", "fps"
    ).mapInPandas(run, schema=VIDEO_SCHEMA)


VIDEO_FEATURE_DIM = 10


def _avi_features(payload: bytes) -> list[float]:
    """REAL feature vector from a decoded AVI — 10 dims, each a single
    IEEE division of EXACT int64 moments over ALL frames' pixels (so
    any engine summing the same pixels lands on the bit-identical
    double): per-channel mean/255 ×3, per-channel population variance
    ×3, then w/256, h/256, n_frames/256, fps/256."""
    frames, fps = decode_avi(payload)
    nf, h, w, _ = frames.shape
    v = frames.reshape(-1, 3).astype(np.int64)
    n = v.shape[0]
    sums = v.sum(axis=0)
    sqs = (v * v).sum(axis=0)
    out = [float(int(sums[c])) / float(n * 255) for c in range(3)]
    out += [
        float(n * int(sqs[c]) - int(sums[c]) ** 2)
        / float(n * n * 255 * 255)
        for c in range(3)
    ]
    out += [w / 256.0, h / 256.0, nf / 256.0, fps / 256.0]
    return out


def video_features(df: DataFrame, rows_per_batch: int = 256) -> DataFrame:
    """(doc_id, features: array<double>[10]) over REAL AVI payloads
    via mapInPandas — same exact-moment design as image_features /
    audio_features, so the DuckDB gate oracle re-derives every dim
    from the regenerated per-frame pixel grids. float64 end-to-end."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, rows_per_batch):
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "features": [_avi_features(p) for p in pdf["media"]],
                }
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=schema)


# --------------------------------------------------------------------------
# codec seams — STUBS only for formats with no stdlib decoder
# (JPEG, compressed audio, compressed video). Replace with PIL /
# torchaudio / ffmpeg on a real cluster; BMP/PNG/WAV/AVI rows take the
# REAL paths above.
# --------------------------------------------------------------------------

def _decode_features(payload: bytes, dim: int) -> np.ndarray:
    """Feature extractor behind ``extract_features``: REAL for BMP and
    PNG payloads (the 8 exact-moment pixel dims), RIFF/WAVE payloads
    (the 8 exact-moment audio dims) and RIFF/AVI payloads (the 10
    exact-moment video dims), zero-padded/truncated to ``dim``; stub
    (deterministic sha256-seeded unit vector) for formats this
    container cannot decode. The Spark-side contract (bytes in,
    float32[dim] out) is identical either way. Note the dispatch is on
    the FULL container signature (8-byte PNG sig, RIFF????WAVE /
    RIFF????AVI ) — attach_fake_media's magic-prefixed keystream rows
    deliberately fail it (the keystream is hex ASCII, never 'WAVE' /
    'AVI ') and keep the stub path."""
    is_riff = payload[:4] == b"RIFF"
    is_wav = is_riff and payload[8:12] == b"WAVE"
    is_avi = is_riff and payload[8:12] == b"AVI "
    if payload[:2] == b"BM" or payload[:8] == _PNG_SIG or is_wav or is_avi:
        if is_wav:
            base = _wav_features(payload)
        elif is_avi:
            base = _avi_features(payload)
        else:
            base = _bmp_features(payload)
        v = np.zeros(dim, dtype=np.float32)
        upto = min(dim, len(base))
        v[:upto] = np.asarray(base[:upto], dtype=np.float32)
        return v
    h = hashlib.sha256(payload).digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
    v = rng.standard_normal(dim).astype(np.float32)
    return v / np.linalg.norm(v)


def nn_resample(px: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Nearest-neighbor resample with the floor mapping
    src = (dst·src_extent) // dst_extent — pure integer arithmetic,
    deterministic on every platform."""
    h, w, _ = px.shape
    ys = (np.arange(target_h, dtype=np.int64) * h) // target_h
    xs = (np.arange(target_w, dtype=np.int64) * w) // target_w
    return px[ys[:, None], xs[None, :]]


def _decode_resize(payload: bytes, w: int, h: int) -> bytes:
    """Resize behind ``resize_images``: REAL for BMP and PNG payloads
    (decode → nearest-neighbor resample → re-encode in the SAME
    format, byte-exact-pinned vs an independent per-pixel loop in
    tests); STUB for formats this container cannot decode (keeps the
    magic header, rehashes the body with the target dims —
    deterministic)."""
    if payload[:2] == b"BM":
        return encode_bmp(nn_resample(decode_bmp(payload), w, h))
    if payload[:8] == _PNG_SIG:
        return encode_png(nn_resample(decode_png(payload), w, h))
    head = payload[:4]
    body = hashlib.sha256(payload + f":{w}x{h}".encode()).digest()
    return head + body


def extract_features(
    df: DataFrame, dim: int = FEATURE_DIM, rows_per_batch: int = 512
) -> DataFrame:
    """(doc_id, features: array<float>) via mapInPandas — Arrow-batched,
    iterator-streamed (peak memory = one batch of binaries, not a
    partition)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _rechunk(batches, rows_per_batch):
            feats = [
                _decode_features(p, dim).tolist() for p in pdf["media"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "features": feats}
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=schema)


def resize_images(
    df: DataFrame, target_w: int = 64, target_h: int = 64
) -> DataFrame:
    """binary→binary transform keeping schema: (doc_id, media, mime,
    width, height) with updated dims. Only image/* rows are transformed;
    audio passes through untouched (filter stays JVM-side)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            is_img = out["mime"].str.startswith("image/")
            out.loc[is_img, "media"] = out.loc[is_img, "media"].map(
                lambda p: _decode_resize(p, target_w, target_h)
            )
            out.loc[is_img, "width"] = target_w
            out.loc[is_img, "height"] = target_h
            yield out

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """One row per sampled frame: (doc_id, frame_idx, frame_bytes).
    REAL for RIFF/AVI payloads: decode the container, pick n_frames
    evenly spaced frames with the floor mapping src=(fi·n)//n_frames
    (the same integer arithmetic as nn_resample), and re-encode each
    as a STANDALONE BMP — so the sampled rows feed image_features /
    resize_images directly. STUB (payload byte slices) for containers
    this sandbox cannot decode. Output cardinality = rows × n_frames —
    the explode happens inside the UDF so a single Arrow batch in
    yields n_frames batches' worth out without materializing
    per-partition lists."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf["doc_id"], pdf["media"]):
                if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
                    try:
                        frames, _ = decode_avi(payload)
                    except (NotImplementedError, ValueError):
                        # compressed/odd AVI variants keep the
                        # byte-slice stub the docstring promises —
                        # one foreign row must not fail the stage
                        frames = None
                    if frames is not None:
                        n = frames.shape[0]
                        for fi in range(n_frames):
                            rows.append(
                                (int(did), fi,
                                 encode_bmp(frames[(fi * n) // n_frames]))
                            )
                        continue
                step = max(len(payload) // n_frames, 1)
                for fi in range(n_frames):
                    rows.append(
                        (int(did), fi, payload[fi * step : (fi + 1) * step])
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_bytes"]
            )

    return df.select("doc_id", "media").mapInPandas(run, schema=schema)
