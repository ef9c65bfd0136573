"""Multimodal column plumbing + the four REAL stdlib codecs.

BMP, PNG, WAV and AVI decode/encode are fully real (struct + zlib +
numpy); JPEG/compressed-audio/-video remain stub seams. These tests pin the codec
byte layouts against independent references (hand-built byte strings,
the stdlib wave module, naive per-pixel/per-sample loops) plus the
Spark-side contract: binary column handling, mapInPandas signatures,
output schemas, row multiplicity, and byte-exact determinism of the
synthetic corpus.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.range(0, 24).select(F.col("id").alias("doc_id"))
    return mm.attach_fake_media(docs, payload_bytes=256).persist()


def _expected_payload(doc_id: int, payload_bytes: int = 256) -> bytes:
    magic = {
        0: b"\xff\xd8\xff\xe0",
        1: b"\x89PNG\r\n",
        2: b"RIFF\x00\x00",
    }[doc_id % 3]
    ks = hashlib.sha256(str(doc_id).encode()).hexdigest()
    ks = (ks * (payload_bytes // 32 + 1))[:payload_bytes]
    return magic + ks.encode()


def test_attach_fake_media_deterministic_bytes(media):
    # column-expression payload == independent Python reconstruction
    for r in media.orderBy("doc_id").limit(9).collect():
        assert bytes(r.media) == _expected_payload(r.doc_id), r.doc_id
    assert _shape(media.schema) == _shape(mm.MEDIA_SCHEMA)


def _shape(schema):
    # nullability differs when built from non-null spark.range ids
    return [(f.name, f.dataType) for f in schema.fields]


def test_media_stats_jvm_only(media):
    stats = {r.doc_id: r for r in mm.media_stats(media).collect()}
    for did, r in stats.items():
        exp = _expected_payload(did)
        assert r.n_bytes == len(exp)
        assert r.sha256 == hashlib.sha256(exp).hexdigest()
        assert r.kind == ["image/jpeg", "image/png", "audio/wav"][did % 3]
    # metadata scan must not drop into Python: no *InPandas/PythonUDF node
    plan = mm.media_stats(media)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "InPandas" not in plan


def test_extract_features_unit_vectors(media):
    feats = mm.extract_features(media, dim=16).collect()
    assert len(feats) == 24
    for r in feats:
        assert len(r.features) == 16
        assert abs(sum(x * x for x in r.features) - 1.0) < 1e-3
    # deterministic across runs
    again = {r.doc_id: r.features for r in mm.extract_features(media, dim=16).collect()}
    for r in feats:
        assert again[r.doc_id] == r.features


def test_resize_images_only_touches_images(media):
    out = {r.doc_id: r for r in mm.resize_images(media, 64, 64).collect()}
    src = {r.doc_id: r for r in media.collect()}
    for did, r in out.items():
        if src[did].mime.startswith("image/"):
            assert (r.width, r.height) == (64, 64)
            assert bytes(r.media)[:4] == bytes(src[did].media)[:4]  # magic kept
            assert bytes(r.media) != bytes(src[did].media)
        else:  # audio passes through untouched
            assert bytes(r.media) == bytes(src[did].media)
            assert (r.width, r.height) == (src[did].width, src[did].height)
    assert _shape(mm.resize_images(media).schema) == _shape(mm.MEDIA_SCHEMA)


def test_sample_frames_multiplicity(media):
    fr = mm.sample_frames(media, n_frames=4)
    assert fr.count() == 24 * 4
    one = fr.filter("doc_id = 3").orderBy("frame_idx").collect()
    assert [r.frame_idx for r in one] == [0, 1, 2, 3]
    payload = _expected_payload(3)
    step = len(payload) // 4
    assert bytes(one[1].frame_bytes) == payload[step : 2 * step]


# ------------------------------------------------------------------ real BMP


def test_bmp_codec_roundtrip_and_layout():
    """decode(encode(px)) == px, including padded odd widths; the
    byte layout is the real Windows V3 one (bottom-up, BGR, 4-byte
    row padding) — checked against a hand-built reference byte
    string, not just self-consistency."""
    import struct

    import numpy as np

    for w, h in [(16, 16), (17, 9), (1, 1), (5, 3), (40, 32)]:
        px = mm.fake_bmp_pixels(123, w, h)
        payload = mm.encode_bmp(px)
        assert payload[:2] == b"BM"
        assert np.array_equal(mm.decode_bmp(payload), px), (w, h)

    # independent per-byte reference for a tiny 2x2 image
    px = np.array(
        [[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]],
        dtype=np.uint8,
    )
    payload = mm.encode_bmp(px)
    stride = 8  # 2*3 rounded up to 4 bytes
    assert struct.unpack_from("<I", payload, 10)[0] == 54
    assert struct.unpack_from("<ii", payload, 18) == (2, 2)
    body = payload[54:]
    # bottom row first, BGR per pixel, two pad bytes per row
    assert body == bytes(
        [9, 8, 7, 12, 11, 10, 0, 0, 3, 2, 1, 6, 5, 4, 0, 0]
    )
    assert len(body) == stride * 2


def test_bmp_resize_is_byte_exact_vs_reference_loop(spark):
    """resize_images over real BMPs: output bytes equal an independent
    per-pixel nearest-neighbor loop + re-encode, byte for byte."""
    import numpy as np

    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    media = mm.attach_fake_bmp(docs).persist()
    out = {
        r.doc_id: bytes(r.media)
        for r in mm.resize_images(media, 20, 14).collect()
    }
    for r in media.collect():
        src = mm.decode_bmp(bytes(r.media))
        h, w, _ = src.shape
        ref = np.zeros((14, 20, 3), dtype=np.uint8)
        for yd in range(14):
            for xd in range(20):
                ref[yd, xd] = src[(yd * h) // 14, (xd * w) // 20]
        assert out[r.doc_id] == mm.encode_bmp(ref), r.doc_id
    meta = {
        (r.doc_id, r.width, r.height, r.mime)
        for r in mm.resize_images(media, 20, 14).collect()
    }
    assert all(m[1:] == (20, 14, "image/bmp") for m in meta)
    media.unpersist()


def test_image_features_match_naive_pixel_stats(spark):
    """image_features over the real codec == naive per-pixel stats
    computed straight from the generator formula (never decoding)."""
    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    feats = {
        r.doc_id: list(r.features)
        for r in mm.image_features(mm.attach_fake_bmp(docs)).collect()
    }
    for i in range(12):
        w, h = 16 + (i % 4) * 8, 16 + (i % 3) * 8
        n = w * h
        sums, sqs = [0, 0, 0], [0, 0, 0]
        for y in range(h):
            for x in range(w):
                for c, v in enumerate(
                    (
                        (7 * i + 3 * x + 5 * y) % 256,
                        (11 * i + x + 2 * y) % 256,
                        (13 * i + 4 * x + y) % 256,
                    )
                ):
                    sums[c] += v
                    sqs[c] += v * v
        want = (
            [sums[c] / (n * 255) for c in range(3)]
            + [
                (n * sqs[c] - sums[c] ** 2) / (n * n * 255 * 255)
                for c in range(3)
            ]
            + [w / 256, h / 256]
        )
        assert feats[i] == want, i


def test_extract_features_takes_real_path_for_bmp(spark):
    """The generic extract_features operator routes BMP payloads
    through the real decoder (first 8 dims = the exact moments,
    zero-padded), while non-decodable formats keep the stub."""
    docs = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    bmp = mm.attach_fake_bmp(docs)
    feats = {
        r.doc_id: list(r.features)
        for r in mm.extract_features(bmp, dim=16).collect()
    }
    real = {
        r.doc_id: list(r.features)
        for r in mm.image_features(bmp).collect()
    }
    for i, v in feats.items():
        assert v[:8] == pytest.approx(real[i], rel=1e-6)
        assert v[8:] == [0.0] * 8


def test_png_codec_roundtrip_all_filters():
    """decode(encode(px, filter_type=t)) == px for every scanline
    filter type (None/Sub/Up/Average/Paeth), odd widths included, and
    the container is spec-shaped (signature, IHDR geometry, CRCs)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (5, 3), (17, 9), (24, 16)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        for ft in range(5):
            payload = mm.encode_png(px, filter_type=ft)
            assert payload[:8] == mm._PNG_SIG
            assert np.array_equal(mm.decode_png(payload), px), (w, h, ft)

    # container spot-checks on one payload: IHDR geometry + chunk CRCs
    px = mm.fake_bmp_pixels(9, 17, 9)
    payload = mm.encode_png(px, filter_type=4)
    assert struct.unpack_from(">II", payload, 16) == (17, 9)  # w, h
    pos = 8
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag_body = payload[pos + 4 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        assert zlib.crc32(tag_body) & 0xFFFFFFFF == crc
        if tag_body[:4] == b"IEND":
            break
        pos += 12 + ln


def test_png_bmp_cross_format_feature_parity(spark):
    """The SAME pixel grid encoded as PNG and as BMP must produce
    bit-identical exact-moment features — the two real decoders agree
    on row order, channel order, and every pixel value."""
    docs = spark.range(0, 15).select(F.col("id").alias("doc_id"))
    via_bmp = {
        r.doc_id: list(r.features)
        for r in mm.image_features(mm.attach_fake_bmp(docs)).collect()
    }
    via_png = {
        r.doc_id: list(r.features)
        for r in mm.image_features(mm.attach_fake_png(docs)).collect()
    }
    assert via_bmp == via_png
    # attach_fake_png cycles all five filter types across ids 0..14
    kinds = {i % 5 for i in range(15)}
    assert kinds == {0, 1, 2, 3, 4}


def test_png_resize_stays_png_and_matches_bmp_resize(spark):
    """resize_images routes PNG payloads through the real decoder and
    re-encodes as PNG; decoded output pixels equal the BMP-resize
    pixels of the same source grid."""
    import numpy as np

    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    png_out = {
        r.doc_id: bytes(r.media)
        for r in mm.resize_images(
            mm.attach_fake_png(docs), 20, 14
        ).collect()
    }
    bmp_out = {
        r.doc_id: bytes(r.media)
        for r in mm.resize_images(
            mm.attach_fake_bmp(docs), 20, 14
        ).collect()
    }
    for i in range(8):
        assert png_out[i][:8] == mm._PNG_SIG
        assert np.array_equal(
            mm.decode_png(png_out[i]), mm.decode_bmp(bmp_out[i])
        ), i


def test_wav_codec_roundtrip_and_stdlib_interop():
    """decode(encode(s)) == s for mono and stereo int16 PCM; the
    bytes interoperate BOTH WAYS with the stdlib wave module (our
    writer is readable by wave, wave's writer is readable by us) —
    an independent pin on the RIFF layout; a truncated file raises."""
    import io
    import wave

    import numpy as np

    rng = np.random.default_rng(3)
    for n, ch in [(1, 1), (640, 1), (100, 2)]:
        s = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
        payload = mm.encode_wav(s if ch > 1 else s[:, 0], 16000)
        back, sr = mm.decode_wav(payload)
        assert sr == 16000 and np.array_equal(back, s), (n, ch)

    s = mm.fake_wav_samples(7, 512)
    wf = wave.open(io.BytesIO(mm.encode_wav(s, 12000)))
    assert (wf.getnchannels(), wf.getsampwidth(), wf.getframerate()) == (
        1, 2, 12000,
    )
    assert np.array_equal(
        np.frombuffer(wf.readframes(512), dtype="<i2"), s
    )
    buf = io.BytesIO()
    w2 = wave.open(buf, "wb")
    w2.setnchannels(1)
    w2.setsampwidth(2)
    w2.setframerate(8000)
    w2.writeframes(s.astype("<i2").tobytes())
    w2.close()
    back, sr = mm.decode_wav(buf.getvalue())
    assert sr == 8000 and np.array_equal(back[:, 0], s)
    # a data chunk cut short (a partial download) raises, never decodes
    # a silently shortened body
    with pytest.raises(ValueError, match="truncated RIFF chunk"):
        mm.decode_wav(buf.getvalue()[:-10])


def test_audio_features_match_naive_sample_stats(spark):
    """audio_features over the real codec == naive per-sample stats
    computed straight from the generator formula (never decoding)."""
    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    feats = {
        r.doc_id: list(r.features)
        for r in mm.audio_features(mm.attach_fake_wav(docs)).collect()
    }
    for i in range(12):
        n = 256 + (i % 4) * 128
        sr = 8000 + (i % 3) * 4000
        vs = [((31 * i + 9973 * t + 7) % 65536) - 32768 for t in range(n)]
        sv = sum(vs)
        qv = sum(v * v for v in vs)
        sa = sum(abs(v) for v in vs)
        zc = sum(
            1 for a, b in zip(vs, vs[1:]) if (a < 0) != (b < 0)
        )
        want = [
            sv / (n * 32768),
            (n * qv - sv * sv) / (n * n * 32768 * 32768),
            min(vs) / 32768,
            max(vs) / 32768,
            sa / (n * 32768),
            zc / (n - 1),
            n / 65536,
            sr / 65536,
        ]
        assert feats[i] == want, i
        assert want[5] > 0.1  # the LCG stream genuinely oscillates


def test_resample_audio_floor_mapping(spark):
    """resample_audio == an independent per-sample floor-mapping loop;
    metadata (rate, n_samples) updated consistently."""
    import numpy as np

    docs = spark.range(0, 9).select(F.col("id").alias("doc_id"))
    out = {
        r.doc_id: r
        for r in mm.resample_audio(
            mm.attach_fake_wav(docs), 6000
        ).collect()
    }
    for i in range(9):
        n_src = 256 + (i % 4) * 128
        sr_src = 8000 + (i % 3) * 4000
        src = mm.fake_wav_samples(i, n_src)
        n_dst = (n_src * 6000) // sr_src
        ref = np.array(
            [src[(t * n_src) // n_dst] for t in range(n_dst)],
            dtype=np.int16,
        )
        r = out[i]
        assert (r.sample_rate, r.n_samples) == (6000, n_dst), i
        back, sr = mm.decode_wav(bytes(r.media))
        assert sr == 6000 and np.array_equal(back[:, 0], ref), i


def test_audio_frames_are_valid_wavs(spark):
    """audio_frames: one VALID WAV payload per hop window, covering
    [idx*hop, idx*hop+frame) of the decoded stream."""
    import numpy as np

    docs = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    rows = mm.audio_frames(
        mm.attach_fake_wav(docs), frame_samples=128, hop=64
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = bytes(r.frame)
    for i in range(6):
        n = 256 + (i % 4) * 128
        src = mm.fake_wav_samples(i, n)
        want_frames = (n - 128) // 64 + 1
        assert set(by_doc[i]) == set(range(want_frames)), i
        for fi, payload in by_doc[i].items():
            back, sr = mm.decode_wav(payload)
            assert sr == 8000 + (i % 3) * 4000
            assert np.array_equal(
                back[:, 0], src[fi * 64 : fi * 64 + 128]
            ), (i, fi)


def test_extract_features_dispatch_real_vs_stub(spark):
    """extract_features: REAL path for actual WAV/PNG containers, stub
    path for attach_fake_media's magic-prefixed keystream rows (whose
    truncated signatures deliberately fail the full-container check)."""
    docs = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    wav = mm.attach_fake_wav(docs)
    feats = {
        r.doc_id: list(r.features)
        for r in mm.extract_features(wav, dim=16).collect()
    }
    real = {
        r.doc_id: list(r.features)
        for r in mm.audio_features(wav).collect()
    }
    for i, v in feats.items():
        assert v[:8] == pytest.approx(real[i], rel=1e-6)
        assert v[8:] == [0.0] * 8
    # keystream rows (PNG-prefixed i%3==1, RIFF-prefixed i%3==2) keep
    # the deterministic unit-vector stub — no decode attempted
    stub = {
        r.doc_id: list(r.features)
        for r in mm.extract_features(
            mm.attach_fake_media(docs), dim=16
        ).collect()
    }
    import numpy as np

    for i in (1, 2, 4, 5):
        assert abs(np.linalg.norm(stub[i]) - 1.0) < 1e-5, i


def test_avi_codec_roundtrip_and_layout():
    """decode(encode(frames)) is identity over assorted dims (incl.
    odd widths, where DIB row padding kicks in), frame counts and
    rates; header fields pinned at their spec offsets; each '00db'
    frame body is byte-identical to the BMP pixel array for the same
    frame (one DIB layout shared by both codecs)."""
    import numpy as np
    import struct as st

    for n, h, w, fps in [(1, 2, 2, 10), (3, 16, 17, 15), (4, 24, 40, 10)]:
        fr = np.stack([mm.fake_avi_pixels(7, f, w, h) for f in range(n)])
        payload = mm.encode_avi(fr, fps)
        back, got_fps = mm.decode_avi(payload)
        assert got_fps == fps and np.array_equal(back, fr), (n, h, w)
        # spec offsets: RIFF(12) LIST/hdrl(12) avih hdr(8) -> body @32;
        # dwTotalFrames is the 5th DWORD, dwWidth/dwHeight the 9th/10th
        assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
        assert payload[12:16] == b"LIST" and payload[20:24] == b"hdrl"
        assert st.unpack_from("<I", payload, 48)[0] == n
        assert st.unpack_from("<II", payload, 64) == (w, h)
        # first frame chunk body == encode_bmp's pixel array
        at = payload.index(b"00db")
        ln = st.unpack_from("<I", payload, at + 4)[0]
        assert payload[at + 8 : at + 8 + ln] == mm.encode_bmp(fr[0])[54:]
    with pytest.raises(ValueError):
        mm.decode_avi(b"RIFF\x00\x00\x00\x00WAVE")


def test_video_features_match_naive_frame_stats(spark):
    """video_features over the real AVI codec == naive per-pixel stats
    computed straight from the generator formula (never decoding)."""
    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    feats = {
        r.doc_id: list(r.features)
        for r in mm.video_features(mm.attach_fake_avi(docs)).collect()
    }
    for i in range(12):
        w, h = 16 + (i % 4) * 8, 16 + (i % 3) * 8
        nf, fps = 2 + (i % 3), 10 + (i % 2) * 5
        chans = ([], [], [])
        for f in range(nf):
            for y in range(h):
                for x in range(w):
                    chans[0].append((7 * i + 17 * f + 3 * x + 5 * y) % 256)
                    chans[1].append((11 * i + 23 * f + x + 2 * y) % 256)
                    chans[2].append((13 * i + 29 * f + 4 * x + y) % 256)
        n = nf * w * h
        want = [sum(c) / (n * 255) for c in chans] + [
            (n * sum(v * v for v in c) - sum(c) ** 2) / (n * n * 255 * 255)
            for c in chans
        ] + [w / 256, h / 256, nf / 256, fps / 256]
        assert feats[i] == want, i


def test_sample_frames_real_avi(spark):
    """sample_frames over REAL AVI payloads: each sampled row is a
    VALID standalone BMP whose pixels equal the directly-indexed
    generator frame under the floor mapping (fi*n)//n_frames — and it
    composes: image_features runs on the sampled rows unchanged."""
    import numpy as np

    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    avi = mm.attach_fake_avi(docs).persist()
    rows = mm.sample_frames(avi, n_frames=3).collect()
    assert len(rows) == 8 * 3
    for r in rows:
        i, fi = r.doc_id, r.frame_idx
        w, h = 16 + (i % 4) * 8, 16 + (i % 3) * 8
        nf = 2 + (i % 3)
        want = mm.fake_avi_pixels(i, (fi * nf) // 3, w, h)
        assert np.array_equal(mm.decode_bmp(bytes(r.frame_bytes)), want), (
            i, fi,
        )
    # composition: the sampled frames ARE image rows
    frame_media = mm.sample_frames(avi, n_frames=2).select(
        (F.col("doc_id") * 10 + F.col("frame_idx")).alias("doc_id"),
        F.col("frame_bytes").alias("media"),
    )
    got = mm.image_features(frame_media).count()
    assert got == 8 * 2
    avi.unpersist()


def test_extract_features_takes_real_path_for_avi(spark):
    """extract_features dispatches RIFF/AVI payloads to the real
    10-dim video moments, zero-padded to dim."""
    docs = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    avi = mm.attach_fake_avi(docs)
    feats = {
        r.doc_id: list(r.features)
        for r in mm.extract_features(avi, dim=16).collect()
    }
    real = {
        r.doc_id: list(r.features)
        for r in mm.video_features(avi).collect()
    }
    for i, v in feats.items():
        assert v[:10] == pytest.approx(real[i], rel=1e-6)
        assert v[10:] == [0.0] * 6


def test_media_features_feed_the_ann_stack(spark):
    """The multimodal columns are first-class pipeline citizens:
    decoded image features feed the similarity operators directly
    (feature frame -> cosine_topk, no adapter layer), and a doc's own
    feature vector is its nearest neighbor."""
    from search_engine_spark.operators.similarity import cosine_topk

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    feats = mm.image_features(mm.attach_fake_bmp(docs)).select(
        F.col("doc_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    ).persist()
    q = feats.where(F.col("vec_id") == 17).collect()[0].embedding
    top = cosine_topk(feats, list(q), k=3).collect()
    assert top[0].vec_id == 17 and top[0].cosine == pytest.approx(1.0)
    assert len(top) == 3 and top[1].cosine <= top[0].cosine
    feats.unpersist()


def test_media_stats_sniffs_avi_form_type(spark):
    """media_stats distinguishes RIFF/AVI from RIFF/WAVE by the form
    type at bytes 8:12 — still JVM-only, and attach_fake_media's
    RIFF-prefixed keystream rows (hex ASCII at 8:12) keep the
    historical audio/wav sniff."""
    docs = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    avi_kinds = {
        r.doc_id: r.kind
        for r in mm.media_stats(mm.attach_fake_avi(docs)).collect()
    }
    assert set(avi_kinds.values()) == {"video/avi"}
    wav = mm.attach_fake_wav(docs).select("doc_id", "media")
    assert {
        r.kind for r in mm.media_stats(wav).collect()
    } == {"audio/wav"}
    plan = mm.media_stats(
        mm.attach_fake_wav(docs).select("doc_id", "media")
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_avi_foreign_variants():
    """Robustness on spec-valid AVIs this encoder never writes: a
    muxed file whose video stream is NOT stream 0 (frames live in
    '01db' chunks), and a top-down DIB stream (negative biHeight);
    compressed streams raise the documented NotImplementedError."""
    import struct as st

    import numpy as np

    fr = np.stack([mm.fake_avi_pixels(5, f, 24, 16) for f in range(3)])

    # --- audio strl muxed BEFORE the video strl: frames are 01db ---
    ref = mm.encode_avi(fr, 15)
    at = ref.index(b"strh")
    vids_strh = ref[at + 8 : at + 8 + 56]
    at = ref.index(b"strf")
    vids_strf = ref[at + 8 : at + 8 + 40]
    auds_strh = b"auds" + vids_strh[4:]
    auds_strf = st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    hdrl = mm._riff_list(
        b"hdrl",
        mm._riff_chunk(b"avih", b"\x00" * 56)
        + mm._riff_list(
            b"strl",
            mm._riff_chunk(b"strh", auds_strh)
            + mm._riff_chunk(b"strf", auds_strf),
        )
        + mm._riff_list(
            b"strl",
            mm._riff_chunk(b"strh", vids_strh)
            + mm._riff_chunk(b"strf", vids_strf),
        ),
    )
    movi = mm._riff_list(
        b"movi",
        b"".join(
            mm._riff_chunk(b"01db", mm._encode_dib(fr[k])) for k in range(3)
        ),
    )
    body = b"AVI " + hdrl + movi
    muxed = b"RIFF" + st.pack("<I", len(body)) + body
    back, fps = mm.decode_avi(muxed)
    assert fps == 15 and np.array_equal(back, fr)

    # --- top-down stream: negative biHeight, rows stored top-first ---
    neg_strf = st.pack(
        "<IiiHHIIiiII", 40, 24, -16, 1, 24, 0, 0, 0, 0, 0, 0
    )
    hdrl_td = mm._riff_list(
        b"hdrl",
        mm._riff_chunk(b"avih", b"\x00" * 56)
        + mm._riff_list(
            b"strl",
            mm._riff_chunk(b"strh", vids_strh)
            + mm._riff_chunk(b"strf", neg_strf),
        ),
    )
    movi_td = mm._riff_list(
        b"movi",
        b"".join(
            # a top-down body == the bottom-up encoding of the
            # vertically flipped frame
            mm._riff_chunk(b"00db", mm._encode_dib(fr[k][::-1]))
            for k in range(3)
        ),
    )
    body = b"AVI " + hdrl_td + movi_td
    back, _ = mm.decode_avi(b"RIFF" + st.pack("<I", len(body)) + body)
    assert np.array_equal(back, fr)

    # --- compressed stream raises the documented seam error ---
    at = ref.index(b"strf")
    comp = ref[: at + 8 + 16] + st.pack("<I", 1) + ref[at + 8 + 20 :]
    with pytest.raises(NotImplementedError):
        mm.decode_avi(comp)


def test_avi_fractional_rate_raises():
    """A spec-valid fractional rate (NTSC 30000/1001) has no integer
    fps: decode_avi raises the seam error instead of truncating to 29;
    a whole-number rate over a non-unit scale (30/2) still decodes."""
    import struct as st

    import numpy as np

    fr = np.stack([mm.fake_avi_pixels(3, f, 8, 8) for f in range(2)])
    ref = mm.encode_avi(fr, 15)
    # dwScale, dwRate sit at strh body offset 20
    at = ref.index(b"strh") + 8 + 20

    def with_rate(scale, rate):
        return ref[:at] + st.pack("<II", scale, rate) + ref[at + 8 :]

    with pytest.raises(NotImplementedError, match="30000/1001"):
        mm.decode_avi(with_rate(1001, 30000))
    back, fps = mm.decode_avi(with_rate(2, 30))
    assert fps == 15 and np.array_equal(back, fr)


def test_sample_frames_stub_fallback_for_undecodable_avi(spark):
    """A compressed (undecodable) AVI row must NOT fail the stage:
    sample_frames falls back to the byte-slice stub its docstring
    promises, while decodable rows in the same batch take the real
    path."""
    import struct as st

    import numpy as np

    fr = np.stack([mm.fake_avi_pixels(1, f, 16, 16) for f in range(2)])
    good = mm.encode_avi(fr, 10)
    at = good.index(b"strf")
    bad = good[: at + 8 + 16] + st.pack("<I", 1) + good[at + 8 + 20 :]
    df = spark.createDataFrame(
        [(0, bytearray(good)), (1, bytearray(bad))],
        "doc_id long, media binary",
    )
    rows = {(r.doc_id, r.frame_idx): bytes(r.frame_bytes)
            for r in mm.sample_frames(df, n_frames=2).collect()}
    assert len(rows) == 4
    # doc 0: real frames (valid BMPs)
    assert np.array_equal(mm.decode_bmp(rows[(0, 0)]), fr[0])
    # doc 1: byte slices of the payload
    step = max(len(bad) // 2, 1)
    assert rows[(1, 0)] == bad[:step] and rows[(1, 1)] == bad[step : 2 * step]


def test_featurize_media_job_cli(spark, tmp_path):
    """Job-level: the featurize CLI decodes a real media table end to
    end from a fresh interpreter — synthesized AVI corpus -> video
    featurizer, then the same table through the auto (magic-dispatch)
    path."""
    import json as _json
    import os
    import subprocess
    import sys

    env = dict(os.environ)
    env["PYTHONPATH"] = "/root/repo" + os.pathsep + env.get("PYTHONPATH", "")
    out = str(tmp_path / "feats")
    proc = subprocess.run(
        [sys.executable, "/root/repo/jobs/featurize_media_job.py",
         "--synthesize", "12", "--modality", "video", "--output", out],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["n_rows"] == 12 and report["n_dims"] == 10
    feats = {
        r.doc_id: list(r.features)
        for r in spark.read.parquet(out).collect()
    }
    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    want = {
        r.doc_id: list(r.features)
        for r in mm.video_features(mm.attach_fake_avi(docs)).collect()
    }
    assert feats == want

    media_dir = str(tmp_path / "media")
    mm.attach_fake_avi(docs).select("doc_id", "media").write.parquet(
        media_dir
    )
    out2 = str(tmp_path / "feats_auto")
    proc = subprocess.run(
        [sys.executable, "/root/repo/jobs/featurize_media_job.py",
         "--media", media_dir, "--modality", "auto", "--dim", "16",
         "--output", out2],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["n_rows"] == 12 and report["n_dims"] == 16
    auto = {
        r.doc_id: list(r.features)
        for r in spark.read.parquet(out2).collect()
    }
    for i, v in auto.items():
        assert v[:10] == pytest.approx(want[i], rel=1e-6)
        assert v[10:] == [0.0] * 6


def test_resize_videos_matches_per_frame_reference(spark):
    """resize_videos == an independent per-frame per-pixel floor-
    mapping loop; container metadata (dims, frame count, rate)
    preserved/updated consistently; output is a valid AVI."""
    import numpy as np

    docs = spark.range(0, 9).select(F.col("id").alias("doc_id"))
    out = {
        r.doc_id: r
        for r in mm.resize_videos(
            mm.attach_fake_avi(docs), 20, 12
        ).collect()
    }
    for i in range(9):
        w, h = 16 + (i % 4) * 8, 16 + (i % 3) * 8
        nf, fps = 2 + (i % 3), 10 + (i % 2) * 5
        r = out[i]
        assert (r.width, r.height, r.n_frames, r.fps) == (20, 12, nf, fps)
        back, got_fps = mm.decode_avi(bytes(r.media))
        assert got_fps == fps and back.shape == (nf, 12, 20, 3)
        for f in range(nf):
            src = mm.fake_avi_pixels(i, f, w, h)
            ref = np.zeros((12, 20, 3), dtype=np.uint8)
            for yd in range(12):
                for xd in range(20):
                    ref[yd, xd] = src[(yd * h) // 12, (xd * w) // 20]
            assert np.array_equal(back[f], ref), (i, f)


def test_media_features_build_a_persisted_vector_index(spark, tmp_path):
    """Full multimodal->ANN lifecycle: decoded image features build a
    VectorIndex artifact (save -> load -> query); the exact dial over
    the saved artifact equals brute-force cosine over the raw feature
    frame — media vectors are first-class citizens of the persisted
    ANN stack, not just the ad-hoc operators."""
    from search_engine_spark.operators.similarity import cosine_topk
    from search_engine_spark.operators.vector_index import VectorIndex

    docs = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    feats = mm.image_features(mm.attach_fake_bmp(docs)).select(
        F.col("doc_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    ).persist()
    vidx = VectorIndex.build(feats, dim=8, n_centroids=4)
    d = str(tmp_path / "vidx")
    vidx.save(d)
    loaded = VectorIndex.load(spark, d)
    q = feats.where(F.col("vec_id") == 11).collect()[0].embedding
    got = [(r.vec_id, round(r.cosine, 9))
           for r in loaded.topk(list(q), k=5, exact=True).collect()]
    want = [(r.vec_id, round(r.cosine, 9))
            for r in cosine_topk(feats, list(q), k=5).collect()]
    assert got == want and got[0][0] == 11
    assert loaded.topk(list(q), k=5).count() == 5  # default dial runs
    feats.unpersist()
