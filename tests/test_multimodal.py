"""Multimodal binary-column plumbing: schema, batch shape, determinism,
and the explicitly-marked decoder stub."""

import pytest
from pyspark.sql import functions as F

from sec_dl_spark.operators.multimodal import FEATURE_DIM, docs_as_media, extract_features


def test_binary_roundtrip_and_features(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "something else")],
        "doc_id long, text string",
    )
    media = docs_as_media(docs)
    assert dict(media.dtypes)["content"] == "binary"

    feats = extract_features(media).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len(b"hello world")
    assert len(by_id[1]["features"]) == FEATURE_DIM
    # deterministic: identical payloads → identical features
    assert by_id[1]["features"] == by_id[2]["features"]
    assert by_id[1]["features"] != by_id[3]["features"]


def test_real_decoder_stub_raises(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(Exception) as exc_info:
        extract_features(docs_as_media(docs), with_real_decoders=True).collect()
    assert "NotImplementedError" in str(exc_info.value) or "real decoders" in str(exc_info.value)


def test_audio_chunking_window_hop(spark):
    from sec_dl_spark.operators.multimodal import chunk_audio

    docs = spark.createDataFrame([(1, "a" * 2200)], "doc_id long, text string")
    out = sorted(
        chunk_audio(docs_as_media(docs), window_ms=1000, hop_ms=500).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # 2200 'ms' with hop 500 → starts at 0,500,...,2000 (5 windows)
    assert [r["start_ms"] for r in out] == [0, 500, 1000, 1500, 2000]
    assert len(out[0]["chunk"]) == 1000      # full window
    assert len(out[-1]["chunk"]) == 200      # trailing partial kept
    # 50% overlap: second half of window 0 == first half of window 1
    assert out[0]["chunk"][500:] == out[1]["chunk"][:500]


def test_decode_audio_rejects_compressed_kinds(spark):
    """No audio codec is in this environment: asking chunk_audio for a
    real decode of a compressed clip must fail loudly, not fake
    silently."""
    from sec_dl_spark.operators.multimodal import chunk_audio

    media = spark.createDataFrame(
        [(1, "mp3", bytearray(b"\xff\xfb\x90\x00"))],
        "media_id long, kind string, content binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|librosa"):
        chunk_audio(media, with_real_decoders=True).collect()


def test_frame_sampling_expansion(spark):
    """With a negative threshold every frame emits, so select_keyframes
    degenerates to uniform frame sampling: one row per ``frame_ms``
    window of the fake 1-byte-per-ms signal, trailing partial included,
    and a clip shorter than one window still yields frame 0."""
    from sec_dl_spark.operators.multimodal import select_keyframes

    docs = spark.createDataFrame([(1, "a" * 2500), (2, "b" * 10)], "doc_id long, text string")
    out = select_keyframes(docs_as_media(docs), frame_ms=1000, threshold=-1.0).collect()
    frames_1 = sorted((r["frame_idx"], r["frame_ms"]) for r in out if r["media_id"] == 1)
    assert frames_1 == [(0, 0), (1, 1000), (2, 2000)]
    assert [r["frame_idx"] for r in out if r["media_id"] == 2] == [0]


def test_select_keyframes_scene_changes(spark):
    """Scene boundaries emit, steady content doesn't: a payload of three
    1000-byte 'scenes' with distinct byte levels yields exactly the three
    scene-start frames; a constant payload yields only frame 0."""
    from sec_dl_spark.operators.multimodal import select_keyframes

    scenes = bytes([10] * 1000 + [100] * 1000 + [200] * 1000)
    flat = bytes([42] * 3000)
    media = spark.createDataFrame(
        [(1, "video", bytearray(scenes)), (2, "video", bytearray(flat))],
        "media_id long, kind string, content binary",
    )
    out = select_keyframes(media, frame_ms=1000, threshold=8.0).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append((r["frame_idx"], r["delta"]))
    assert [i for i, _ in sorted(by_media[1])] == [0, 1, 2]
    assert by_media[1][1][1] == 90.0 and by_media[1][2][1] == 100.0
    assert [i for i, _ in sorted(by_media[2])] == [0]

    import pytest

    with pytest.raises(Exception, match="NotImplementedError|real video"):
        select_keyframes(media, with_real_decoders=True).collect()


def _ppm_bytes(w, h, fn):
    rgb = bytearray()
    for y in range(h):
        for x in range(w):
            rgb += bytes(fn(x, y))
    return b"P6\n# test comment\n%d %d\n255\n" % (w, h) + bytes(rgb)


def _bmp_bytes(w, h, fn):
    """Minimal 24bpp bottom-up BMP."""
    import struct

    stride = (w * 3 + 3) & ~3
    pix = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up rows
        row = bytearray()
        for x in range(w):
            r, g, b = fn(x, y)
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (stride - len(row))
        pix += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    return header + info + bytes(pix)


def test_decode_image_ppm_and_bmp(spark):
    """Real stdlib raster decode (the perceptual_hash decode path): a
    generated P6 PPM and a 24bpp BMP of the SAME image decode to
    identical dimensions and row-major RGB bytes (BMP's BGR order and
    bottom-up rows must be unwound correctly)."""
    from sec_dl_spark.operators.multimodal import _parse_bmp, _parse_ppm

    fn = lambda x, y: (x * 30 % 256, y * 40 % 256, (x + y) * 20 % 256)
    want = bytes(c for y in range(4) for x in range(5) for c in fn(x, y))
    assert _parse_ppm(_ppm_bytes(5, 4, fn)) == (5, 4, want)
    assert _parse_bmp(_bmp_bytes(5, 4, fn)) == (5, 4, want)


def test_decode_image_rejects_compressed_kinds(spark):
    """Only PPM/BMP decode for real; a compressed image still needs the
    absent codec library and must fail loudly, not hash silently."""
    from sec_dl_spark.operators.multimodal import perceptual_hash

    media = spark.createDataFrame(
        [(1, "png", bytearray(b"\x89PNG\r\n"))],
        "media_id long, kind string, content binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|PIL"):
        perceptual_hash(media).collect()


def test_sample_frames_y4m_real_demux(spark):
    """Real Y4M demux (the select_keyframes decode path): a generated
    2x2 4:2:0 clip at 25 fps yields its frame rate and every frame's Y
    plane with the chroma skipped; compressed containers still raise."""
    from sec_dl_spark.operators.multimodal import _parse_y4m, select_keyframes

    w = h = 2
    payload = bytearray(b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420\n")
    frames = []
    for i in range(5):
        y = bytes([i * 10 + k for k in range(w * h)])
        frames.append(y)
        payload += b"FRAME\n" + y + b"\x00" * (w * h // 2)  # chroma stub
    assert _parse_y4m(bytes(payload)) == (2, 2, 25.0, frames)

    bad = spark.createDataFrame(
        [(1, "mp4", bytearray(b"\x00\x00\x00 ftypmp42"))],
        "media_id long, kind string, content binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|av/ffmpeg"):
        select_keyframes(bad, with_real_decoders=True).collect()


def test_select_keyframes_y4m_real_scene_change(spark):
    """Real Y4M keyframe selection: three flat-luma scenes (two frames
    each) emit exactly one keyframe per scene boundary."""
    from sec_dl_spark.operators.multimodal import select_keyframes

    w = h = 2
    payload = bytearray(b"YUV4MPEG2 W2 H2 F10:1 C420\n")
    for luma in (10, 10, 100, 100, 200, 200):
        payload += b"FRAME\n" + bytes([luma] * (w * h)) + b"\x00" * (w * h // 2)
    media = spark.createDataFrame(
        [(1, "y4m", bytearray(bytes(payload)))],
        "media_id long, kind string, content binary",
    )
    got = sorted(
        (r["frame_idx"], r["frame_ms"], r["delta"])
        for r in select_keyframes(media, threshold=8.0, with_real_decoders=True).collect()
    )
    assert got == [(0, 0, 0.0), (2, 200, 90.0), (4, 400, 100.0)]


def test_perceptual_hash_near_dup_detection(spark):
    """aHash over the real decode path: identical content in two formats
    (PPM vs BMP) hashes IDENTICALLY; a tiny brightness-preserving edit
    stays within a few Hamming bits; a structurally different image is
    far away. Hashes match an independent numpy reference."""
    import numpy as np

    from sec_dl_spark.operators.multimodal import perceptual_hash

    def gradient(x, y):
        return ((x * 7) % 256, (y * 5) % 256, ((x + y) * 3) % 256)

    def gradient_edited(x, y):
        r, g, b = gradient(x, y)
        if x == 3 and y == 3:  # one-pixel edit
            return (255 - r, g, b)
        return (r, g, b)

    def checkers(x, y):
        v = 255 if (x // 4 + y // 4) % 2 else 0
        return (v, v, v)

    w = h = 32
    rows = [
        (1, "ppm", _ppm_bytes(w, h, gradient)),
        (2, "bmp", _bmp_bytes(w, h, gradient)),
        (3, "ppm", _ppm_bytes(w, h, gradient_edited)),
        (4, "ppm", _ppm_bytes(w, h, checkers)),
    ]
    media = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    got = {r["media_id"]: r["ahash"] for r in perceptual_hash(media).collect()}

    def ref_hash(fn):
        px = np.array([[fn(x, y) for x in range(w)] for y in range(h)], dtype=float)
        gray = px.mean(axis=2)
        cells = gray.reshape(8, 4, 8, 4).mean(axis=(1, 3))  # 32/8 = 4 exact
        bits = (cells >= cells.mean()).flatten()
        v = sum(1 << i for i, b in enumerate(bits) if b)
        # signed two's complement, matching the operator: bit 63 (cell
        # (7,7) at grid=8) survives instead of being masked off
        return v - (1 << 64) if v & (1 << 63) else v

    assert got[1] == ref_hash(gradient)
    assert got[1] == got[2]  # format-independent
    ham13 = bin((got[1] ^ got[3]) & ((1 << 64) - 1)).count("1")
    ham14 = bin((got[1] ^ got[4]) & ((1 << 64) - 1)).count("1")
    assert ham13 <= 2  # near-dup stays close
    assert ham14 > 10  # different structure is far
