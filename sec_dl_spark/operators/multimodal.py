"""Multimodal (image/audio/video) column plumbing (SURVEY.md §2.11).

Blobs are opaque BinaryType columns with typed metadata structs
(schemas.MEDIA); Spark's binaryFile source supplies the raw bytes. Decode /
feature-extract / keyframe / chunk / hash steps run as Arrow-batched pandas
iterators over mapInPandas — the Spark-side plumbing (schema, partitioning,
UDF signature, batch shape) is real and tested; the actual codec work is
stubbed behind import gates because image/audio libraries are not in this
container: with_real_decoders=False uses a deterministic fake (stable
feature vectors from the bytes), True raises NotImplementedError at the
decode step only. Exceptions: binary PPM/BMP stills and YUV4MPEG2 video
need no external codec, so ``perceptual_hash`` and ``select_keyframes``
parse them for real with the stdlib.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _fake_features(content: bytes) -> list[float]:
    """Deterministic stand-in for a real encoder: FEATURE_DIM floats derived
    from byte statistics — stable across executors, no external libs."""
    if content is None:
        return None
    n = len(content)
    out = []
    for i in range(FEATURE_DIM):
        chunk = content[i::FEATURE_DIM] or b"\x00"
        out.append(round((sum(chunk) % 1000) / (len(chunk) + n % 7 + 1), 4))
    return out


def extract_features(
    media: DataFrame, with_real_decoders: bool = False, batch_hint: int = 64
) -> DataFrame:
    """(media_id, kind, content, …) → (media_id, kind, n_bytes, features).

    mapInPandas so each Arrow batch amortizes decoder setup; the real path
    would open PIL/librosa/av here — that import is the ONLY stubbed piece.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if with_real_decoders:
            # The container has no image/audio codecs; this is the marked
            # stub — the surrounding plumbing is production-shaped.
            raise NotImplementedError(
                "real decoders (PIL/librosa/av) are not available in this "
                "environment; use with_real_decoders=False"
            )
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0),
                    "features": pdf["content"].map(_fake_features),
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def docs_as_media(docs: DataFrame) -> DataFrame:
    """Adapter making the documents fixture exercise the binary path:
    text → utf-8 bytes as the opaque payload (the plumbing is
    payload-agnostic, which is the point of BinaryType columns)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


def _parse_ppm(b: bytes):
    """Parse binary PPM (P6): returns (width, height, RGB bytes row-major).
    Pure stdlib — whitespace/comment-tolerant header, 8-bit maxval."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(b) and b[i : i + 1].isspace():
            i += 1
        if b[i : i + 1] == b"#":
            while i < len(b) and b[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(b) and not b[j : j + 1].isspace():
            j += 1
        fields.append(int(b[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    need = w * h * 3
    pix = b[i : i + need]
    if len(pix) != need:
        raise ValueError("truncated PPM pixel data")
    return w, h, pix


def _parse_bmp(b: bytes):
    """Parse uncompressed 24-bpp BMP: returns (width, height, RGB bytes
    row-major top-down). Handles BGR order, 4-byte row padding, and the
    bottom-up row layout — pure stdlib struct work."""
    import struct

    if b[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", b, 10)[0]
    w, h_raw = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3
    rows = []
    order = range(h - 1, -1, -1) if h_raw > 0 else range(h)  # bottom-up default
    for r in order:
        row = b[data_off + r * stride : data_off + r * stride + w * 3]
        # BGR → RGB
        rows.append(
            bytes(
                c
                for px in (row[i : i + 3] for i in range(0, w * 3, 3))
                for c in (px[2], px[1], px[0])
            )
        )
    return w, h, b"".join(rows)


def _parse_y4m(b: bytes):
    """Parse YUV4MPEG2 (.y4m): returns (width, height, fps as float,
    [Y-plane bytes per frame]). Pure stdlib — the container is a text
    header + 'FRAME' markers + raw 4:2:0 planes, the one video format
    that needs no codec. Chroma planes are skipped (the luma plane is
    what frame-sampling/scene-detection consume)."""
    nl = b.index(0x0A)
    header = b[:nl].decode("ascii")
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    num, den = 25, 1
    for tok in header.split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            num, den = (int(x) for x in tok[1:].split(":"))
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    y_len = w * h
    frame_len = y_len + y_len // 2  # 4:2:0
    frames = []
    i = nl + 1
    while i < len(b):
        fnl = b.index(0x0A, i)
        if not b[i:fnl].startswith(b"FRAME"):
            raise ValueError("malformed y4m FRAME marker")
        start = fnl + 1
        frames.append(b[start : start + y_len])
        i = start + frame_len
    return w, h, num / den, frames


CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("chunk", T.BinaryType()),
    ]
)


def chunk_audio(
    media: DataFrame, window_ms: int = 1000, hop_ms: int = 500, with_real_decoders: bool = False
) -> DataFrame:
    """Audio → overlapping windows (the audio twin of doc_chunks: window/hop
    framing every speech pipeline uses). Fake PCM: 1 byte per ms; the
    libsndfile/librosa decode is the marked stub. Windows start every
    ``hop_ms`` while at least one byte remains, so trailing partials are
    kept (standard framing semantics)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if with_real_decoders:
            raise NotImplementedError(
                "real audio decoders (librosa/soundfile) are not available "
                "in this environment; use with_real_decoders=False"
            )
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "chunk_idx": [], "start_ms": [], "chunk": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                duration = len(content)
                for idx, start in enumerate(range(0, duration, hop_ms)):
                    out["media_id"].append(mid)
                    out["chunk_idx"].append(idx)
                    out["start_ms"].append(start)
                    out["chunk"].append(bytes(content[start : start + window_ms]))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=CHUNKS_SCHEMA)


KEYFRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_ms", T.LongType()),
        T.StructField("delta", T.DoubleType()),
    ]
)


def select_keyframes(
    media: DataFrame,
    frame_ms: int = 1000,
    threshold: float = 8.0,
    with_real_decoders: bool = False,
) -> DataFrame:
    """Scene-change keyframe selection: emit the frames where the content
    changes, not every Nth frame of a uniform grid — the step
    a video training pipeline runs before captioning/encoding so compute
    goes to distinct scenes.

    Frame signal = mean luma. ``with_real_decoders=True`` REALLY demuxes
    YUV4MPEG2 (stdlib parse, ``_parse_y4m``) and uses each frame's
    actual Y-plane mean; compressed containers raise. The fake path uses
    the mean byte value of a ``frame_ms``-sized window so the plumbing
    stays testable with arbitrary bytes. Frame 0 always emits; frame i
    emits when |signal_i − signal_{i−1}| > threshold. Per-row sequential
    scan inside mapInPandas (frame deltas are inherently ordered within
    one media row; rows parallelize freely)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "frame_idx": [],
                "frame_ms": [],
                "delta": [],
            }
            for mid, kind, content in zip(pdf["media_id"], pdf["kind"], pdf["content"]):
                if content is None or len(content) == 0:
                    continue
                if with_real_decoders:
                    if kind != "y4m":
                        raise NotImplementedError(
                            f"real keyframe selection handles YUV4MPEG2 via "
                            f"stdlib; kind {kind!r} needs real video "
                            "demuxers (av/ffmpeg), not in this environment"
                        )
                    _, _, fps, frames = _parse_y4m(bytes(content))
                    signals = [
                        (int(i * 1000 / fps), sum(y) / len(y))
                        for i, y in enumerate(frames)
                    ]
                else:
                    signals = [
                        (ms, sum(content[ms : ms + frame_ms]) / len(content[ms : ms + frame_ms]))
                        for ms in range(0, len(content), frame_ms)
                    ]
                prev = None
                for idx, (ms, sig) in enumerate(signals):
                    delta = abs(sig - prev) if prev is not None else float("inf")
                    if prev is None or delta > threshold:
                        out["media_id"].append(mid)
                        out["frame_idx"].append(idx)
                        out["frame_ms"].append(ms)
                        out["delta"].append(0.0 if prev is None else round(delta, 4))
                    prev = sig
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=KEYFRAMES_SCHEMA)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def perceptual_hash(media: DataFrame, grid: int = 8) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint over the REAL raster
    decode path: parse the P6 PPM / 24-bpp BMP pixels, gray-average each
    cell of a ``grid``×``grid`` block partition, threshold every cell by
    the grid mean, and pack the bits into one 64-bit integer — so
    near-identical images (re-encodes, tiny edits, brightness-preserving
    noise) land within a few Hamming bits and exact-byte dedup's misses
    become catchable with the same hamming_pairs machinery the SimHash
    path uses. Pure stdlib + numpy per Arrow batch; deterministic, so the
    parity test pins hashes against an independent reference
    implementation. Compressed formats raise NotImplementedError like
    every other decode stage (needs PIL, not in this environment).
    """
    if grid * grid > 64:
        raise ValueError(f"grid {grid} packs {grid * grid} bits > 64")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def ahash(w: int, h: int, rgb: bytes) -> int:
            px = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
            gray = px.mean(axis=2)
            # block-mean downsample to grid x grid via bucketed indices
            # (handles w/h not divisible by grid)
            yi = (np.arange(h) * grid) // h
            xi = (np.arange(w) * grid) // w
            cells = np.zeros((grid, grid))
            counts = np.zeros((grid, grid))
            np.add.at(cells, (yi[:, None], xi[None, :]), gray)
            np.add.at(counts, (yi[:, None], xi[None, :]), 1.0)
            cells = cells / counts
            bits = (cells >= cells.mean()).flatten()
            v = 0
            for i, b in enumerate(bits):
                if b:
                    v |= 1 << i
            # store as signed two's complement so all grid*grid bits
            # survive in the long (masking bit 63 would alias grid=8
            # images that differ only in cell (7,7))
            return v - (1 << 64) if v & (1 << 63) else v

        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "kind": [], "ahash": []}
            for mid, kind, content in zip(pdf["media_id"], pdf["kind"], pdf["content"]):
                if content is None:
                    continue
                if kind == "ppm":
                    w, h, rgb = _parse_ppm(bytes(content))
                elif kind == "bmp":
                    w, h, rgb = _parse_bmp(bytes(content))
                else:
                    raise NotImplementedError(
                        f"perceptual_hash handles PPM/BMP via stdlib; kind "
                        f"{kind!r} needs real image codecs (PIL), not in "
                        "this environment"
                    )
                out["media_id"].append(mid)
                out["kind"].append(kind)
                out["ahash"].append(ahash(w, h, rgb))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=PHASH_SCHEMA)
