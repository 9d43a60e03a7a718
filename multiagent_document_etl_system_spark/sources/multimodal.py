"""Multimodal columns (north-star extension; SURVEY.md §2.10).

Image/audio/video payloads as opaque ``binary`` columns with typed metadata
structs, processed by Arrow-batched Pandas UDFs over ``mapInPandas``. The
decode step is STUBBED (deterministic fake) — the media libraries are not in
this container — but every Spark-side piece is real and tested:
schema, partitioning, UDF signature, batch shapes (tests/test_sources.py).

Layout convention at 100 TB: media bytes in parquet binary columns (or
pointer columns to object storage for >100 MB payloads), partitioned by
(media_type, ingest_date); metadata always scan-prunable without touching
bytes — Catalyst column pruning means a metadata-only query never reads the
binary column's pages.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("media_type", T.StringType()),   # image | audio | video
    T.StructField("content", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ])),
])

FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, "
    "feature array<float>, decode_error string"
)


def _fake_decode_features(b: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for decode → feature-extract on formats the
    container cannot decode (JPEG/audio/video — no PIL/librosa/ffmpeg);
    the Spark plumbing (batching, schema, error channel) is identical."""
    if not b:
        raise ValueError("empty payload")
    # simple rolling byte statistic per bucket — stable across runs
    acc = [0] * dim
    for i, byte in enumerate(b):
        acc[i % dim] = (acc[i % dim] * 31 + byte) % 997
    return [v / 997.0 for v in acc]


def _decode_wav_pcm16(b: bytes) -> list[int]:
    """RIFF/WAVE PCM16 mono/stereo -> mono sample list (stdlib wave)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(b)) as w:
        if w.getsampwidth() != 2:
            raise ValueError("unsupported WAV (need 16-bit PCM)")
        nch = w.getnchannels()
        raw = w.readframes(w.getnframes())
    vals = struct.unpack(f"<{len(raw) // 2}h", raw)
    if nch == 1:
        return list(vals)
    return [sum(vals[i:i + nch]) // nch for i in range(0, len(vals), nch)]


def _decode_features(b: bytes, dim: int = 8) -> list[float]:
    """REAL features where the container can really decode — the rung
    ladder mirrors S4 (real for machine-decodable formats, deterministic
    fake for the rest):

    - BMP / PNG / baseline JPEG / progressive JPEG (r7): pure-stdlib
      (+numpy IDCT) pixel decode (the OCR rung's decoders,
      sources/parsers.py; JPEG luma-only) → ``dim``-bin luminance
      HISTOGRAM of the actual pixels, mass-normalized.
    - WAV (RIFF PCM16): stdlib ``wave`` decode → ``dim``-segment ENERGY
    envelope (mean |sample| per segment, normalized to the overall mean)
      — the silence/speech profile an audio curation gate keys on.
    - everything else (arithmetic-coded JPEG, MP3, video containers):
      deterministic fake.
    """
    from multiagent_document_etl_system_spark.sources.parsers import (
        UnsupportedJpegTier,
        decode_luma,
    )

    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        samples = _decode_wav_pcm16(b)
        if not samples:
            raise ValueError("decoded WAV has no frames")
        seg = max(1, len(samples) // dim)
        env = []
        for i in range(dim):
            chunk = samples[i * seg:(i + 1) * seg] or [0]
            env.append(sum(abs(x) for x in chunk) / len(chunk))
        total = sum(env) or 1.0
        return [e / total for e in env]
    try:
        rows = decode_luma(b)
    except UnsupportedJpegTier:
        # legitimate-but-unimplemented tier (arithmetic/hierarchical/
        # 12-bit) → deterministic fake; routing is on the exception
        # TYPE, so decoder message rewording can't silently reclassify
        # files (ADVICE r7 #3). Corrupt streams raise plain ValueError
        # and surface as per-row errors.
        rows = None
    if rows is None:
        return _fake_decode_features(b, dim)
    hist = [0] * dim
    n = 0
    for row in rows:
        for lum in row:
            hist[min(dim - 1, lum * dim // 256)] += 1
            n += 1
    if n == 0:
        raise ValueError("decoded image has no pixels")
    return [h / n for h in hist]


def decode_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas decode/feature-extract with per-row error capture.

    Batch shape: iterator of pandas DataFrames (Arrow batches) in, same out —
    constant memory per batch regardless of corpus size.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, errs = [], []
            for b in pdf["content"]:
                try:
                    feats.append(_decode_features(
                        bytes(b) if b is not None else b"", dim))
                    errs.append(None)
                except Exception as exc:  # noqa: BLE001 — row-level errors
                    feats.append(None)
                    errs.append(str(exc))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["content"].map(
                    lambda b: len(b) if b is not None else 0),
                "feature": feats,
                "decode_error": errs,
            })

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = (
    "media_id long, width int, height int, pixels binary, "
    "resize_error string"
)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize over raw grayscale rasters: nearest-neighbor
    index mapping in pure NumPy (no PIL needed for uncompressed buffers —
    exactly what a GPU-ingest pipeline does to decoded frames). The
    payload is interpreted as a ``meta.height × meta.width`` uint8
    buffer; rows whose payload is not a full raster (e.g. a compressed
    format that would need a codec) get a per-row ``resize_error``
    instead of failing the task. Same mapInPandas shape as
    decode_features: Arrow batches in/out, constant memory per batch.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "pixels": [], "resize_error": []}
            for mid, b, w, h in zip(pdf["media_id"], pdf["content"],
                                    pdf["w"], pdf["h"]):
                try:
                    if b is None or w is None or h is None:
                        raise ValueError("missing payload or dims")
                    buf = np.frombuffer(bytes(b), dtype=np.uint8)
                    if len(buf) != int(w) * int(h):
                        raise ValueError(
                            f"payload {len(buf)}B is not a raw "
                            f"{int(w)}x{int(h)} raster")
                    img = buf.reshape(int(h), int(w))
                    yi = np.arange(height) * int(h) // height
                    xi = np.arange(width) * int(w) // width
                    res = img[yi][:, xi]
                    out["media_id"].append(mid)
                    out["width"].append(width)
                    out["height"].append(height)
                    out["pixels"].append(res.tobytes())
                    out["resize_error"].append(None)
                except Exception as exc:  # noqa: BLE001 — row-level errors
                    out["media_id"].append(mid)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["pixels"].append(None)
                    out["resize_error"].append(str(exc))
            yield pd.DataFrame(out)

    imgs = media.select(
        "media_id", "content",
        F.col("meta.width").alias("w"), F.col("meta.height").alias("h"))
    return imgs.mapInPandas(op, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = (
    "media_id long, frame_idx long, frame_ts_ms long, "
    "frame_bytes binary, decode_error string"
)


def sample_frames(media: DataFrame, every_ms: int = 1000,
                  max_frames: int = 16) -> DataFrame:
    """Video frame sampling: one output ROW per sampled frame — the
    1→N mapInPandas shape (decode_features is 1→1). The ffmpeg decode is a
    deterministic fake (this container has no media libs): the payload is
    sliced into fixed-stride chunks standing in for decoded frames, with
    honest timing math from meta.duration_ms. The Spark-side contract is
    the real one — explode-like fan-out inside Arrow batches, per-frame
    timestamps, per-row error channel, bounded frames per video so one
    long video cannot blow an executor's batch memory.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [],
                   "frame_bytes": [], "decode_error": []}
            for mid, b, dur in zip(pdf["media_id"], pdf["content"],
                                   pdf["duration_ms"]):
                try:
                    if b is None or len(b) == 0:
                        raise ValueError("empty payload")
                    dur = int(dur) if dur is not None and dur > 0 else every_ms
                    n = min(max(dur // every_ms, 1), max_frames)
                    data = bytes(b)
                    stride = max(len(data) // n, 1)
                    for i in range(n):
                        out["media_id"].append(mid)
                        out["frame_idx"].append(i)
                        out["frame_ts_ms"].append(i * every_ms)
                        out["frame_bytes"].append(
                            data[i * stride:(i + 1) * stride])
                        out["decode_error"].append(None)
                except Exception as exc:  # noqa: BLE001 — row-level errors
                    out["media_id"].append(mid)
                    out["frame_idx"].append(-1)
                    out["frame_ts_ms"].append(-1)
                    out["frame_bytes"].append(None)
                    out["decode_error"].append(str(exc))
            yield pd.DataFrame(out)

    vids = media.select("media_id", "content",
                        F.col("meta.duration_ms").alias("duration_ms"))
    return vids.mapInPandas(op, schema=FRAME_SCHEMA)


def _phash64(rows: list[list[int]]) -> int:
    """64-bit PERCEPTUAL hash of a luminance raster (pHash): nearest
    resample to 32×32 → 2D DCT-II (numpy matrix form — the same transform
    family as the repo's real JPEG codec) → keep the top-left 8×8
    low-frequency block, drop DC, threshold the 63 ACs at their median.
    Identical content at different scales/containers (BMP vs PNG vs
    mildly-lossy JPEG, anti-aliased vs bilevel) lands within a few bits;
    unrelated content lands ~32 bits away — the image analogue of
    SimHash, and the blocking key for image near-dup dedup."""
    import numpy as np

    a = np.asarray(rows, dtype=np.float64)
    h, w = a.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    small = a[np.ix_(ys, xs)]
    n = 32
    k = np.arange(n)
    cosm = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    freq = cosm @ small @ cosm.T
    vals = freq[:8, :8].flatten()[1:]  # 63 ACs, DC dropped
    med = float(np.median(vals))
    bits = 0
    for i, v in enumerate(vals):
        if v > med:
            bits |= 1 << i
    return bits  # 63 bits -> always a non-negative int64


def _decode_luma_rows(b: bytes, meta) -> list[list[int]]:
    """Luminance raster from a media payload: raw8 rasters (the demo
    fixture's codec), or the REAL stdlib BMP/PNG/JPEG decoders."""
    from multiagent_document_etl_system_spark.sources.parsers import decode_luma

    if meta is not None and (meta.get("codec") if hasattr(meta, "get")
                             else meta["codec"]) == "raw8":
        w = meta["width"] if not hasattr(meta, "get") else meta.get("width")
        h = meta["height"] if not hasattr(meta, "get") else meta.get("height")
        if w and h and len(b) >= w * h:
            return [list(b[y * w:(y + 1) * w]) for y in range(h)]
        raise ValueError("raw8 payload shorter than width*height")
    rows = decode_luma(b)
    if rows is None:
        raise ValueError("unsupported image container for phash")
    return rows


def phash_images(media: DataFrame) -> DataFrame:
    """mapInPandas perceptual-hash extraction over image rows:
    (media_id, phash, decode_error) — per-row error capture, constant
    memory per Arrow batch. phash is an int64, so everything downstream
    (banding, Hamming verify) is pure JVM bit arithmetic."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                try:
                    b = bytes(row["content"]) if row["content"] is not None \
                        else b""
                    ph = _phash64(_decode_luma_rows(b, row["meta"]))
                    out.append((row["media_id"], ph, None))
                except Exception as exc:  # noqa: BLE001 — row-level errors
                    out.append((row["media_id"], None, str(exc)))
            yield pd.DataFrame(out, columns=["media_id", "phash",
                                             "decode_error"])

    return media.filter(F.col("media_type") == "image").mapInPandas(
        op, "media_id long, phash long, decode_error string")


def phash_near_pairs(hashes: DataFrame, max_hamming: int = 10,
                     n_bands: int = 4) -> DataFrame:
    """Image near-dup candidate pairs: band the 64-bit pHash into
    ``n_bands`` equal-width keys, equi-join on (band, key), then verify
    the exact Hamming distance with JVM ``bit_count(a ^ b)``. No
    all-pairs work: candidates exist only inside band buckets.

    Recall/cost dial (pigeonhole): a pair differing in FEWER than
    ``n_bands`` bits is ALWAYS found (some band must be untouched);
    beyond that, recall is probabilistic — a pair is missed only when
    its differing bits touch every band. More bands ⇒ higher recall but
    shorter keys (64/n_bands bits) ⇒ bigger buckets: at 8 bands the
    8-bit keys bucket ~N/256 images together, the multi-index-hashing
    regime where the verify step carries the load. 4 bands (16-bit keys)
    is the corpus-scale default; 8 suits curated collections where
    recall at Hamming ≈ 10 matters more than bucket size."""
    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1
    h = hashes.filter(F.col("phash").isNotNull())
    bands = h.select(
        F.col("media_id").alias("_id"), "phash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned("phash", width * i)
                     .bitwiseAND(F.lit(mask)).alias("bkey"))
            for i in range(n_bands)])).alias("bk"),
    ).select("_id", "phash", "bk.band", "bk.bkey")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (a.join(b, ["band", "bkey"])
             .filter(F.col("a._id") < F.col("b._id"))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     F.expr("bit_count(a.phash ^ b.phash)")
                     .cast("int").alias("hamming"))
             .distinct()
             .filter(F.col("hamming") <= max_hamming))
    return pairs.orderBy("id_a", "id_b")


def make_demo_media(spark, n: int = 64) -> DataFrame:
    """Deterministic in-code media fixture (binary payloads + typed meta).
    Image rows carry a FULL raw grayscale raster (meta.width×meta.height
    bytes) so resize_images operates on real pixel buffers; audio/video
    rows keep arbitrary-length payloads (their meta dims describe the
    source, not a raster)."""
    rows = []
    for i in range(n):
        mt = ("image", "audio", "video")[i % 3]
        if mt == "image":
            w, h = 16 + i % 8, 12 + i % 4
            payload = bytes((i * 7 + x * 3 + y * 5) % 256
                            for y in range(h) for x in range(w))
            meta = (w, h, None, "raw8")
        else:
            payload = bytes((i * 7 + j) % 256 for j in range(128 + i))
            meta = (64 + i, 48 + i, 1000 * i, "fake")
        rows.append((i, mt, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
