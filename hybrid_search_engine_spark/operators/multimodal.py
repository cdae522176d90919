"""Multimodal column plumbing: binary payloads + typed metadata.

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct. The Spark-side plumbing — schema, partition sizing, Arrow batch
shape, UDF signatures — is real and tested. ``decode_image`` is
dependency-guarded: with PIL installed it really decodes (grayscale-resize
feature), without it the ``deterministic_fake=True`` path produces a seeded
feature vector derived from the payload sha256 (replayable in SQL — the
contract oracle checks it) and the non-fake path raises NotImplementedError
so failures are honest ``decode_ok=False`` rows.

At 100 TB: binary payloads dominate row size, so
``spark.sql.files.maxPartitionBytes`` (not row counts) governs scan
parallelism, and feature extraction runs in ``mapInPandas`` with small Arrow
batches (``maxRecordsPerBatch`` ↓) to bound worker memory; the metadata
struct column lets filters prune before any byte of payload is decoded
(column pruning: scanning metadata never reads the binary column).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),        # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]), True),
])

FEATURE_DIM = 64

_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
    T.StructField("decode_ok", T.BooleanType(), False),
])


def _fake_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in for a real decoder: feature i is the i-th hex
    nibble of sha256(payload), mapped to nib/16 − 0.5 — a dyadic rational,
    exactly representable in float32 AND float64, so any engine (e.g. a
    DuckDB oracle doing strpos-nibble arithmetic on sha256 hex) replays the
    values bit-for-bit. Stable across runs/executors."""
    h = hashlib.sha256(payload).hexdigest()  # 64 nibbles == FEATURE_DIM
    reps = -(-dim // len(h))
    return np.array([int(c, 16) / 16.0 - 0.5 for c in (h * reps)[:dim]],
                    dtype=np.float32)


def _pil_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Real decoder (used only when PIL is importable): decode → grayscale
    → resize to √dim×√dim → [−0.5, 0.5] floats. Deterministic for a given
    payload; per-executor import cost is paid once per python worker."""
    from io import BytesIO

    from PIL import Image

    side = max(int(dim ** 0.5), 1)
    img = Image.open(BytesIO(payload)).convert("L").resize(
        (side, side), resample=Image.BILINEAR)
    arr = np.asarray(img, dtype=np.float32) / 255.0 - 0.5
    flat = arr.reshape(-1)
    if flat.size < dim:
        flat = np.pad(flat, (0, dim - flat.size))
    return flat[:dim]


def _bmp_feature(payload: bytes, dim: int = FEATURE_DIM) -> np.ndarray:
    """Hermetic real decoder for uncompressed 24-bit BMP (BITMAPINFOHEADER,
    BI_RGB) — ~30 lines of struct+numpy, zero dependencies, so the
    REAL-decode branch runs in CI even without PIL. Grayscale = BT.601 luma;
    resize = nearest-neighbor index sampling (documented fallback
    resampling — this is a fallback decoder, not a PIL byte-clone)."""
    import struct

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    w, h = struct.unpack_from("<ii", payload, 18)
    _planes, bpp = struct.unpack_from("<HH", payload, 26)
    (comp,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    bottom_up, h = h > 0, abs(h)
    stride = (w * 3 + 3) // 4 * 4
    px = np.frombuffer(payload, np.uint8, stride * h, pix_off)
    px = px.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        px = px[::-1]
    b, g, r = (px[..., i].astype(np.float64) for i in range(3))  # BGR order
    gray = 0.299 * r + 0.587 * g + 0.114 * b
    side = max(int(dim ** 0.5), 1)
    ri = (np.arange(side) * h) // side
    ci = (np.arange(side) * w) // side
    flat = (gray[np.ix_(ri, ci)].astype(np.float32) / 255.0 - 0.5).reshape(-1)
    if flat.size < dim:
        flat = np.pad(flat, (0, dim - flat.size))
    return flat[:dim]


def decode_image(payload: bytes, deterministic_fake: bool = False) -> np.ndarray:
    """Image → feature vector. Dependency-guarded: uses PIL when installed
    (decode → grayscale-resize → normalized floats); without PIL,
    uncompressed BMPs still REALLY decode via the hermetic ``_bmp_feature``
    parser; otherwise either the deterministic fake (oracle path —
    sha256-nibble features replayable in SQL) or NotImplementedError so
    callers see an honest decode_ok=False rather than silent garbage."""
    if payload is None:
        raise ValueError("NULL payload")
    if deterministic_fake:
        return _fake_feature(payload)
    try:
        return _pil_feature(payload)
    except ImportError:
        pass
    if payload[:2] == b"BM":
        return _bmp_feature(payload)
    raise NotImplementedError(
        "decoding non-BMP images requires PIL/libjpeg — not installed; "
        "pass deterministic_fake=True to exercise the pipeline shape")


def extract_features(media: DataFrame, batch_rows: int = 64,
                     deterministic_fake: bool = True) -> DataFrame:
    """media(MEDIA_SCHEMA) → (media_id, feature array<float>, decode_ok).

    mapInPandas with an explicit small batch bound: payloads are big, so the
    per-batch row count — not Spark's default 10k — governs worker memory."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for s in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[s:s + batch_rows]
                feats, oks = [], []
                for payload in chunk["payload"]:
                    if payload is None:
                        feats.append(None)
                        oks.append(False)
                        continue
                    try:
                        feats.append(decode_image(bytes(payload),
                                                  deterministic_fake).tolist())
                        oks.append(True)
                    except Exception:
                        # missing codec (NotImplementedError) or corrupt
                        # payload: an honest decode_ok=False row — a bad
                        # image must never kill a 10^12-row decode job
                        feats.append(None)
                        oks.append(False)
                yield pd.DataFrame({"media_id": chunk["media_id"].values,
                                    "feature": feats, "decode_ok": oks})

    return media.select("media_id", "payload").mapInPandas(
        fn, schema=_FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts_ms) from
    the metadata duration — pure relational fan-out (sequence+explode), no
    payload touched. The decode of each planned frame is the stubbed UDF."""
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("meta.duration_ms"),
                                                F.lit(0)),
                           F.lit(every_ms))).alias("frame_ts_ms"),
        )
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Metadata-only aggregate — must never read the payload column
    (column pruning; verify via .explain ReadSchema)."""
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.coalesce(F.col("meta.width"), F.lit(0))).alias("avg_width"),
        F.sum(F.coalesce(F.col("meta.duration_ms"), F.lit(0))).alias("total_ms"),
    )
