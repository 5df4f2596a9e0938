"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / frame-sample as Arrow-batched
mapInPandas kernels.

The decode libraries (PIL/ffmpeg/librosa) are not in this container, so
the *decode step* is stubbed: `_fake_feature` produces a seeded,
content-hash-derived feature vector so the Spark-side plumbing
(schema, batch shape, partitioning, UDF signature) is fully real and
tested; a real decoder would replace that one call.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = ("doc_id bigint, media_type string, payload binary, "
                "width int, height int, duration_ms int")

FEATURE_SCHEMA = ("doc_id bigint, media_type string, n_bytes bigint, "
                  "feature array<float>, feature_fp string, "
                  "decode_ok boolean")

MEDIA_TYPES = ["image", "audio", "video"]


def synth_media_table(spark, docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Derive a deterministic media table from a docs table: payload =
    utf-8 bytes of the text (stand-in blob), typed metadata columns.

    All metadata is modular arithmetic on the id (no opaque hash), so an
    independent oracle can reproduce it exactly.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.pmod(F.col(id_col), F.lit(3)) + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        (F.pmod(F.col(id_col) * 7919 + 13, F.lit(1920)) + 1).cast("int").alias("width"),
        (F.pmod(F.col(id_col) * 104729 + 17, F.lit(1080)) + 1).cast("int").alias("height"),
        (F.pmod(F.col(id_col) * 1299709 + 19, F.lit(600000)) + 1).cast("int").alias("duration_ms"),
    )


def feature_fingerprint(vec: list[float]) -> str:
    """Hashable projection of a feature vector (driver correctness
    checks can't canonicalize array columns): md5 of the components
    quantized to integer millionths."""
    return hashlib.md5(
        ",".join(str(round(x * 1e6)) for x in vec).encode()).hexdigest()


def _fake_feature(payload: bytes, dim: int) -> np.ndarray:
    """Content-addressed deterministic pseudo-embedding (unit float32).

    The norm is a float64 left fold in index order: a numpy/BLAS
    reduction reassociates by the CPU's SIMD width, which made the
    vector (and its fingerprint) depend on the host."""
    seed = int.from_bytes(hashlib.sha256(payload or b"").digest()[:8], "big")
    v = np.random.default_rng(seed).standard_normal(dim)
    sq = 0.0
    for x in v.tolist():
        sq += x * x
    return (v / math.sqrt(sq)).astype(np.float32)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Decode + feature-extract kernel over Arrow batches.

    Real decoders would replace `_fake_feature` per media_type
    (PIL resize+CNN for image, mel-spectrogram for audio, frame-sample
    for video); everything else — batching, schema, null handling —
    is production-shaped.
    """
    from .layout import rebalance_narrow

    # the decode kernel is the expensive stage — run it at full width
    # even when the media table is a narrow scan (identity at scale)
    media = rebalance_narrow(media)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, fps, oks = [], [], []
            for payload in pdf["payload"]:
                try:
                    vec = _fake_feature(bytes(payload or b""), dim).tolist()
                    feats.append(vec)
                    fps.append(feature_fingerprint(vec))
                    oks.append(True)
                except Exception:
                    feats.append(None)
                    fps.append(None)
                    oks.append(False)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["payload"].map(lambda b: len(b or b"")),
                "feature": feats,
                "feature_fp": fps,
                "decode_ok": oks,
            })

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        kernel, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan* (pure relational): one row per frame
    timestamp to decode — the fan-out stage that precedes the decode
    kernel at scale."""
    video = media.filter(F.col("media_type") == "video")
    return video.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
