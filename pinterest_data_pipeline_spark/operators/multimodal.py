"""Multimodal column handling: opaque binary payloads + typed metadata.

Design for 100 TB of mixed media (project charter / BASELINE.json): media
lives in ``binary`` columns with a typed metadata struct alongside; all
metadata-level operations (sizing, hashing, filtering, partitioning) are
JVM-side expressions; the decode / feature-extraction boundary crosses
into Python exactly once, through Arrow-batched ``mapInPandas``, so the
per-row Python cost is amortized across whole record batches.

The actual image/audio decode is STUBBED: the container has no codec
libraries, so ``decode_image_features`` computes a deterministic fake
feature vector from the payload's md5 when Pillow is unavailable, and the
real path raises ``NotImplementedError`` with a clear marker. The Spark
plumbing — schema, batch iteration, partitioning behavior — is real and
tested; swapping in a real decoder changes only the inner function.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Output schema of the feature extraction stage.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("size_bytes", T.IntegerType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

N_FEATURES = 8


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Build a multimodal asset table from a text corpus: the UTF-8 bytes
    stand in for an opaque media payload (same column type and access
    pattern a real image/audio payload would have)."""
    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.col("text").cast("binary").alias("content"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.struct(
            (F.pmod(F.col("doc_id") * 37, F.lit(1920)) + 1).cast("int").alias("width"),
            (F.pmod(F.col("doc_id") * 53, F.lit(1080)) + 1).cast("int").alias("height"),
            (F.pmod(F.col("doc_id") * 7, F.lit(600))).cast("double").alias("duration_s"),
        ).alias("meta"),
    )


def binary_metadata(assets: DataFrame) -> DataFrame:
    """Metadata-plane operations on binary payloads — no Python, no decode:
    size, content hash, metadata projection. This is the shape of 'filter
    100 TB of media down to the slice worth decoding'."""
    return assets.select(
        "asset_id",
        "media_type",
        F.length("content").alias("size_bytes"),
        F.md5("content").alias("content_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_s").alias("duration_s"),
    )


def _fake_features_from_md5(digest_hex: str) -> list[float]:
    """Deterministic stand-in features: 4-hex-digit windows scaled to
    [0, 1]. Stable across runs/partitions by construction."""
    return [
        int(digest_hex[i * 4 : (i + 1) * 4], 16) / 65535.0 for i in range(N_FEATURES)
    ]


def decode_image_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode / feature-extract over ``mapInPandas``.

    Features are derived from the payload md5, a stand-in for a codec
    decode (Pillow etc.): deterministic, and it exercises the identical
    batch shape, schema, and partitioning.

    NULL payloads are dropped BEFORE the Python crossing, same contract
    as decode_raw_bitmap_features: nothing to decode, and bytes(None)
    would kill the whole Arrow batch."""
    assets = assets.filter(F.col("content").isNotNull())

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [
                hashlib.md5(bytes(content)).hexdigest()
                for content in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "size_bytes": [len(bytes(c)) for c in pdf["content"]],
                    "content_md5": digests,
                    "features": [_fake_features_from_md5(d) for d in digests],
                }
            )

    return assets.mapInPandas(extract, FEATURE_SCHEMA)


_N_FRAMES = 4


def frame_sample_offsets(assets: DataFrame) -> DataFrame:
    """Frame-sampling plan for video payloads: evenly-spaced offsets from
    the metadata duration — pure expression work (the decode of sampled
    frames would then go through :func:`decode_image_features`)."""
    videos = assets.filter(F.col("media_type") == "video")
    return videos.select(
        "asset_id",
        F.col("meta.duration_s").alias("duration_s"),
        F.transform(
            F.sequence(F.lit(0), F.lit(_N_FRAMES - 1)),
            lambda i: F.round(
                i.cast("double") * F.col("meta.duration_s") / F.lit(float(_N_FRAMES)), 3
            ),
        ).alias("frame_offsets_s"),
    )


#: Output schema of the RAW-bitmap decode stage.
RAW_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
        T.StructField("std_px", T.DoubleType()),
        T.StructField("thumb_4x4", T.ArrayType(T.DoubleType())),
        # exact integer statistics: byte sums are exact in ANY summation
        # order (bounded integers in float64/int64), which float means
        # are not — the oracle-checked query emits these, production
        # consumers derive mean/std from them or use the float fields
        T.StructField("sum_px", T.LongType()),
        T.StructField("sum_sq_px", T.LongType()),
        T.StructField("thumb_sums", T.ArrayType(T.LongType())),
    ]
)

RAW_TILE = 16  # raw payloads are interpreted as TILE×TILE grayscale


def decode_raw_bitmap_features(assets: DataFrame) -> DataFrame:
    """REAL decode path, no codec required: RAW (uncompressed) grayscale
    bitmaps. The payload's first ``RAW_TILE²`` bytes ARE the pixels
    (zero-padded when shorter) — the layout of uncompressed camera/
    sensor dumps, which need byte-geometry interpretation, not a codec.
    Per asset: pixel mean/std and a 4×4 block-mean thumbnail, computed
    with vectorized numpy over Arrow batches in ``mapInPandas``.

    This complements the codec stub above: `decode_image_features`
    documents where Pillow/ffmpeg would slot in; THIS path is end-to-end
    real — bytes → ndarray → reduction — so the batch shape, schema, and
    numeric results are all testable in this container.

    Scale: one Python crossing, whole batches at a time; upstream
    metadata-plane filters (binary_metadata) cut the decoded slice
    first. Per-row work is O(RAW_TILE²) regardless of original media size.

    NULL payloads are dropped BEFORE the Python crossing: a missing
    asset has nothing to decode, and fabricating all-zero features for
    it would be indistinguishable from a genuinely black tile. (The
    filter also keeps the UDF total: bytes(None) would throw and kill
    the whole Arrow batch.)"""
    import numpy as np

    assets = assets.filter(F.col("content").isNotNull())

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        npx = RAW_TILE * RAW_TILE
        for pdf in batches:
            mats = []
            for content in pdf["content"]:
                buf = bytes(content)[:npx]
                buf = buf + b"\x00" * (npx - len(buf))
                mats.append(np.frombuffer(buf, dtype=np.uint8))
            raw = np.stack(mats)  # (n, tile²) uint8
            px = raw.astype(np.float64) / 255.0
            imgs = px.reshape(-1, RAW_TILE, RAW_TILE)
            block = RAW_TILE // 4
            thumbs = imgs.reshape(-1, 4, block, 4, block).mean(axis=(2, 4))
            ints = raw.astype(np.int64)
            tsums = (
                ints.reshape(-1, 4, block, 4, block)
                .sum(axis=(2, 4))
                .reshape(-1, 16)
            )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": RAW_TILE,
                    "height": RAW_TILE,
                    "mean_px": px.mean(axis=1),
                    "std_px": px.std(axis=1),
                    "thumb_4x4": list(thumbs.reshape(-1, 16)),
                    "sum_px": ints.sum(axis=1),
                    "sum_sq_px": (ints * ints).sum(axis=1),
                    "thumb_sums": list(tsums),
                }
            )

    return assets.mapInPandas(extract, RAW_FEATURE_SCHEMA)
