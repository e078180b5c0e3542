"""Multimodal columns: image/audio/video as opaque binary + metadata.

The Spark-side plumbing is real and tested — schemas, Arrow-batched
``mapInPandas`` pipelines, partition discipline (never collect blobs,
cap Arrow batch bytes). The actual codec work (JPEG decode, resampling,
frame extraction) is stubbed behind ``_decode_*`` seams because the
media libraries are not in this container: each stub either raises
``NotImplementedError`` (strict mode) or produces a deterministic fake
derived from the bytes (test mode), so the distributed pipeline is
exercised end-to-end without the codecs.

Blob tables at 100 TB: keep blobs in their own table keyed by
(asset_id), partitioned by modality/date; features join back on
asset_id so wide scans never drag blob bytes through shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("data", T.BinaryType(), False),
    ]
)

IMAGE_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_entropy", T.DoubleType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _decode_image(data: bytes, fake: bool) -> np.ndarray:
    """Decode → HxWx3 uint8. STUB: no image codec in this container."""
    if not fake:
        raise NotImplementedError(
            "image decode requires a codec library (PIL/cv2) not present "
            "in this container; run with fake_decode=True for plumbing tests"
        )
    # deterministic fake: pseudo-pixels from the byte content
    rng = np.random.default_rng(np.frombuffer(data[:32].ljust(32, b"\0"), dtype=np.uint64))
    return rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


def image_features(assets: DataFrame, feature_dim: int = 8, fake_decode: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary image columns.

    mapInPandas streams record batches through the Python worker; the
    per-batch loop is vectorized numpy, blobs never hit the driver.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [bytes(d) for d in pdf["data"]]
            n = len(blobs)
            sizes = np.fromiter((len(b) for b in blobs), dtype="int64", count=n)
            # byte stats are vectorized across the whole batch: one
            # bincount over (row_idx*256 + byte) gives every row's byte
            # histogram at once (zero-count terms add exact 0.0, so the
            # entropy matches the per-row formulation bit-for-bit)
            if n and sizes.sum():
                flat = np.frombuffer(b"".join(blobs), dtype=np.uint8)
                row = np.repeat(np.arange(n, dtype=np.int64), sizes)
                counts = np.bincount(
                    row * 256 + flat, minlength=n * 256
                ).reshape(n, 256)
                p = counts / np.maximum(sizes, 1)[:, None]
                logp = np.zeros_like(p)
                np.log2(p, out=logp, where=p > 0)
                ents = np.where(sizes == 0, 0.0, -(p * logp).sum(axis=1))
            else:
                ents = np.zeros(n, dtype="float64")
            # decode is inherently per-row: the codec seam
            feats = []
            for b in blobs:
                img = _decode_image(b, fake_decode)
                # stub "embedding": channel means + downsampled grid
                f = np.concatenate([img.mean(axis=(0, 1)) / 255.0,
                                    img.mean(axis=2).ravel()[: feature_dim - 3] / 255.0])
                feats.append(f[:feature_dim].astype("float32"))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "n_bytes": pd.array(sizes, dtype="int64"),
                    "byte_entropy": pd.array(ents, dtype="float64"),
                    "feature": feats,
                }
            )

    return assets.select("asset_id", "data").mapInPandas(extract, IMAGE_FEATURE_SCHEMA)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame to
    extract — (asset_id, frame_idx, ts_ms). Pure JVM (sequence +
    explode); the decode of each planned frame goes through the same
    stubbed seam. Splitting plan from decode keeps the explode cheap
    and lets the decode stage repartition by asset for codec locality."""
    n = (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int")
    return (
        assets.filter(F.col("modality") == "video")
        .select(
            "asset_id",
            F.posexplode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))).alias(
                "frame_idx", "_i"
            ),
        )
        .select("asset_id", "frame_idx", (F.col("frame_idx") * every_ms).alias("ts_ms"))
    )


def synth_assets_pdf(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic fake asset table for plumbing tests."""
    rng = np.random.default_rng([seed, 0xA55E7])
    rows = []
    for i in range(n):
        modality = ["image", "audio", "video"][i % 3]
        data = rng.integers(0, 256, size=int(rng.integers(64, 2048)), dtype=np.uint8).tobytes()
        rows.append(
            (
                i,
                modality,
                {"image": "image/jpeg", "audio": "audio/wav", "video": "video/mp4"}[modality],
                int(rng.integers(16, 4096)) if modality == "image" else None,
                int(rng.integers(16, 4096)) if modality == "image" else None,
                int(rng.integers(1000, 60000)) if modality != "image" else None,
                data,
            )
        )
    return pd.DataFrame(
        rows, columns=["asset_id", "modality", "mime", "width", "height", "duration_ms", "data"]
    )


def audio_window_plan(
    assets: DataFrame, window_ms: int = 1000, hop_ms: int = 500
) -> DataFrame:
    """Audio windowing *plan* (the audio twin of frame_sample_plan):
    one row per overlapping analysis window — (asset_id, window_idx,
    start_ms, end_ms). Pure JVM sequence + explode, zero Python; the
    decode/resample of each planned window goes through the same
    Arrow ``_decode_*`` seam as images (codecs stubbed offline)."""
    aud = assets.filter(F.col("modality") == "audio").select(
        "asset_id", "duration_ms"
    )
    return (
        aud.filter(F.col("duration_ms").isNotNull())
        .select(
            "asset_id",
            "duration_ms",
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(hop_ms),
                )
            ).alias("window_idx", "start_ms"),
        )
        .select(
            "asset_id",
            F.col("window_idx").cast("long").alias("window_idx"),
            F.col("start_ms").cast("long").alias("start_ms"),
            F.least(F.col("start_ms") + window_ms, F.col("duration_ms"))
            .cast("long")
            .alias("end_ms"),
        )
    )


MODALITY_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_assets", T.LongType(), False),
        T.StructField("total_bytes", T.LongType(), False),
        T.StructField("mean_bytes", T.DoubleType(), False),
    ]
)


def modality_summary_arrow(assets: DataFrame) -> DataFrame:
    """Per-modality size summary via grouped ``applyInArrow`` — the
    zero-copy grouped-map Arrow surface (SURVEY §2.B UDF table lists
    applyInPandas/mapInArrow; this exercises the remaining variant).
    Binary columns stay as Arrow buffers end-to-end: no pandas object
    boxing of the blobs, which matters when each group carries GBs of
    asset bytes. Parity-tested against the plain JVM aggregate."""
    import pyarrow as pa

    def summarize(tbl: "pa.Table") -> "pa.Table":
        n = tbl.num_rows
        modality = tbl.column("modality")[0].as_py() if n else None
        sizes = pa.compute.binary_length(tbl.column("data"))
        total = pa.compute.sum(sizes).as_py() or 0
        return pa.table(
            {
                "modality": [modality],
                "n_assets": pa.array([n], pa.int64()),
                "total_bytes": pa.array([total], pa.int64()),
                "mean_bytes": pa.array([total / n if n else 0.0], pa.float64()),
            }
        )

    return assets.groupBy("modality").applyInArrow(
        summarize, schema=MODALITY_SUMMARY_SCHEMA
    )
