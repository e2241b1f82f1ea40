"""Spark-side image operators: full-table generator and vectorized payload UDFs.

All payload work is Arrow-batched (``mapInPandas`` / ``pandas_udf``) per the
input_hint ("no per-row Python" meaning no row-at-a-time Python UDFs — the
codec runs vectorized per Arrow batch with numpy inner loops).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from geo_epic_spark.images import codec
from geo_epic_spark.synth import images_meta_df


def full_images_df(
    spark: SparkSession,
    n: int,
    seed_mod: int | None = None,
    flat_mod: int | None = None,
) -> DataFrame:
    """The BASELINE.json input table, payload included:
    (image_id, bytes, w, h, fmt, caption, phash) + tile-bound columns.

    Distributed generation: meta columns are pure Column arithmetic
    (synth.images_meta_df); bytes/phash are added by one mapInPandas stage.

    ``seed_mod``: seed the pixel generator with ``i % seed_mod`` to plant
    exact duplicate payloads for dedup tests — (w, h, fmt) have period 90 in
    ``i``, so any multiple of 90 makes row i and i+seed_mod byte-identical.

    ``flat_mod``: rows with ``i % flat_mod == 0`` get a CONSTANT-pixel
    payload (zero contrast/entropy) — planted low-information images whose
    index set is the SQL-expressible ground truth for quality-filter
    oracles.
    """
    meta = images_meta_df(spark, n)
    out_schema = StructType(
        list(meta.schema.fields)
        + [StructField("bytes", BinaryType()), StructField("phash", LongType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, hashes = [], []
            for i, w, h, fmt in zip(pdf["i"], pdf["w"], pdf["h"], pdf["fmt"]):
                seed = int(i) % seed_mod if seed_mod else int(i)
                if flat_mod and int(i) % flat_mod == 0:
                    arr = np.full((int(h), int(w), 3), 127, dtype=np.uint8)
                else:
                    arr = codec.synth_pixels(seed, int(w), int(h))
                blobs.append(codec.encode_image(arr, fmt))
                hashes.append(codec.phash64(codec.decode_image(blobs[-1], fmt)))
            pdf = pdf.copy()
            pdf["bytes"] = blobs
            pdf["phash"] = np.array(hashes, dtype=np.int64)
            yield pdf

    return meta.mapInPandas(gen, schema=out_schema)


_DECODE_STATS_SCHEMA = StructType(
    [
        StructField("dec_w", IntegerType()),
        StructField("dec_h", IntegerType()),
        StructField("mean_lum", DoubleType()),
        StructField("phash_rt", LongType()),
    ]
)


@F.pandas_udf(_DECODE_STATS_SCHEMA)
def decode_stats(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    """Decode payload and emit per-image stats (shape, mean luminance,
    recomputed phash) — the decode → feature-extract stage of a multimodal
    pipeline, batched over Arrow."""
    ws, hs, lums, phs = [], [], [], []
    for blob, f in zip(data, fmt):
        arr = codec.decode_image(bytes(blob), f)
        hs.append(arr.shape[0])
        ws.append(arr.shape[1])
        lums.append(float(arr.astype(np.float64).mean()))
        phs.append(codec.phash64(arr))
    return pd.DataFrame(
        {
            "dec_w": np.array(ws, dtype=np.int32),
            "dec_h": np.array(hs, dtype=np.int32),
            "mean_lum": lums,
            "phash_rt": np.array(phs, dtype=np.int64),
        }
    )


@F.pandas_udf(DoubleType())
def psnr_vs_regen(data: pd.Series, fmt: pd.Series, i: pd.Series) -> pd.Series:
    """PSNR of the decoded payload against the regenerated source pixels —
    the graft's per-row invariant (PSNR >= 40 dB lossy, inf lossless)."""
    out = []
    for blob, f, idx in zip(data, fmt, i):
        dec = codec.decode_image(bytes(blob), f)
        src = codec.synth_pixels(int(idx), dec.shape[1], dec.shape[0])
        out.append(codec.psnr(src, dec))
    return pd.Series(out)


def resize_images(df: DataFrame, target: int = 224) -> DataFrame:
    """Resize stage of a multimodal pipeline: decode -> pure-numpy bilinear
    resize to target x target -> re-encode (lossless png at the new size) ->
    recompute phash. Arrow-batched mapInPandas; per-image numpy inner loop is
    inherent to a per-image kernel. Input needs (bytes, fmt, w, h); those
    columns (and phash when present) are rewritten, all others pass through.
    """
    has_phash = "phash" in df.columns

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, hashes = [], []
            for blob, f in zip(pdf["bytes"], pdf["fmt"]):
                arr = codec.decode_image(bytes(blob), f)
                small = codec.bilinear_resize(arr, target, target)
                blobs.append(codec.encode_image(small, "png"))
                if has_phash:
                    hashes.append(codec.phash64(small))
            pdf = pdf.copy()
            pdf["bytes"] = blobs
            pdf["fmt"] = "png"
            pdf["w"] = np.int32(target)
            pdf["h"] = np.int32(target)
            if has_phash:
                pdf["phash"] = np.array(hashes, dtype=np.int64)
            yield pdf

    return df.mapInPandas(_resize, schema=df.schema)


_QUALITY_SCHEMA = StructType(
    [
        StructField("contrast", DoubleType()),
        StructField("entropy_bits", DoubleType()),
        StructField("sharpness", DoubleType()),
    ]
)


@F.pandas_udf(_QUALITY_SCHEMA)
def quality_stats(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    """Per-image information stats for quality filtering: luminance
    contrast (std dev), 8-bit histogram entropy (bits), and a gradient
    sharpness proxy (mean |dI/dx| + |dI/dy|). Arrow-batched; the per-image
    numpy kernel is inherent to a per-image op (same shape as
    ``decode_stats``)."""
    cons, ents, shps = [], [], []
    for blob, f in zip(data, fmt):
        arr = codec.decode_image(bytes(blob), f)
        gray = arr.astype(np.float64).mean(axis=-1)
        cons.append(float(gray.std()))
        hist = np.bincount(
            np.clip(gray, 0, 255).astype(np.uint8).ravel(), minlength=256
        )
        p = hist[hist > 0] / gray.size
        ents.append(float(-(p * np.log2(p)).sum() + 0.0))  # +0.0 kills -0.0
        gx = np.abs(np.diff(gray, axis=1)).mean() if gray.shape[1] > 1 else 0.0
        gy = np.abs(np.diff(gray, axis=0)).mean() if gray.shape[0] > 1 else 0.0
        shps.append(float(gx + gy))
    return pd.DataFrame(
        {"contrast": cons, "entropy_bits": ents, "sharpness": shps}
    )


def image_quality_report(
    df: DataFrame,
    min_contrast: float = 4.0,
    min_entropy_bits: float = 1.0,
) -> DataFrame:
    """Low-information image filter — the image-side analog of the text
    quality floor in a multimodal curation pipeline (flat/near-flat frames:
    failed downloads, solid-color placeholders, letterbox fills). Decode +
    stats in ONE map-only Arrow stage (zero shuffle at any scale); the
    ``low_info`` flag marks images below BOTH the contrast and entropy
    floors, the caller filters or routes on it."""
    s = quality_stats("bytes", "fmt")
    return df.withColumn("__q", s).select(
        *[c for c in df.columns if c not in ("bytes",)],
        F.col("__q.contrast").alias("contrast"),
        F.col("__q.entropy_bits").alias("entropy_bits"),
        F.col("__q.sharpness").alias("sharpness"),
        (
            (F.col("__q.contrast") < F.lit(min_contrast))
            & (F.col("__q.entropy_bits") < F.lit(min_entropy_bits))
        ).cast("int").alias("low_info"),
    )


_AUG_OPS = ("hflip", "vflip", "rot90", "crop")
_AUG_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("aug", StringType()),
    StructField("out_w", IntegerType()),
    StructField("out_h", IntegerType()),
    StructField("bytes", BinaryType()),
    StructField("phash", LongType()),
])


def augment_images(df: DataFrame, salt: int = 0, crop_frac: float = 0.75) -> DataFrame:
    """Deterministic per-epoch image augmentation (the training-loader
    transform moved into the table pipeline): each image gets ONE op —
    hflip / vflip / rot90 / center-crop — chosen by the same reproducible
    `hash_unit(i, salt)` decision function the sampling operators use, so
    an epoch's augmentation is a pure function of (image, salt) across
    retries and cluster sizes. New salt = new epoch.

    One Arrow map stage: decode -> numpy transform -> re-encode (+ fresh
    phash). Output: (image_id, aug, out_w, out_h, bytes, phash). The op
    ASSIGNMENT and output dims are SQL-derivable (q_augment oracle);
    pixel-level semantics (involution / rotation identities, crop bounds)
    are pinned in test_media.
    """
    from geo_epic_spark.images import codec
    from geo_epic_spark.operators.sampling import hash_unit

    n_ops = len(_AUG_OPS)
    tagged = df.withColumn(
        "__aug", F.floor(hash_unit(F.col("i"), salt) * n_ops).cast("int"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, blob, fmt, a in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["__aug"]
            ):
                arr = codec.decode_image(bytes(blob), fmt)
                op = _AUG_OPS[int(a)]
                if op == "hflip":
                    out = arr[:, ::-1]
                elif op == "vflip":
                    out = arr[::-1, :]
                elif op == "rot90":
                    out = np.rot90(arr)          # CCW, (h,w) -> (w,h)
                else:  # center crop
                    h, w = arr.shape[:2]
                    cw = max(int(w * crop_frac), 1)
                    ch = max(int(h * crop_frac), 1)
                    x0 = (w - cw) // 2
                    y0 = (h - ch) // 2
                    out = arr[y0:y0 + ch, x0:x0 + cw]
                out = np.ascontiguousarray(out)
                blob2 = codec.encode_image(out, fmt)
                rows.append({
                    "image_id": iid, "aug": op,
                    "out_w": out.shape[1], "out_h": out.shape[0],
                    "bytes": blob2,
                    "phash": codec.phash64(codec.decode_image(blob2, fmt)),
                })
            yield pd.DataFrame(rows)

    return tagged.select("image_id", "bytes", "fmt", "__aug").mapInPandas(
        run, schema=_AUG_SCHEMA)
