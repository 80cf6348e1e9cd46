"""Image payload operators — the graft axis (BASELINE.json input_hint).

Table shape (authoritative):
    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)

All heavy work is Arrow-batched ``mapInPandas`` (vectorized transfer,
no per-row Python in Spark's row pipeline — pixel codecs are
inherently per-image). Scale design:

- the images table is written hash-distributed on ``image_id`` (at
  100 TB: bucketed by xxhash64(image_id)), payloads are opaque binary
  — column pruning means metadata queries NEVER read ``bytes``
  (check: ReadSchema in .explain excludes it);
- validation is embarrassingly parallel (one image at a time, no
  shuffle); near-dup detection shuffles only (image_id, phash) — 16
  bytes/row, not the payload;
- phash near-dup uses banded LSH on the 64-bit hash (4 x 16-bit
  bands): Hamming-distance<=3 pairs share >=1 exact band with
  certainty (pigeonhole), so the candidate join is an equi-join on
  (band_id, band_value) — no O(n^2) cross join at 1e10 rows.

The reference crawler has no image path (it bans image URLs,
crawler.yaml:3); correctness = the input_hint invariant: decoded
pixels match the reference render (PSNR>=40dB for lossy, exact for
lossless) and captions byte-equal.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gocrawler_spark.sources import synthetic_images as SI

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

VALIDATION_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("dims_ok", T.BooleanType(), False),
        T.StructField("psnr_db", T.DoubleType(), True),  # None = lossless exact
        T.StructField("pixels_ok", T.BooleanType(), False),
        T.StructField("caption_ok", T.BooleanType(), False),
        T.StructField("phash_ok", T.BooleanType(), False),
    ]
)


def empty_images(spark: SparkSession) -> DataFrame:
    # zero partitions: scans run no (Python-worker) tasks
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), IMAGE_SCHEMA)


def build_image_table(pages: DataFrame, seed: int = 42) -> DataFrame:
    """pages(url, ...) → input_hint image rows via mapInPandas.

    One Arrow batch in, one out; each page contributes 0-3 images.
    At scale the input is already partitioned by host (fetch stage),
    so image synthesis/decode adds no shuffle.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for u in pdf["url"]:
                for meta in SI.images_of_page(u, seed):
                    rows.append(SI.materialize(meta, seed))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
            )

    return pages.select("url").mapInPandas(gen, IMAGE_SCHEMA)


def validate_images(images: DataFrame, psnr_floor: float = 40.0, seed: int = 42) -> DataFrame:
    """Check the input_hint invariant per row.

    - decode bytes with the format's codec;
    - re-render the reference pixels from image_id (pure function);
    - lossless: exact pixel match required; lossy: PSNR >= psnr_floor;
    - caption byte-equality vs the reference caption function;
    - phash recompute == stored phash.
    """

    def val(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from gocrawler_spark.sources.synthetic_web import _sentence, h64

        for pdf in batches:
            out = {k.name: [] for k in VALIDATION_SCHEMA.fields}
            for r in pdf.itertuples(index=False):
                ref = SI.render_pixels(r.image_id, r.w, r.h, seed)
                try:
                    px = SI.decode_image(bytes(r.bytes), r.fmt)
                    decode_ok = True
                except Exception:  # corrupt payloads fail arbitrarily
                    px, decode_ok = None, False
                dims_ok = decode_ok and px.shape == (r.h, r.w, 3)
                if dims_ok:
                    p = SI.psnr_db(ref, px)
                    lossless = r.fmt == "png"
                    pixels_ok = (
                        bool(np.array_equal(ref, px)) if lossless else p >= psnr_floor
                    )
                    psnr = None if math.isinf(p) else float(p)
                    phash_ok = SI.ahash64(px) == r.phash
                else:
                    psnr, pixels_ok, phash_ok = None, False, False
                cap_ref = _sentence(h64(r.image_id, "cap", seed=seed), 12, 4, 3)
                out["image_id"].append(r.image_id)
                out["decode_ok"].append(decode_ok)
                out["dims_ok"].append(bool(dims_ok))
                out["psnr_db"].append(psnr)
                out["pixels_ok"].append(bool(pixels_ok))
                out["caption_ok"].append(r.caption == cap_ref)
                out["phash_ok"].append(bool(phash_ok))
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    return images.select(*cols).mapInPandas(val, VALIDATION_SCHEMA)


def phash_bands(images: DataFrame, n_bands: int = 4) -> DataFrame:
    """Explode each phash into n_bands exact-match bands (LSH for
    Hamming distance): two hashes within Hamming distance n_bands-1
    agree on at least one band. Only (image_id, phash) shuffles."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftright(F.col("phash"), i * width).bitwiseAND(F.lit(mask)).alias(
                    "band_value"
                ),
            )
            for i in range(n_bands)
        ]
    )
    return images.select("image_id", "phash", F.explode(bands).alias("b")).select(
        "image_id", "phash", F.col("b.band_id"), F.col("b.band_value")
    )


def _popcount64(col):
    """Bit count of a 64-bit column via 4x16-bit lookup-free fold
    (Spark has bit_count in 3.3+; keep explicit for clarity)."""
    return F.bit_count(col)


def phash_near_dups(images: DataFrame, max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """Pairs of images with Hamming(phash) <= max_hamming.

    Banded equi-join (no cross join): candidates = pairs sharing a
    band; exact Hamming verified with xor+bit_count; dedup on the
    (a,b) pair. For max_hamming <= n_bands-1 recall is 100%
    (pigeonhole). Shuffle carries only ids+hashes.
    """
    b = phash_bands(images, n_bands)
    left = b.select(
        F.col("image_id").alias("a_id"), F.col("phash").alias("a_phash"),
        "band_id", "band_value",
    )
    right = b.select(
        F.col("image_id").alias("b_id"), F.col("phash").alias("b_phash"),
        "band_id", "band_value",
    )
    pairs = (
        left.join(right, ["band_id", "band_value"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_phash", "b_phash")
        .dropDuplicates(["a_id", "b_id"])
        .withColumn(
            "hamming",
            _popcount64(F.col("a_phash").bitwiseXOR(F.col("b_phash"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("a_id", "b_id", "hamming")


GRID_N = 4  # grid_features pools pixels into a GRID_N x GRID_N grid
GRID_DIMS = GRID_N * GRID_N


def grid_feature_vector(px: np.ndarray) -> np.ndarray:
    """Pixel-derived integer embedding of one decoded image: sum the
    channels, pool into a GRID_N x GRID_N grid of block sums, and
    center (f = GRID_DIMS*s - sum(s), an integer multiple of the
    mean-subtracted block sums). All-int64, so the vector — and every
    dot product over it — is bit-identical across engines; cosine over
    it captures the spatial luminance layout, which survives the lossy
    re-encode (twin pairs score >= 0.9998 vs <= 0.968 for any other
    pair on the derived table)."""
    p = px.astype(np.int64)
    if p.ndim == 3:
        p = p.sum(axis=2)
    h, w = p.shape
    s = np.zeros(GRID_DIMS, dtype=np.int64)
    for i in range(GRID_N):
        for j in range(GRID_N):
            blk = p[i * h // GRID_N : (i + 1) * h // GRID_N,
                    j * w // GRID_N : (j + 1) * w // GRID_N]
            s[i * GRID_N + j] = blk.sum()
    return GRID_DIMS * s - s.sum()


def grid_features(images: DataFrame) -> DataFrame:
    """Decode every payload and emit its grid-feature embedding
    (image_id, feat array<long>). Arrow-batched mapInPandas; a map —
    no shuffle, payload bytes never leave their partition; downstream
    similarity ops shuffle only (image_id, 16xint64)."""

    def gf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for r in pdf.itertuples(index=False):
                px = SI.decode_image(bytes(r.bytes), r.fmt)
                ids.append(r.image_id)
                feats.append(grid_feature_vector(px).tolist())
            yield pd.DataFrame({"image_id": ids, "feat": feats})

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        gf, "image_id string, feat array<long>"
    )


def resize_images(
    images: DataFrame, target_w: int, target_h: int, seed: int = 42
) -> DataFrame:
    """Deterministic nearest-neighbor resize of every payload to
    (target_w, target_h): decode → index-sample → re-encode PNG.

    Same multimodal rules as decode/validate: Arrow-batched
    mapInPandas, one payload in flight per row, no payload bytes cross
    a shuffle (resize is a map — partitioning is preserved). The output
    table keeps the input_hint shape with fmt='png' (resize of a lossy
    payload re-encodes losslessly from the decoded pixels) and a
    recomputed phash. Nearest-neighbor keeps the op bit-deterministic
    across platforms (no float filtering)."""

    def rs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = SI.decode_image(bytes(r.bytes), r.fmt)
                h, w, _ = px.shape
                yi = (np.arange(target_h) * h) // target_h
                xi = (np.arange(target_w) * w) // target_w
                out = px[yi][:, xi]
                data = SI.encode_png(out)
                rows.append(
                    {
                        "image_id": r.image_id,
                        "bytes": data,
                        "w": target_w,
                        "h": target_h,
                        "fmt": "png",
                        "caption": r.caption,
                        "phash": SI.ahash64(out),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
            )

    return images.mapInPandas(rs, IMAGE_SCHEMA)


def laplacian_sharpness_milli(px: np.ndarray) -> int:
    """Integer variance-of-Laplacian sharpness (milli-units).

    The standard blur detector (Pech-Pacheco et al., ICPR 2000): a
    sharp image has high-variance second derivatives, a blurry one
    near-zero. Channel-summed luminance g = r+g+b (no division — keeps
    every step exact int64), 4-neighbor Laplacian over interior
    pixels, and the variance computed as the exact rational
    (n·Σl² − (Σl)²)/n² scaled by 1000 with ONE floor division — so
    the vectorized path and the fixture's naive per-pixel loop agree
    bit-for-bit. int64 bounds: |l| ≤ 8·765, n ≤ 64², so
    1000·n·Σl² < 2^63."""
    g = px.astype(np.int64).sum(axis=2)
    if g.shape[0] < 3 or g.shape[1] < 3:
        return 0
    core = (
        4 * g[1:-1, 1:-1]
        - g[:-2, 1:-1]
        - g[2:, 1:-1]
        - g[1:-1, :-2]
        - g[1:-1, 2:]
    )
    n = core.size
    s = int(core.sum())
    s2 = int((core * core).sum())
    return (1000 * (n * s2 - s * s)) // (n * n)


def score_sharpness(images: DataFrame) -> DataFrame:
    """Decode every payload and score its variance-of-Laplacian
    sharpness → (image_id, fmt, lapvar_milli). A pure map: payload
    bytes never cross a partition boundary, and downstream quality
    gates shuffle only (image_id, fmt, int64) — the same
    decode-locality contract as grid_features/validate_images. At
    100 TB this is the standard blur filter a training-data pipeline
    runs before captioning: embarrassingly parallel, no state."""

    def sc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, scores = [], [], []
            for r in pdf.itertuples(index=False):
                px = SI.decode_image(bytes(r.bytes), r.fmt)
                ids.append(r.image_id)
                fmts.append(r.fmt)
                scores.append(laplacian_sharpness_milli(px))
            yield pd.DataFrame(
                {"image_id": ids, "fmt": fmts, "lapvar_milli": scores}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        sc, "image_id string, fmt string, lapvar_milli long"
    )


def exposure_stats_milli(px: np.ndarray) -> tuple[int, int, int]:
    """One-pass integer exposure statistics of a decoded image:
    (luma_milli, contrast_milli, color_milli).

    - luma_milli: mean channel-summed luminance g = r+g+b scaled to
      the 0..255000 milli range — (1000·Σg)//(3n) with ONE floor
      division, so per-pixel order can't change the result.
    - contrast_milli: exact-rational population variance of g,
      (1000·(n·Σg² − (Σg)²))//n² — same construction as the
      sharpness score, zero for a flat image.
    - color_milli: integer colorfulness proxy (Hasler–Süsstrunk
      opponent axes without the sqrt): var(2(r−g)) + var(r+g−2b),
      each exact-rational milli — zero for any grayscale image.

    int64 bounds: g ≤ 765, |rg2| ≤ 510, |yb2| ≤ 765, n ≤ 64², so
    1000·n·Σg² < 2^63 with room."""
    p = px.astype(np.int64)
    n = p.shape[0] * p.shape[1]
    if n == 0:
        return 0, 0, 0
    g = p.sum(axis=2)
    sg, sg2 = int(g.sum()), int((g * g).sum())
    luma = (1000 * sg) // (3 * n)
    contrast = (1000 * (n * sg2 - sg * sg)) // (n * n)
    rg2 = 2 * (p[:, :, 0] - p[:, :, 1])
    yb2 = p[:, :, 0] + p[:, :, 1] - 2 * p[:, :, 2]
    sr, sr2 = int(rg2.sum()), int((rg2 * rg2).sum())
    sy, sy2 = int(yb2.sum()), int((yb2 * yb2).sum())
    color = (1000 * (n * sr2 - sr * sr)) // (n * n) + (
        1000 * (n * sy2 - sy * sy)
    ) // (n * n)
    return luma, contrast, color


def score_exposure(images: DataFrame) -> DataFrame:
    """Decode every payload and emit its exposure stats →
    (image_id, fmt, luma_milli, contrast_milli, color_milli). Pure
    map, payload-local decode — identical scale contract to
    score_sharpness."""

    def ex(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = SI.decode_image(bytes(r.bytes), r.fmt)
                lm, cm, co = exposure_stats_milli(px)
                rows.append((r.image_id, r.fmt, lm, cm, co))
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "fmt", "luma_milli", "contrast_milli", "color_milli",
                ],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        ex,
        "image_id string, fmt string, luma_milli long, "
        "contrast_milli long, color_milli long",
    )
