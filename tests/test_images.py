"""Image payload tests — the input_hint invariant (BASELINE.json):

decoded-pixel allclose vs the reference render (exact for lossless,
PSNR >= 40 dB for lossy) + byte-equal captions, over the authoritative
table shape (image_id, bytes, w, h, fmt, caption, phash).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gocrawler_spark.operators import images as IM
from gocrawler_spark.sources import synthetic_images as SI


# ---------------- codec-level (no Spark) ----------------


def test_png_roundtrip_exact():
    px = SI.render_pixels("img-a", 41, 29)
    assert np.array_equal(SI.decode_png(SI.encode_png(px)), px)
    assert SI.psnr_db(px, SI.decode_png(SI.encode_png(px))) == float("inf")


def test_qjpg_lossy_psnr_floor():
    for iid in ["x1", "x2", "x3"]:
        px = SI.render_pixels(iid, 64, 48)
        dec = SI.decode_qjpg(SI.encode_qjpg(px))
        p = SI.psnr_db(px, dec)
        assert 40.0 <= p < float("inf"), p
        assert not np.array_equal(px, dec)  # genuinely lossy


def test_jpeg_stub_gated():
    with pytest.raises((NotImplementedError, ValueError)):
        SI.decode_jpeg(b"\xff\xd8\xff\xe0 not really")


def test_render_deterministic():
    a = SI.render_pixels("same", 20, 20)
    b = SI.render_pixels("same", 20, 20)
    c = SI.render_pixels("other", 20, 20)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_ahash_noise_tolerance():
    px = SI.render_pixels("h1", 64, 64)
    noisy = SI.decode_qjpg(SI.encode_qjpg(px))  # quantization noise
    d = bin((SI.ahash64(px) ^ SI.ahash64(noisy)) & ((1 << 64) - 1)).count("1")
    assert d <= 3  # perceptually stable
    other = SI.render_pixels("h2-different", 64, 64)
    d2 = bin((SI.ahash64(px) ^ SI.ahash64(other)) & ((1 << 64) - 1)).count("1")
    assert d2 > 3  # distinct content separates


# ---------------- Spark-side plumbing ----------------


@pytest.fixture(scope="module")
def image_table(spark):
    urls = [(f"https://site{i % 7}.example/article-{i}",) for i in range(40)]
    pages = spark.createDataFrame(urls, "url string")
    df = IM.build_image_table(pages).cache()
    assert df.count() > 10
    return df


def test_empty_images_has_schema_and_no_partitions(spark):
    """The empty image table keeps the input_hint schema and has no
    partitions, so a job that scans it starts no Python workers."""
    empty = IM.empty_images(spark)
    assert empty.schema == IM.IMAGE_SCHEMA
    assert empty.rdd.getNumPartitions() == 0
    assert empty.count() == 0


def test_table_schema_matches_input_hint(image_table):
    assert [(f.name, f.dataType.simpleString()) for f in image_table.schema.fields] == [
        ("image_id", "string"), ("bytes", "binary"), ("w", "int"), ("h", "int"),
        ("fmt", "string"), ("caption", "string"), ("phash", "bigint"),
    ]


def test_invariant_all_rows(image_table):
    v = IM.validate_images(image_table)
    bad = v.filter(
        ~(F.col("decode_ok") & F.col("dims_ok") & F.col("pixels_ok")
          & F.col("caption_ok") & F.col("phash_ok"))
    )
    assert bad.count() == 0
    # lossy rows report a finite PSNR >= 40; lossless report None
    lossy = v.filter(F.col("psnr_db").isNotNull())
    assert lossy.filter(F.col("psnr_db") < 40.0).count() == 0
    assert v.filter(F.col("psnr_db").isNull()).count() > 0


def test_invariant_survives_parquet_roundtrip(image_table, tmp_path):
    p = str(tmp_path / "images.parquet")
    image_table.write.mode("overwrite").parquet(p)
    back = image_table.sparkSession.read.parquet(p)
    v = IM.validate_images(back)
    assert v.filter(~(F.col("pixels_ok") & F.col("caption_ok"))).count() == 0


def test_corruption_detected(image_table, tmp_path):
    corrupt = image_table.limit(3).withColumn(
        "caption", F.concat(F.col("caption"), F.lit(" TAMPERED"))
    )
    v = IM.validate_images(corrupt)
    assert v.filter(F.col("caption_ok")).count() == 0
    # truncating the payload breaks decode
    corrupt2 = image_table.limit(3).withColumn(
        "bytes", F.substring(F.col("bytes"), 1, 50)
    )
    v2 = IM.validate_images(corrupt2)
    assert v2.filter(F.col("pixels_ok")).count() == 0


def test_phash_near_dups_banded_lsh(spark):
    # two perceptual near-dups (same render, lossy vs lossless) + one far
    rows = []
    for iid, fmt in [("dupA", "png"), ("dupA", "qjpg"), ("farB", "png")]:
        px = SI.render_pixels(iid, 48, 48)
        data = SI.encode_png(px) if fmt == "png" else SI.encode_qjpg(px)
        rows.append(
            (f"{iid}-{fmt}", bytearray(data), 48, 48, fmt, "c",
             SI.ahash64(SI.decode_image(bytes(data), fmt)))
        )
    df = spark.createDataFrame(rows, IM.IMAGE_SCHEMA)
    pairs = IM.phash_near_dups(df, max_hamming=3).collect()
    got = {(r.a_id, r.b_id) for r in pairs}
    assert ("dupA-png", "dupA-qjpg") in got or ("dupA-qjpg", "dupA-png") in got
    assert all("farB" not in a and "farB" not in b for a, b in got)


def test_metadata_scan_prunes_payload(image_table, tmp_path):
    """Column pruning: a metadata-only query over the parquet images
    table must not read the binary payload column."""
    p = str(tmp_path / "img2.parquet")
    image_table.write.mode("overwrite").parquet(p)
    q = (
        image_table.sparkSession.read.parquet(p)
        .groupBy("fmt").agg(F.count("*").alias("n"), F.avg("w").alias("avg_w"))
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "bytes" not in plan


def test_resize_images_deterministic_round_trip(spark):
    from gocrawler_spark.operators import images as IM
    from gocrawler_spark.queries.image_q import images_from_documents
    from gocrawler_spark.sources import synthetic_images as SI
    import numpy as np
    from tests.conftest import SF_DIR

    resized = IM.resize_images(
        images_from_documents(spark, SF_DIR), 24, 24
    ).collect()
    assert resized
    for r in resized[:10]:
        px = SI.decode_image(bytes(r["bytes"]), r["fmt"])
        assert px.shape == (24, 24, 3)
        assert r["w"] == 24 and r["h"] == 24 and r["fmt"] == "png"
        assert SI.ahash64(px) == r["phash"]
    again = IM.resize_images(
        images_from_documents(spark, SF_DIR), 24, 24
    ).collect()
    assert sorted(r["phash"] for r in again) == sorted(
        r["phash"] for r in resized
    )


def test_phash_fixture_matches_renderer():
    """The pinned phash VALUES fixture used by the DuckDB oracles
    (fixtures/image_phash.py) must track the renderer exactly —
    guards against codec/render drift silently invalidating the
    image_phash_near_dups / image_dedup_clusters oracles."""
    from gocrawler_spark.fixtures import image_phash as PF

    assert PF.PHASH == PF.regenerate()


def test_png_text_chunks_roundtrip_and_crc():
    import struct
    import zlib

    import numpy as np

    from gocrawler_spark.sources.synthetic_images import (
        decode_png,
        png_with_text,
        read_png_text,
        render_pixels,
    )

    px = render_pixels("prov", 20, 14)
    pairs = {"Title": "café — ünïcode ✓ caption", "Source": "https://x/d1"}
    data = png_with_text(px, pairs)
    # chunks parse back exactly (iTXt carries UTF-8)
    assert read_png_text(data) == pairs
    # pixels decode unchanged past the spliced chunks
    assert np.array_equal(decode_png(data), px)
    # a corrupted text chunk is dropped, not trusted (CRC gate)
    i = data.index(b"iTXt")
    broken = data[: i + 10] + bytes([data[i + 10] ^ 0xFF]) + data[i + 11:]
    parsed = read_png_text(broken)
    assert "Title" not in parsed  # first chunk corrupted -> dropped
    assert parsed.get("Source") == "https://x/d1"
    # latin-1 tEXt chunks are read too
    from gocrawler_spark.sources.synthetic_images import _chunk, _IHDR_END

    t = _chunk(b"tEXt", b"Author\x00legacy latin-1")
    legacy = data[:_IHDR_END] + t + data[_IHDR_END:]
    assert read_png_text(legacy)["Author"] == "legacy latin-1"


def test_sharpness_fixture_matches_naive_and_vectorized():
    """The pinned variance-of-Laplacian fixture (fixtures/image_sharp.py)
    must equal BOTH independent computations: the fixture's naive
    per-pixel loop (regenerate()) and the engine's vectorized numpy
    path (operators/images.laplacian_sharpness_milli) — so the
    image_sharpness_stats oracle can't drift from the engine."""
    from gocrawler_spark.fixtures import image_sharp as SF
    from gocrawler_spark.operators.images import laplacian_sharpness_milli
    from gocrawler_spark.sources import synthetic_images as SI

    assert SF.SHARP == SF.regenerate()
    for d in (0, 1, 3, 7, 50, 151, 299):  # twins and both formats
        w, h = 16 + d % 49, 16 + (d * 7) % 49
        fmt = "qjpg" if d % 3 == 0 else "png"
        if d % 5 == 1 and d > 0:
            p = d - 1
            rid, w, h = str(p), 16 + p % 49, 16 + (p * 7) % 49
        else:
            rid = str(d)
        px = SI.render_pixels(rid, w, h)
        data = SI.encode_png(px) if fmt == "png" else SI.encode_qjpg(px)
        assert (
            laplacian_sharpness_milli(SI.decode_image(data, fmt))
            == SF.SHARP[d][1]
        )


def test_sharpness_degenerate_and_blur_ordering():
    """<3px interiors score 0; a constant image scores 0; adding
    noise raises the score (sanity of the blur gate's direction)."""
    import numpy as np

    from gocrawler_spark.operators.images import laplacian_sharpness_milli

    assert laplacian_sharpness_milli(np.zeros((2, 10, 3), np.uint8)) == 0
    flat = np.full((16, 16, 3), 128, np.uint8)
    assert laplacian_sharpness_milli(flat) == 0
    rng = np.random.default_rng(7)
    noisy = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    assert laplacian_sharpness_milli(noisy) > laplacian_sharpness_milli(flat)


def test_exposure_fixture_matches_naive_and_vectorized():
    """fixtures/image_exposure.py must equal BOTH independent
    computations (naive per-pixel regen and the vectorized engine
    path) so the exposure/funnel oracles can't drift."""
    from gocrawler_spark.fixtures import image_exposure as XF
    from gocrawler_spark.operators.images import exposure_stats_milli
    from gocrawler_spark.sources import synthetic_images as SI

    assert XF.EXPOSURE == XF.regenerate()
    for d in (0, 1, 3, 7, 50, 151, 299):
        w, h = 16 + d % 49, 16 + (d * 7) % 49
        fmt = "qjpg" if d % 3 == 0 else "png"
        if d % 5 == 1 and d > 0:
            p = d - 1
            rid, w, h = str(p), 16 + p % 49, 16 + (p * 7) % 49
        else:
            rid = str(d)
        px = SI.render_pixels(rid, w, h)
        data = SI.encode_png(px) if fmt == "png" else SI.encode_qjpg(px)
        assert exposure_stats_milli(SI.decode_image(data, fmt)) == tuple(
            XF.EXPOSURE[d][1:]
        )


def test_exposure_invariants():
    """Flat image: luma = its level*1000, zero contrast/color;
    grayscale: zero colorfulness; brightening raises luma."""
    import numpy as np

    from gocrawler_spark.operators.images import exposure_stats_milli

    flat = np.full((16, 16, 3), 128, np.uint8)
    assert exposure_stats_milli(flat) == (128000, 0, 0)
    rng = np.random.default_rng(11)
    gray1 = rng.integers(0, 256, (16, 16, 1), dtype=np.int64)
    gray = np.repeat(gray1, 3, axis=2).astype(np.uint8)
    lm, cm, co = exposure_stats_milli(gray)
    assert co == 0 and cm > 0
    brighter = np.clip(gray.astype(np.int64) + 50, 0, 255).astype(np.uint8)
    assert exposure_stats_milli(brighter)[0] > lm


def test_byte_dedup_collision_rule_exhaustive():
    """The image_byte_dedup oracle's closed form — payloads collide
    iff doc_id % 5 == 1 and doc_id % 3 == 2 (twin re-render + same
    format) — verified exhaustively over all 300 derived payloads,
    including that NO other sha256 collisions exist."""
    import hashlib

    from gocrawler_spark.sources import synthetic_images as SI

    shas = {}
    for d in range(300):
        w, h = 16 + d % 49, 16 + (d * 7) % 49
        fmt = "qjpg" if d % 3 == 0 else "png"
        if d % 5 == 1 and d > 0:
            p = d - 1
            rid, w, h = str(p), 16 + p % 49, 16 + (p * 7) % 49
        else:
            rid = str(d)
        px = SI.render_pixels(rid, w, h)
        data = SI.encode_png(px) if fmt == "png" else SI.encode_qjpg(px)
        shas[d] = hashlib.sha256(data).hexdigest()
    dup_of_prev = {d for d in range(1, 300) if shas[d] == shas[d - 1]}
    assert dup_of_prev == {d for d in range(1, 300) if d % 5 == 1 and d % 3 == 2}
    from collections import Counter

    sizes = Counter(Counter(shas.values()).values())
    assert sizes == {1: 260, 2: 20}


def test_strip_png_text_removes_all_text_chunks_exactly():
    """strip_png_text returns the byte-exact unstamped PNG, removes
    tEXt AND iTXt, leaves pixels + other chunks untouched, and the
    removed size matches the 45 + strlen(caption) + strlen(url)
    arithmetic the image_privacy_strip oracle uses."""
    import numpy as np

    from gocrawler_spark.sources.synthetic_images import (
        _IHDR_END,
        _chunk,
        decode_png,
        encode_png,
        png_with_text,
        read_png_text,
        render_pixels,
        strip_png_text,
    )

    px = render_pixels("strip", 20, 14)
    base = encode_png(px)
    cap, url = "café — ünïcode ✓", "https://img.local/123"
    stamped = png_with_text(px, {"Title": cap, "Source": url})
    # add a legacy latin-1 tEXt chunk too
    stamped = (
        stamped[:_IHDR_END]
        + _chunk(b"tEXt", b"Author\x00legacy")
        + stamped[_IHDR_END:]
    )
    stripped = strip_png_text(stamped)
    assert stripped == base
    assert read_png_text(stripped) == {}
    assert np.array_equal(decode_png(stripped), px)
    overhead_itxt = 45 + len(cap.encode()) + len(url.encode())
    overhead_text = 12 + len(b"Author\x00legacy")
    assert len(stamped) - len(stripped) == overhead_itxt + overhead_text
