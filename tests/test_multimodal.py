"""Multimodal binary-column plumbing (sources/multimodal.py): schema,
batching, and partitioning are real; decoders are injectable (image libs
are not installed in this container)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.fixtures import fake_image_decoder
from vlm_data_pipeline_spark.sources import multimodal as M


def _assets(spark):
    rows = [
        (f"asset-{i}", ["image", "audio", "video"][i % 3],
         bytes([i]) * (50 + i * 37), None)
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "asset_id string, modality string, payload binary, n_bytes long"
    )
    meta = F.struct(
        F.lit(640).alias("width"),
        (F.lit(200) + F.crc32("asset_id") % 1000).cast("int").alias("height"),
        F.lit(3).alias("channels"),
        F.lit(None).cast("int").alias("sample_rate"),
        (F.crc32("asset_id") % 40).cast("int").alias("n_frames"),
        F.lit(None).cast("double").alias("duration_s"),
    ).cast(M.MEDIA_META)
    return df.withColumn("meta", meta)


def test_decode_images_default_raises_without_pil(spark):
    with pytest.raises(Exception) as exc:
        M.decode_images(_assets(spark)).collect()
    assert "NotImplementedError" in str(exc.value) or "Pillow" in str(exc.value)


def test_decode_images_with_injected_decoder(spark):
    out = M.decode_images(_assets(spark), decoder=fake_image_decoder).collect()
    assert len(out) == 12
    by_id = {r.asset_id: r for r in out}
    # deterministic: same payload → same decode, independent of partitioning
    out2 = M.decode_images(
        _assets(spark).repartition(7), decoder=fake_image_decoder
    ).collect()
    for r in out2:
        prev = by_id[r.asset_id]
        assert (r.width, r.height, r.channels, r.mean_luma) == (
            prev.width, prev.height, prev.channels, prev.mean_luma
        )
    assert all(64 <= r.width <= 255 and 1 <= r.channels <= 4 for r in out)


def test_resize_plan(spark):
    out = M.resize_plan(_assets(spark), max_side=512).collect()
    for r in out:
        long_side = max(r.width, r.height)
        if long_side > 512:
            assert r.needs_resize
            assert max(r.target_width, r.target_height) == 512
        else:
            assert not r.needs_resize
            assert (r.target_width, r.target_height) == (r.width, r.height)
        # aspect preserved within rounding
        assert abs(r.target_width / r.target_height - r.width / r.height) < 0.02


def test_frame_sample_plan(spark):
    out = M.frame_sample_plan(_assets(spark), stride=10).collect()
    assert out, "fixture should contain at least one video with frames"
    rows_by_asset = {}
    for r in out:
        rows_by_asset.setdefault(r.asset_id, []).append(r.frame_idx)
    for aid, idxs in rows_by_asset.items():
        n = next(r.n_frames for r in out if r.asset_id == aid)
        assert sorted(idxs) == list(range(0, n, 10))


def test_default_decoder_real_png(spark):
    """The DEFAULT image decoder decodes real PNG payloads (png_codec) —
    dims and mean luma from actual pixels, no injection."""
    from tests.test_png_codec import encode_png

    rows6 = [[10, 20, 30, 40], [50, 60, 70, 80]]  # 4x2 gray, mean 45/255
    png = encode_png(rows6)
    df = spark.createDataFrame(
        [("a1", "image", bytearray(png), None)],
        "asset_id string, modality string, payload binary, n_bytes long",
    ).withColumn("meta", F.lit(None).cast(M.MEDIA_META))
    out = M.decode_images(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.width, r.height, r.channels) == (4, 2, 1)
    assert abs(r.mean_luma - round(45 / 255.0, 6)) < 1e-9

    # non-PNG payloads still fail loud without an injected decoder
    bad = spark.createDataFrame(
        [("a2", "image", bytearray(b"JFIF..."), None)],
        "asset_id string, modality string, payload binary, n_bytes long",
    ).withColumn("meta", F.lit(None).cast(M.MEDIA_META))
    import pytest as _pytest

    with _pytest.raises(Exception, match="Pillow|NotImplemented"):
        M.decode_images(bad).collect()


def test_image_ahash_real_png_near_and_far(spark):
    """Real-decoder aHash: a one-pixel perturbation moves the hash at
    most a few bits; an inverted image lands far away; identical bytes
    collide exactly — through the mapInPandas stage end-to-end."""
    from tests.test_png_codec import encode_png
    from vlm_data_pipeline_spark.sources.multimodal import (
        image_ahash_64,
        perceptual_hashes,
        phash_near_pairs,
    )

    base = [[(x * 13 + y * 29) % 256 for x in range(16)] for y in range(16)]
    noisy = [row[:] for row in base]
    noisy[3][5] = (noisy[3][5] + 1) % 256
    inverted = [[255 - v for v in row] for row in base]

    p_base = encode_png(base)
    p_noise = encode_png(noisy)
    p_inv = encode_png(inverted)

    M64 = (1 << 64) - 1
    h_base = image_ahash_64(p_base)
    assert image_ahash_64(p_base) == h_base  # deterministic
    near = bin((h_base ^ image_ahash_64(p_noise)) & M64).count("1")
    far = bin((h_base ^ image_ahash_64(p_inv)) & M64).count("1")
    assert near <= 2
    assert far >= 20  # inversion flips (almost) every block bit

    assets = spark.createDataFrame(
        [("a", bytearray(p_base)), ("b", bytearray(p_noise)),
         ("c", bytearray(p_inv)), ("d", bytearray(p_base))],
        "asset_id string, payload binary",
    )
    hashes = perceptual_hashes(assets)
    got = {r.asset_id: r.phash for r in hashes.collect()}
    assert got["a"] == got["d"] == h_base

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_pairs(
            hashes, max_hamming=4, bands=8, bits=64
        ).collect()
    }
    assert pairs[("a", "d")] == 0
    assert ("a", "b") in pairs and pairs[("a", "b")] <= 2
    assert all("c" not in p for p in pairs)  # inverted image is no near-dup


def test_phash_near_pairs_pigeonhole_exact_recall(spark):
    """bands > max_hamming -> 100% recall vs the brute-force pair set."""
    import random

    from vlm_data_pipeline_spark.sources.multimodal import phash_near_pairs

    rng = random.Random(7)
    hashes = [(i, rng.getrandbits(60)) for i in range(30)]
    # plant near pairs at known distances
    hashes.append((100, hashes[0][1] ^ 0b1011))          # hamming 3 vs id 0
    hashes.append((101, hashes[1][1] ^ (1 << 59)))       # hamming 1 vs id 1
    df = spark.createDataFrame(hashes, "asset_id long, phash long")
    got = {
        (r.id_a, r.id_b)
        for r in phash_near_pairs(df, max_hamming=4, bands=5, bits=60).collect()
    }
    brute = {
        (a, b)
        for i, (a, ha) in enumerate(hashes)
        for b, hb in hashes[i + 1 :]
        if a < b and bin(ha ^ hb).count("1") <= 4
    }
    assert got == brute and {(0, 100), (1, 101)} <= got


def test_resize_images_exact_box_average(spark):
    """4x4 grayscale → 2x2: integer-divisible dims take the exact area
    mean (floor division), matching hand-computed block means."""
    from tests.test_png_codec import encode_png

    rows = [[(y * 4 + x) * 16 for x in range(4)] for y in range(4)]
    png = encode_png(rows, bit_depth=8, color_type=0)
    df = spark.createDataFrame(
        [("a", bytearray(png))], "asset_id string, payload binary"
    )
    r = M.resize_images(df, max_side=2).collect()[0]
    assert (r.width, r.height, r.channels) == (2, 2, 1)
    expect = [
        sum((y * 4 + x) * 16 for y in range(by * 2, by * 2 + 2)
            for x in range(bx * 2, bx * 2 + 2)) // 4
        for by in range(2) for bx in range(2)
    ]
    assert list(r.pixels) == expect


def test_resize_images_nearest_and_aspect(spark):
    """5x3 RGB → max_side 2: aspect-preserving target (2x1, round-half-
    up of 3·(2/5)=1.2), non-divisible → nearest-neighbor at pixel
    centers; and images already within max_side pass through unscaled."""
    from tests.test_png_codec import encode_png

    rows = [
        [v for x in range(5) for v in ((y * 5 + x), 100 + y, 200 - x)]
        for y in range(3)
    ]
    png = encode_png(rows, bit_depth=8, color_type=2)
    small = encode_png([[7, 8], [9, 10]], bit_depth=8, color_type=0)
    df = spark.createDataFrame(
        [("big", bytearray(png)), ("small", bytearray(small))],
        "asset_id string, payload binary",
    )
    out = {r.asset_id: r for r in M.resize_images(df, max_side=2).collect()}
    big = out["big"]
    assert (big.width, big.height, big.channels) == (2, 1, 3)
    # centers: y = floor(0.5*3/1)=1; x = floor(0.5*5/2)=1, floor(1.5*5/2)=3
    exp = [(1 * 5 + 1), 101, 199, (1 * 5 + 3), 101, 197]
    assert list(big.pixels) == exp
    sm = out["small"]
    assert (sm.width, sm.height) == (2, 2)
    assert list(sm.pixels) == [7, 8, 9, 10]


def test_resize_images_16bit_scales_to_8(spark):
    from tests.test_png_codec import encode_png

    rows = [[65535, 0], [257, 514]]
    png = encode_png(rows, bit_depth=16, color_type=0)
    df = spark.createDataFrame(
        [("a", bytearray(png))], "asset_id string, payload binary"
    )
    r = M.resize_images(df, max_side=4).collect()[0]
    assert list(r.pixels) == [255, 0, 1, 2]


def test_resize_images_corrupt_skipped(spark):
    df = spark.createDataFrame(
        [("bad", bytearray(b"not an image")), ("empty", bytearray(b""))],
        "asset_id string, payload binary",
    )
    assert M.resize_images(df, max_side=8).count() == 0


def test_resize_images_agrees_with_resize_plan(spark):
    """The pixel stage's emitted dims equal the relational resize_plan's
    computed targets for the same max_side (same rounding rule)."""
    from tests.test_png_codec import encode_png

    rows = [[x * 3 for x in range(7)] for _ in range(5)]  # 7x5
    png = encode_png(rows, bit_depth=8, color_type=0)
    assets = spark.createDataFrame(
        [("a", bytearray(png))], "asset_id string, payload binary"
    )
    got = M.resize_images(assets, max_side=4).collect()[0]
    planned = spark.createDataFrame(
        [("a", "image", (7, 5, None, None))],
        "asset_id string, modality string, "
        "meta struct<width:int,height:int,n_frames:int,sample_rate:int>",
    )
    p = M.resize_plan(planned, max_side=4).collect()[0]
    assert (got.width, got.height) == (p.target_width, p.target_height)


def test_resize_images_truncated_png_and_degenerate_skip(spark):
    """Review-pass regressions: a payload with a VALID PNG signature but
    truncated chunks (struct.error inside the codec) and a crafted 0-dim
    image must follow the robust skip policy, not crash the task; and
    on_error='fail' re-raises for CI."""
    truncated = b"\x89PNG\r\n\x1a\n" + b"\x00\x00"
    df = spark.createDataFrame(
        [("t", bytearray(truncated))], "asset_id string, payload binary"
    )
    assert M.resize_images(df, max_side=8).count() == 0

    class ZeroDim:
        width, height, channels, bit_depth, rows = 0, 0, 1, 8, []

    bad = spark.createDataFrame(
        [("z", bytearray(b"x"))], "asset_id string, payload binary"
    )
    assert M.resize_images(bad, decoder=lambda p: ZeroDim()).count() == 0
    with pytest.raises(Exception):
        M.resize_images(df, max_side=8, on_error="fail").collect()
    with pytest.raises(ValueError, match="on_error"):
        M.resize_images(df, on_error="explode")


def test_resize_images_dark_16bit_still_scales(spark):
    """Review-pass regression: 16-bit detection must come from the
    decoder's bit_depth, not pixel content — a near-black 16-bit image
    (all samples <= 255) still scales by 257."""
    from tests.test_png_codec import encode_png

    rows = [[200, 100], [50, 25]]
    png = encode_png(rows, bit_depth=16, color_type=0)
    df = spark.createDataFrame(
        [("d", bytearray(png))], "asset_id string, payload binary"
    )
    r = M.resize_images(df, max_side=4).collect()[0]
    assert list(r.pixels) == [0, 0, 0, 0]


def test_resize_plan_clamps_extreme_aspect(spark):
    """Review-pass regression: 2000x1 at max_side 512 must plan a 512x1
    target, not 512x0 — and agree with the pixel stage's clamp."""
    planned = spark.createDataFrame(
        [("a", "image", (2000, 1, None, None))],
        "asset_id string, modality string, "
        "meta struct<width:int,height:int,n_frames:int,sample_rate:int>",
    )
    p = M.resize_plan(planned, max_side=512).collect()[0]
    assert (p.target_width, p.target_height) == (512, 1)


def test_phash_incremental_store_and_batch_paths(spark):
    """Both detection paths on planted hashes: within-batch pair at
    hamming 0, cross pairs against raw AND pre-banded stores (identical
    results), no self-pair for a re-ingested id, store=None = batch-only."""
    store = spark.createDataFrame(
        [("old1", 100), ("old2", 1 << 40)], "asset_id string, phash long"
    )
    batch = spark.createDataFrame(
        [("n1", 101), ("n2", 101), ("old1", 100)],
        "asset_id string, phash long",
    )
    raw = {
        (r.id_a, r.id_b, r.source): r.hamming
        for r in M.phash_incremental_pairs(batch, store, max_hamming=4).collect()
    }
    assert raw[("n1", "n2", "batch")] == 0
    assert raw[("n1", "old1", "store")] == 1
    assert ("old1", "old1", "store") not in raw  # re-ingest: no self-pair
    banded = {
        (r.id_a, r.id_b, r.source): r.hamming
        for r in M.phash_incremental_pairs(
            batch, M.banded_hashes(store), max_hamming=4
        ).collect()
    }
    assert banded == raw
    only_batch = M.phash_incremental_pairs(batch, None, max_hamming=4)
    assert {r.source for r in only_batch.collect()} == {"batch"}

