"""Annotation rendering: PNG encode round-trip, rasterizer kernels
pinned pixel-by-pixel, JVM-side projection parity, and the bounded
mapInPandas debug sink (reference objectron/dataset/graphics.py and
visualize_enhanced_results.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from vlm_data_pipeline_spark.functions.graphics import (
    BOX_EDGES,
    FRONT_FACE,
    PALETTE,
    TOP_FACE,
    blank_canvas,
    draw_line,
    draw_rect,
    draw_wireframe,
    encode_png_rgb,
    render_annotations,
)
from vlm_data_pipeline_spark.sources.png_codec import decode_png


def _decode_to_array(png: bytes) -> np.ndarray:
    img = decode_png(png)
    return np.array(img.rows, dtype=np.uint8).reshape(
        img.height, img.width, img.channels
    )


def test_encode_png_round_trips_through_engine_decoder():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(13, 9, 3), dtype=np.uint8)
    arr = _decode_to_array(encode_png_rgb(img))
    assert arr.shape == (13, 9, 3)
    assert np.array_equal(arr, img)


def test_encode_png_validates_input():
    with pytest.raises(ValueError):
        encode_png_rgb(np.zeros((4, 4), dtype=np.uint8))
    with pytest.raises(ValueError):
        encode_png_rgb(np.zeros((4, 4, 3), dtype=np.float64))


def test_box_edges_shape():
    """12 lattice edges, each face cycle a subset of them."""
    assert len(BOX_EDGES) == 12
    edge_set = {frozenset(e) for e in BOX_EDGES}
    assert len(edge_set) == 12
    for face in (FRONT_FACE, TOP_FACE):
        for k in range(4):
            assert frozenset((face[k], face[(k + 1) % 4])) in edge_set


def test_draw_line_pins_pixels():
    img = blank_canvas(5, 5)
    draw_line(img, (0, 2), (4, 2), (255, 0, 0))
    assert all(tuple(img[2, x]) == (255, 0, 0) for x in range(5))
    assert tuple(img[1, 2]) == (255, 255, 255)
    # diagonal colors exactly the identity pixels
    img2 = blank_canvas(4, 4)
    draw_line(img2, (0, 0), (3, 3), (0, 0, 255))
    for i in range(4):
        assert tuple(img2[i, i]) == (0, 0, 255)
    assert tuple(img2[0, 3]) == (255, 255, 255)


def test_draw_line_clips_and_skips_nonfinite():
    img = blank_canvas(4, 4)
    draw_line(img, (-10, 1), (10, 1), (9, 9, 9))  # clipped, no crash
    assert all(tuple(img[1, x]) == (9, 9, 9) for x in range(4))
    before = img.copy()
    draw_line(img, (0, 0), (math.nan, 2), (1, 2, 3))  # skipped entirely
    assert np.array_equal(img, before)


def test_draw_rect_outline_only():
    img = blank_canvas(6, 6)
    draw_rect(img, 1, 1, 4, 4, (0, 128, 0))
    assert tuple(img[1, 2]) == (0, 128, 0)  # top edge
    assert tuple(img[3, 4]) == (0, 128, 0)  # right edge
    assert tuple(img[2, 2]) == (255, 255, 255)  # interior untouched


def test_wireframe_skips_null_vertices():
    img = blank_canvas(10, 10)
    kps = [[1.0, 1.0]] + [None] * 7  # only vertex 0 projectable
    before = img.copy()
    draw_wireframe(img, kps, (50, 50, 50))
    assert np.array_equal(img, before)  # every edge touches a null


def test_projection_column_matches_numpy(spark):
    """The render path's projection (pure columns over box_vertices)
    equals the numpy pinhole over the same rotated lattice."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.geometry import _CORNER_SIGNS
    from vlm_data_pipeline_spark.functions.graphics import _project_vertices_flat

    box = {
        "x": 0.4, "y": -0.2, "z": 3.0, "xl": 0.8, "yl": 0.6, "zl": 0.4,
        "pitch": 0.3, "yaw": -0.7, "roll": 0.1,
    }
    df = spark.createDataFrame(
        [(box["x"], box["y"], box["z"], box["xl"], box["yl"], box["zl"],
          box["pitch"], box["yaw"], box["roll"])],
        "x double, y double, z double, xl double, yl double, zl double,"
        "pitch double, yaw double, roll double",
    ).select(
        F.struct(*[F.col(c) for c in
                   ("x", "y", "z", "xl", "yl", "zl", "pitch", "yaw", "roll")]
                 ).alias("box"),
        F.struct(
            F.lit(500.0).alias("fx"), F.lit(500.0).alias("fy"),
            F.lit(320.0).alias("cx"), F.lit(240.0).alias("cy"),
        ).alias("camera"),
    )
    got = df.select(
        _project_vertices_flat(F.col("box"), F.col("camera")).alias("k")
    ).collect()[0]["k"]

    cp, sp = math.cos(box["pitch"]), math.sin(box["pitch"])
    cy_, sy = math.cos(box["yaw"]), math.sin(box["yaw"])
    cr, sr = math.cos(box["roll"]), math.sin(box["roll"])
    R = np.array(
        [
            [cr * cy_, cr * sy * sp - sr * cp, cr * sy * cp + sr * sp],
            [sr * cy_, sr * sy * sp + cr * cp, sr * sy * cp - cr * sp],
            [-sy, cy_ * sp, cy_ * cp],
        ]
    )
    half = np.array([box["xl"], box["yl"], box["zl"]]) / 2
    ctr = np.array([box["x"], box["y"], box["z"]])
    for i, signs in enumerate(_CORNER_SIGNS):
        v = ctr + R @ (np.array(signs) * half)
        u_exp = 500.0 * v[0] / v[2] + 320.0
        v_exp = 500.0 * v[1] / v[2] + 240.0
        assert got[2 * i] == pytest.approx(u_exp, abs=1e-9)
        assert got[2 * i + 1] == pytest.approx(v_exp, abs=1e-9)


def test_projection_nulls_behind_camera(spark):
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.functions.graphics import _project_vertices_flat

    df = spark.range(1).select(
        F.struct(
            F.lit(0.0).alias("x"), F.lit(0.0).alias("y"),
            F.lit(0.0).alias("z"),  # box centered AT the camera
            F.lit(1.0).alias("xl"), F.lit(1.0).alias("yl"),
            F.lit(1.0).alias("zl"),
            F.lit(0.0).alias("pitch"), F.lit(0.0).alias("yaw"),
            F.lit(0.0).alias("roll"),
        ).alias("box"),
        F.struct(
            F.lit(100.0).alias("fx"), F.lit(100.0).alias("fy"),
            F.lit(50.0).alias("cx"), F.lit(50.0).alias("cy"),
        ).alias("camera"),
    )
    kps = df.select(
        _project_vertices_flat(F.col("box"), F.col("camera")).alias("k")
    ).collect()[0]["k"]
    # z = ±0.5 corners: the four at z=-0.5 are NaN (z=+0.5 > z_min=0.1 stay)
    behind = [math.isnan(kps[2 * i]) and math.isnan(kps[2 * i + 1]) for i in range(8)]
    assert len(kps) == 16 and sum(behind) == 4
    assert all(math.isfinite(k) for i in range(8) if not behind[i] for k in kps[2 * i : 2 * i + 2])


def test_render_annotations_end_to_end(spark, sf_dir):
    """The debug sink over the synthetic corpus: bounded rows, stable
    schema, every PNG decodes and actually contains drawn pixels."""
    from vlm_data_pipeline_spark.sources.star_frames import synthetic_frames

    frames = synthetic_frames(spark, sf_dir)
    out = render_annotations(frames, max_frames=8, thickness=1)
    assert [f.name for f in out.schema.fields] == [
        "image_id", "width", "height", "n_boxes_3d", "n_boxes_2d", "png",
    ]
    rows = out.collect()
    assert 0 < len(rows) <= 8
    drawn = 0
    for r in rows:
        arr = _decode_to_array(bytes(r.png))
        assert arr.shape == (r.height, r.width, 3)
        assert r.n_boxes_3d >= 1  # every synthetic frame has boxes
        if (arr != 255).any():
            drawn += 1
    # some synthetic boxes project entirely off-canvas (clipped away);
    # across the sample at least one frame must show drawn pixels
    assert drawn >= 1


def test_render_annotations_over_real_pixels(spark):
    """With a pixels column the boxes rasterize over the decoded image,
    and the untouched corner pixel survives the round-trip."""
    from pyspark.sql import functions as F

    base = np.full((20, 30, 3), 7, dtype=np.uint8)
    png = encode_png_rgb(base)
    df = spark.createDataFrame(
        [("img0", bytearray(png))], "image_id string, pixels binary"
    ).select(
        "image_id",
        F.struct(
            F.lit(100.0).alias("fx"), F.lit(100.0).alias("fy"),
            F.lit(15.0).alias("cx"), F.lit(10.0).alias("cy"),
            F.lit(30).alias("image_width"), F.lit(20).alias("image_height"),
        ).alias("camera"),
        F.lit(None).cast(
            "array<struct<x:double,y:double,z:double,xl:double,yl:double,"
            "zl:double,pitch:double,yaw:double,roll:double>>"
        ).alias("bounding_boxes_3d"),
        F.array(
            F.struct(
                F.lit(5).alias("x_min"), F.lit(5).alias("y_min"),
                F.lit(12).alias("x_max"), F.lit(14).alias("y_max"),
            )
        ).alias("bounding_boxes_2d"),
        "pixels",
    )
    r = render_annotations(df, max_frames=4, thickness=1,
                           pixels_col="pixels").collect()[0]
    arr = _decode_to_array(bytes(r.png))
    assert arr.shape == (20, 30, 3)
    assert r.n_boxes_2d == 1 and r.n_boxes_3d == 0
    assert tuple(arr[0, 0]) == (7, 7, 7)  # background preserved
    assert tuple(arr[5, 5]) == PALETTE[0]  # rect corner drawn


def test_render_annotations_validates_and_limits(spark, sf_dir):
    from vlm_data_pipeline_spark.sources.star_frames import synthetic_frames

    with pytest.raises(ValueError, match="max_frames"):
        render_annotations(synthetic_frames(spark, sf_dir), max_frames=0)
    plan = (
        render_annotations(synthetic_frames(spark, sf_dir), max_frames=3)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "GlobalLimit 3" in plan or "limit=3" in plan.lower(), plan[:800]


def test_draw_line_fuzz_never_escapes_canvas():
    """Hypothesis-style fuzz over wild endpoints (huge, negative,
    fractional, inf/nan): the rasterizer must never crash, never touch
    a pixel outside the canvas, and color both endpoints when they are
    inside."""
    import random

    rng = random.Random(42)
    for _ in range(200):
        h, w = rng.randint(1, 24), rng.randint(1, 24)
        img = blank_canvas(h, w)
        ref = img.copy()

        def coord():
            kind = rng.random()
            if kind < 0.1:
                return float(rng.choice([math.inf, -math.inf, math.nan]))
            if kind < 0.4:
                return float(rng.randint(-1000, 1000))
            return rng.uniform(-50, 50)

        p0 = (coord(), coord())
        p1 = (coord(), coord())
        draw_line(img, p0, p1, (1, 2, 3), thickness=rng.randint(1, 3))
        # canvas bounds respected by construction (no index error);
        # every changed pixel got the stroke color
        changed = np.argwhere((img != ref).any(axis=2))
        for y, x in changed:
            assert tuple(img[y, x]) == (1, 2, 3)
        if all(np.isfinite(v) for v in (*p0, *p1)):
            for px, py in (p0, p1):
                xi, yi = int(round(px)), int(round(py))
                if 0 <= xi < w and 0 <= yi < h:
                    assert tuple(img[yi, xi]) == (1, 2, 3)


def test_render_over_bmp_and_jpeg_pixels(spark):
    """The renderer is codec-agnostic: BMP- and baseline-JPEG-backed
    frames rasterize the same as PNG-backed ones (shared _decode_pixels
    dispatch). JPEG is lossy, so its background asserts a tolerance
    band instead of exact bytes."""
    import numpy as np
    from pyspark.sql import functions as F

    from tests.test_bmp_codec import encode_bmp
    from tests.test_jpeg_codec import encode_jpeg

    rows = [[9] * (16 * 3) for _ in range(12)]  # 16x12 uniform gray-ish
    bmp = encode_bmp(rows)
    jpg = encode_jpeg(np.full((12, 16, 3), 9, dtype=np.uint8))
    df = spark.createDataFrame(
        [("b0", bytearray(bmp)), ("j0", bytearray(jpg))],
        "image_id string, pixels binary",
    ).select(
        "image_id",
        F.struct(
            F.lit(100.0).alias("fx"), F.lit(100.0).alias("fy"),
            F.lit(8.0).alias("cx"), F.lit(6.0).alias("cy"),
            F.lit(16).alias("image_width"), F.lit(12).alias("image_height"),
        ).alias("camera"),
        F.lit(None).cast(
            "array<struct<x:double,y:double,z:double,xl:double,yl:double,"
            "zl:double,pitch:double,yaw:double,roll:double>>"
        ).alias("bounding_boxes_3d"),
        F.array(
            F.struct(
                F.lit(2).alias("x_min"), F.lit(2).alias("y_min"),
                F.lit(10).alias("x_max"), F.lit(9).alias("y_max"),
            )
        ).alias("bounding_boxes_2d"),
        "pixels",
    )
    r = render_annotations(df, max_frames=2, thickness=1,
                           pixels_col="pixels").collect()[0]
    arr = _decode_to_array(bytes(r.png))
    assert arr.shape == (12, 16, 3)
    assert tuple(arr[0, 0]) == (9, 9, 9)   # BMP background preserved
    assert tuple(arr[2, 2]) == PALETTE[0]  # rect drawn over it


def test_draw_line_huge_offscreen_coords_bounded():
    """A near-plane vertex can project to |u| ~ 1e9; the segment must
    clip to the canvas BEFORE sampling (an unclipped DDA would allocate
    gigabytes). Completes instantly and colors only canvas pixels."""
    import time

    img = blank_canvas(20, 20)
    t0 = time.time()
    draw_line(img, (-1e9, 10.0), (1e9, 10.0), (1, 2, 3))
    draw_line(img, (5.0, -1e9), (5.0, 1e9), (1, 2, 3))
    draw_line(img, (-1e9, -1e9), (1e9, 1e9), (1, 2, 3))
    draw_line(img, (-1e9, -5e8), (1e9, 5e8), (1, 2, 3))  # off-canvas
    assert time.time() - t0 < 1.0
    assert all(tuple(img[10, x]) == (1, 2, 3) for x in range(20))
    assert all(tuple(img[y, 5]) == (1, 2, 3) for y in range(20))


def test_render_null_camera_dims_fall_back(spark):
    """Arrow surfaces null ints as NaN — the renderer must fall back to
    640x480, not crash on int(NaN)."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.lit("n0").alias("image_id"),
        F.struct(
            F.lit(100.0).alias("fx"), F.lit(100.0).alias("fy"),
            F.lit(50.0).alias("cx"), F.lit(50.0).alias("cy"),
            F.lit(None).cast("int").alias("image_width"),
            F.lit(None).cast("int").alias("image_height"),
        ).alias("camera"),
        F.lit(None).cast(
            "array<struct<x:double,y:double,z:double,xl:double,yl:double,"
            "zl:double,pitch:double,yaw:double,roll:double>>"
        ).alias("bounding_boxes_3d"),
        F.lit(None).cast(
            "array<struct<x_min:int,y_min:int,x_max:int,y_max:int>>"
        ).alias("bounding_boxes_2d"),
    )
    r = render_annotations(df, max_frames=1).collect()[0]
    assert (r.width, r.height) == (640, 480)
    assert _decode_to_array(bytes(r.png)).shape == (480, 640, 3)
