"""The obj_obj pair-distance kernel (`_box_pair_distances`, a per-frame
`mapInArrow` numpy stage) against a plain-Python reference over the same
JVM-computed vertex doubles: same pairs, same categories, bit-equal
distances — exact doubles, not approximate.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vlm_data_pipeline_spark.qa.tasks3d import (
    _box_pair_distances,
    _capped_boxes,
    _slim_verts_payload,
)
from vlm_data_pipeline_spark.schemas import BBOX_3D, CAMERA

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("dataset", T.StringType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("scene_id", T.StringType()),
        T.StructField("frame_id", T.StringType()),
        T.StructField("camera", CAMERA),
        T.StructField("bounding_boxes_3d", T.ArrayType(BBOX_3D)),
    ]
)


def _rand_box(rng, category="c"):
    geom = dict(
        zip(
            ["x", "y", "z", "xl", "yl", "zl", "pitch", "yaw", "roll"],
            [
                float(rng.uniform(-5, 5)),
                float(rng.uniform(-5, 5)),
                float(rng.uniform(0.5, 8)),
                float(rng.uniform(0.1, 3)),
                float(rng.uniform(0.1, 3)),
                float(rng.uniform(0.1, 3)),
                float(rng.uniform(-1.5, 1.5)),
                float(rng.uniform(-3.1, 3.1)),
                float(rng.uniform(-1.5, 1.5)),
            ],
        )
    )
    return geom | {
        "category": category,
        "label_id": None,
        "object_id": None,
        "confidence": None,
        "method": None,
    }


def _frames(spark, rng, counts):
    rows = []
    for i, n in enumerate(counts):
        rows.append(
            {
                "dataset": "t",
                "image_id": f"img_{i}",
                "scene_id": f"s{i}" if i % 3 else None,
                "frame_id": f"f{i}" if i % 2 else None,
                "camera": None,
                "bounding_boxes_3d": (
                    None
                    if n is None
                    else [_rand_box(rng, f"cat{j % 4}") for j in range(n)]
                ),
            }
        )
    return spark.createDataFrame(rows, FRAME_SCHEMA)


def _ref_pair_distance(va, vb):
    """sqrt of the min over the 64 squared vertex-pair distances of two
    flat 24-double vertex lists; terms touching a NULL coordinate are
    skipped, and a pair with no finite term is NULL."""
    terms = []
    for i in range(8):
        for j in range(8):
            a, b = va[3 * i : 3 * i + 3], vb[3 * j : 3 * j + 3]
            if None in a or None in b:
                continue
            dx, dy, dz = a[0] - b[0], a[1] - b[1], a[2] - b[2]
            terms.append(dx * dx + dy * dy + dz * dz)
    return math.sqrt(min(terms)) if terms else None


def _reference(frames, max_boxes=None):
    """Plain-Python pair enumeration (i < j over capped array positions)
    and distances over the JVM-computed flat vertices."""
    payload = frames.select(
        "dataset",
        "image_id",
        "scene_id",
        "frame_id",
        _slim_verts_payload(
            _capped_boxes(F.col("bounding_boxes_3d"), max_boxes)
        ).alias("bv"),
    ).collect()
    rows = []
    for r in payload:
        bv = r.bv or []
        for i in range(len(bv)):
            for j in range(i + 1, len(bv)):
                a, b = bv[i], bv[j]
                rows.append(
                    (
                        r.dataset,
                        r.image_id,
                        r.scene_id,
                        r.frame_id,
                        a.idx,
                        b.idx,
                        a.cat,
                        b.cat,
                        _ref_pair_distance(a.verts, b.verts),
                    )
                )
    return sorted(rows)


def _rowset(df):
    return sorted(
        (
            r.dataset,
            r.image_id,
            r.scene_id,
            r.frame_id,
            r.pos_a,
            r.pos_b,
            r.cat_a,
            r.cat_b,
            r.dist_m,
        )
        for r in df.collect()
    )


def test_pairdist_arrow_bit_parity(spark):
    """The Arrow kernel's rows equal the reference rows EXACTLY for mixed
    frame sizes (0, 1, 2, 3, 7, 23 boxes, one NULL array), and for one
    partition of 50-, 3- and 47-box frames: one Arrow batch of 2,309
    pairs, which crosses two 1,024-pair chunk boundaries."""
    rng = np.random.default_rng(4242)
    frames = _frames(spark, rng, [0, 1, 2, 3, 7, 23, None, 5, 2])
    ref = _reference(frames)
    new = _rowset(_box_pair_distances(frames))
    assert len(ref) == (1 + 3 + 21 + 253 + 10 + 1)
    assert new == ref

    frames = _frames(spark, rng, [50, 3, 47]).coalesce(1)
    ref = _reference(frames)
    new = _rowset(_box_pair_distances(frames))
    assert len(ref) == (1225 + 3 + 1081)
    assert new == ref


def test_pairdist_arrow_bit_parity_capped(spark):
    """max_boxes engages the volume cap before pairing: the kernel keeps
    the capped survivors and their original positions."""
    rng = np.random.default_rng(777)
    frames = _frames(spark, rng, [6, 2, 9])
    ref = _reference(frames, max_boxes=4)
    new = _rowset(_box_pair_distances(frames, max_boxes=4))
    assert len(ref) == (6 + 1 + 6)
    assert new == ref


def test_pairdist_analytic_unit_cubes(spark):
    """Two axis-aligned unit cubes 3 m apart on x → nearest faces 2 m."""
    a = _rand_box(np.random.default_rng(0), "a") | dict(
        x=0.0, y=0.0, z=2.0, xl=1.0, yl=1.0, zl=1.0, pitch=0.0, yaw=0.0,
        roll=0.0,
    )
    b = a | {"category": "b", "x": 3.0}
    frames = spark.createDataFrame(
        [
            {
                "dataset": "t",
                "image_id": "img_0",
                "scene_id": None,
                "frame_id": None,
                "camera": None,
                "bounding_boxes_3d": [a, b],
            }
        ],
        FRAME_SCHEMA,
    )
    (row,) = _box_pair_distances(frames).collect()
    assert (row.pos_a, row.pos_b) == (0, 1)
    assert abs(row.dist_m - 2.0) < 1e-12


def test_pairdist_arrow_null_verts_vanish_in_task(spark):
    """A box with a NULL angle nulls all its vertices: every kernel row
    touching it has dist_m NULL (not NaN), and obj_obj_distance keeps
    exactly the one valid pair."""
    from vlm_data_pipeline_spark.qa import tasks3d

    rng = np.random.default_rng(5)
    good_a, good_b = _rand_box(rng, "a"), _rand_box(rng, "b")
    # keep the good pair inside the 0.2-20 m band deterministically
    good_a.update(x=0.0, y=0.0, z=2.0)
    good_b.update(x=3.0, y=0.0, z=2.0)
    bad = _rand_box(rng, "broken") | {"pitch": None}
    rows = [
        {
            "dataset": "t",
            "image_id": "img_0",
            "scene_id": "s",
            "frame_id": "f",
            "camera": None,
            "bounding_boxes_3d": [good_a, bad, good_b],
        }
    ]
    frames = spark.createDataFrame(rows, FRAME_SCHEMA)

    raw = {
        (r.pos_a, r.pos_b): r.dist_m
        for r in _box_pair_distances(frames).collect()
    }
    assert set(raw) == {(0, 1), (0, 2), (1, 2)}
    assert raw[(0, 1)] is None and raw[(1, 2)] is None, raw
    assert raw[(0, 2)] is not None and math.isfinite(raw[(0, 2)])

    out = tasks3d.obj_obj_distance(frames).collect()
    assert len(out) == 1
    assert "the a and the b" in out[0].question


def test_pairdist_arrow_partial_null_term_skip():
    """np.fmin.reduce skips NaN terms exactly as least() skips NULLs:
    with one vertex poisoned, the min comes from the remaining finite
    terms in both formulations."""
    rng = np.random.default_rng(11)
    va = rng.uniform(-2, 2, (8, 3))
    vb = rng.uniform(3, 6, (8, 3))
    d = va[:, None, :] - vb[None, :, :]
    sq = (d * d).sum(axis=2)
    expect = float(np.sqrt(sq.min()))
    va_bad = va.copy()
    va_bad[sq.min(axis=1).argmin(), :] = np.nan
    d2 = va_bad[:, None, :] - vb[None, :, :]
    sq2 = (d2 * d2).sum(axis=2).reshape(1, 64)
    got = float(np.sqrt(np.fmin.reduce(sq2, axis=1))[0])
    finite = sq.copy()
    finite[sq.min(axis=1).argmin(), :] = np.inf
    assert got == float(np.sqrt(finite.min()))
    assert got >= expect
