"""Synthetic frames fixture (FIXTURES.md): ≥3 datasets, frames with 0/1/2/4+
boxes, duplicate categories, null extrinsics, out-of-range distances,
axis-aligned boxes with analytic expected values."""

from __future__ import annotations

import hashlib
from typing import Any

from pyspark.sql import DataFrame

from vlm_data_pipeline_spark.schemas import FRAME

IDENT4 = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 1.0, 0.0],
    [0.0, 0.0, 0.0, 1.0],
]


def box3(x, y, z, xl=1.0, yl=1.0, zl=1.0, cat="chair", pitch=0.0, yaw=0.0, roll=0.0):
    return {
        "x": x, "y": y, "z": z, "xl": xl, "yl": yl, "zl": zl,
        "pitch": pitch, "yaw": yaw, "roll": roll, "category": cat,
        "label_id": None, "object_id": None, "confidence": None, "method": None,
    }


def box2(x_min, y_min, x_max, y_max, cat="chair", iid=1):
    return {
        "x_min": x_min, "y_min": y_min, "x_max": x_max, "y_max": y_max,
        "instance_id": iid, "area": (x_max - x_min) * (y_max - y_min),
        "category": cat,
    }


def frame(image_id, dataset="sunrgbd", b3=None, b2=None, extrinsics=IDENT4,
          scene_id=None, frame_id=None):
    return {
        "dataset": dataset, "split": "train", "image_id": image_id,
        "scene_id": scene_id, "video_id": None, "frame_id": frame_id,
        "timestamp": None, "filename": f"{image_id}.jpg",
        "rgb_path": f"rgb/{image_id}.jpg", "depth_path": None,
        "depth_type": "none",
        "camera": {
            "fx": 500.0, "fy": 500.0, "cx": 320.0, "cy": 240.0,
            "image_width": 640, "image_height": 480,
            "intrinsics": [[500.0, 0.0, 320.0], [0.0, 500.0, 240.0], [0.0, 0.0, 1.0]],
            "extrinsics": extrinsics,
        },
        "depth_stats": None,
        "bounding_boxes_2d": b2 or [],
        "bounding_boxes_3d": b3 or [],
    }


FIXTURE_FRAMES = [
    # f1: two unit cubes 3 m apart on x at z=2 → min vertex distance 2.0;
    # centers at distance sqrt(4)=2.0 and sqrt(9+4)≈3.606 from camera
    frame(
        "f1",
        b3=[box3(0.0, 0.0, 2.0, cat="chair"), box3(3.0, 0.0, 2.0, cat="table")],
    ),
    # f2: duplicate categories (3 chairs + 1 table); one oversized box (2.4m)
    frame(
        "f2",
        b3=[
            box3(0.0, 0.0, 1.0, cat="chair"),
            box3(1.0, 0.0, 1.0, cat="chair"),
            box3(-1.0, 0.0, 1.0, cat="chair"),
            box3(0.0, -1.0, 3.0, xl=2.4, yl=0.5, zl=0.5, cat="table"),
        ],
    ),
    # f3: empty frame (routing must drop it)
    frame("f3"),
    # f4: null extrinsics (extrinsics-dependent tasks must skip);
    # boxes too close (<0.2 m) and too far (>20 m) for obj_obj_distance
    frame(
        "f4",
        dataset="coco",
        extrinsics=None,
        b3=[
            box3(0.0, 0.0, 1.0, cat="person"),
            box3(1.05, 0.0, 1.0, cat="dog"),  # gap 0.05 < 0.2 → filtered
            box3(30.0, 0.0, 1.0, cat="kite"),  # far from person: 28.5 → ok vs 20? no: >20 → filtered
        ],
    ),
    # f5: class_N categories + 2D boxes (matterport-style)
    frame(
        "f5",
        dataset="matterport",
        scene_id="scene_a",
        frame_id="7",
        b3=[box3(0.0, 1.0, 2.0, cat="class_3"), box3(0.5, -0.5, 4.0, cat="class_999")],
        b2=[
            box2(0, 0, 20, 30, cat="class_3", iid=1),
            box2(100, 100, 102, 103, cat="tiny", iid=2),  # area 6 < 100 → filtered
            box2(10, 10, 40, 50, cat="chair", iid=3),
            box2(50, 50, 80, 90, cat="chair", iid=4),
        ],
    ),
    # f6: single-box frame
    frame("f6", b3=[box3(0.6, 0.8, 0.0, cat="lamp")]),  # center dist = 1.0
]


def fixture_frames(spark) -> DataFrame:
    return spark.createDataFrame(FIXTURE_FRAMES, schema=FRAME)


def fake_image_decoder(asset_id: str, payload: bytes) -> dict[str, Any]:
    """Deterministic image-decoder stand-in for the injectable decode seam:
    dims/luma derived from the payload digest, no image library."""
    h = hashlib.md5(payload or b"").digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "channels": 1 + h[2] % 4,
        "mean_luma": round(h[3] / 255.0, 6),
    }


def fake_audio_decoder(asset_id: str, payload: bytes) -> dict[str, Any]:
    """Deterministic audio-decoder stand-in: features from the payload
    digest, no decode."""
    h = hashlib.md5(payload or b"").digest()
    return {
        "sample_rate": 8000 * (1 + h[0] % 6),
        "n_channels": 1 + h[1] % 2,
        "n_frames": 1000 + h[2] * 64,
        "duration_s": round((1000 + h[2] * 64) / (8000 * (1 + h[0] % 6)), 6),
        "rms": round(h[3] / 512.0, 6),
        "peak": round(h[4] / 256.0, 6),
    }
