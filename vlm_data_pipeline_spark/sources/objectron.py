"""Objectron ingest adapter (SURVEY §2.1 S6, §2.3 P6, §2.7 O3).

The reference (data_processing/objectron_processor.py:40-304) parses
``.pbdata`` protobuf sequences (camera intrinsics 9-float, view matrix
16-float, per-object 2D/3D keypoints), strides every 10th frame, drops
objects with <9 3D keypoints and frames with no objects, and derives
video/category ids from the ``<category>/batch-<b>_<n>.pbdata`` layout.

Spark-first: ``binaryFile`` fans sequence files across executors; a parser
decodes each inside ``mapInPandas``. The DEFAULT parser is real: it reads
the protobuf wire format directly via ``sources.pbwire`` (no protobuf
package needed), and tests decode genuine wire-encoded Sequence bytes
end-to-end; a custom parser remains injectable. The frame stride
runs *inside* the parser so skipped frames are never materialized (the
reference's own optimization, objectron_processor.py:126-128); the keypoint
predicates are DataFrame filters after decode.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "PB_FRAME",
    "read_pbdata_frames",
    "objectron_filter",
    "parse_video_ids",
    "objectron_frames",
]

PB_FRAME = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("frame_index", T.IntegerType(), False),
        T.StructField("timestamp_us", T.LongType()),
        T.StructField("intrinsics", T.ArrayType(T.DoubleType())),  # 9 floats
        T.StructField("view_matrix", T.ArrayType(T.DoubleType())),  # 16 floats
        T.StructField(
            "objects",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("category", T.StringType()),
                        T.StructField(
                            "keypoints_3d", T.ArrayType(T.ArrayType(T.DoubleType()))
                        ),
                        T.StructField(
                            "keypoints_2d", T.ArrayType(T.ArrayType(T.DoubleType()))
                        ),
                        T.StructField("visibility", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def _default_pbdata_parser(
    path: str, content: bytes, stride: int
) -> list[dict[str, Any]]:
    """REAL default decoder — no protobuf package needed.

    ``sources.pbwire`` reads the protobuf wire format directly (it is a
    small public spec), using the field numbers from the published
    Objectron schema. Semantics mirror the reference's pb2-based walk
    (objectron_processor.py:40-104): one Sequence per file, per-frame
    camera intrinsics/view-matrix, per-object 2D/3D keypoints, category
    resolved through Sequence.objects[object_id], stride applied while
    iterating so skipped frames never materialize.
    """
    from .pbwire import parse_objectron_sequence

    seq = parse_objectron_sequence(content)
    by_id = {o["id"]: o["category"] for o in seq["objects"]}
    # positional fallback: proto3 omits id=0, so a single object with the
    # default id still resolves
    for idx, o in enumerate(seq["objects"]):
        by_id.setdefault(idx, o["category"])

    rows: list[dict[str, Any]] = []
    for i, fr in enumerate(seq["frames"]):
        if i % stride != 0:
            continue
        cam = fr["camera"] or {}
        rows.append(
            {
                "path": path,
                "frame_index": i,
                "timestamp_us": int(round(fr["timestamp"] * 1_000_000)),
                "intrinsics": cam.get("intrinsics"),
                "view_matrix": cam.get("view_matrix"),
                "objects": [
                    {
                        "category": by_id.get(a["object_id"]),
                        "keypoints_3d": a["keypoints_3d"],
                        "keypoints_2d": a["keypoints_2d"],
                        "visibility": float(a["visibility"]),
                    }
                    for a in fr["annotations"]
                ],
            }
        )
    return rows


def read_pbdata_frames(
    spark: SparkSession,
    pattern: str,
    stride: int = 10,
    parser: Callable[[str, bytes, int], list[dict[str, Any]]] | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """S6 + O3: distributed ``.pbdata`` decode with in-parser frame stride.

    One sequence file ≈ one video; files are the unit of parallelism. The
    stride is applied while iterating ``frame_annotations`` so skipped
    frames cost nothing (objectron_processor.py:126-128).
    ``on_error='skip'`` drops corrupt files instead of failing the job
    (sources.robust).
    SURVEY §2.1 S6, "Protobuf sequence scan".
    """
    from .robust import guard

    parse = guard(parser or _default_pbdata_parser, on_error)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PB_FRAME.fields]
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse(path, content, stride))
            yield pd.DataFrame(rows, columns=cols)

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pbdata")
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema=PB_FRAME)


def objectron_filter(frames: DataFrame) -> DataFrame:
    """P6: keep objects with ≥9 3D keypoints, then frames with ≥1 object
    (objectron_processor.py:84-94,163-164,209-210) — array filter + size
    predicate, no shuffle.
    SURVEY §2.3 P6, "keypoint-completeness predicate"."""
    return frames.withColumn(
        "objects",
        F.filter(
            F.coalesce(F.col("objects"), F.array()),
            lambda o: F.size(F.coalesce(o["keypoints_3d"], F.array())) >= 9,
        ),
    ).filter(F.size("objects") > 0)


def parse_video_ids(frames: DataFrame) -> DataFrame:
    """S10: derive category / video_id from the ``<category>/batch-B_N``
    path layout (objectron_processor.py:295-304) with one regexp each.
    SURVEY §2.1 S10, "Filesystem listing as a table"."""
    return frames.withColumns(
        {
            "category": F.regexp_extract(F.col("path"), r"([^/]+)/[^/]+\.pbdata$", 1),
            "video_id": F.regexp_extract(F.col("path"), r"([^/]+)\.pbdata$", 1),
        }
    )


def objectron_frames(parsed: DataFrame, split: str = "train") -> DataFrame:
    """Keypoints → canonical FRAME rows, all column math
    (objectron_processor.py:106-245).

    Per object: keypoint 0 is the box center in OpenGL convention —
    flipped to CV (+Y down, +Z forward) as (x, −y, −z); dimensions come
    from corner distances |kp2−kp1| (width), |kp5−kp1| (height),
    |kp3−kp1| (depth); rotation is identity (the reference passes an
    identity quaternion). Camera: 9-float intrinsics → fx/fy/cx/cy +
    3×3; 16-float row-major view matrix → 4×4 extrinsics. Frames without
    a valid box are dropped.

    Input is ``parse_video_ids(objectron_filter(read_pbdata_frames(...)))``.
    SURVEY §2.3 P8, "projection to unified record".
    """
    from ..schemas import FRAME

    def dist(ka: Column, kb: Column) -> Column:
        return F.sqrt(
            (ka[0] - kb[0]) ** 2 + (ka[1] - kb[1]) ** 2 + (ka[2] - kb[2]) ** 2
        )

    def box_of(o: Column) -> Column:
        kp = o["keypoints_3d"]
        return F.struct(
            kp[0][0].alias("x"),
            (-kp[0][1]).alias("y"),
            (-kp[0][2]).alias("z"),
            dist(kp[2], kp[1]).alias("xl"),
            dist(kp[5], kp[1]).alias("yl"),
            dist(kp[3], kp[1]).alias("zl"),
            F.lit(0.0).alias("pitch"),
            F.lit(0.0).alias("yaw"),
            F.lit(0.0).alias("roll"),
            o["category"].alias("category"),
            F.lit(None).cast("int").alias("label_id"),
            F.lit(None).cast("string").alias("object_id"),
            F.lit(None).cast("double").alias("confidence"),
            F.lit(None).cast("string").alias("method"),
        )

    boxes = F.transform(
        F.filter(
            F.coalesce(F.col("objects"), F.array()),
            lambda o: F.size(F.coalesce(o["keypoints_3d"], F.array())) >= 9,
        ),
        box_of,
    )
    intr = F.col("intrinsics")
    has_intr = intr.isNotNull() & (F.size(intr) >= 9)
    view = F.col("view_matrix")
    has_view = view.isNotNull() & (F.size(view) >= 16)
    mat3 = F.when(
        has_intr,
        F.array(*[F.slice(intr, 1 + r * 3, 3) for r in range(3)]),
    )
    mat4 = F.when(
        has_view,
        F.array(*[F.slice(view, 1 + r * 4, 4) for r in range(4)]),
    )
    camera = F.struct(
        F.when(has_intr, intr[0]).alias("fx"),
        F.when(has_intr, intr[4]).alias("fy"),
        F.when(has_intr, intr[2]).alias("cx"),
        F.when(has_intr, intr[5]).alias("cy"),
        F.lit(None).cast("int").alias("image_width"),
        F.lit(None).cast("int").alias("image_height"),
        mat3.alias("intrinsics"),
        mat4.alias("extrinsics"),
    )
    return (
        parsed.withColumn("bounding_boxes_3d", boxes)
        .filter(F.size("bounding_boxes_3d") > 0)
        .select(
            F.lit("objectron").alias("dataset"),
            F.lit(split).alias("split"),
            F.format_string(
                "%s_frame_%04d", F.col("video_id"), F.col("frame_index")
            ).alias("image_id"),
            F.lit(None).cast("string").alias("scene_id"),
            F.col("video_id"),
            F.col("frame_index").cast("string").alias("frame_id"),
            F.col("timestamp_us").alias("timestamp"),
            F.format_string("frame_%04d.jpg", F.col("frame_index")).alias("filename"),
            F.lit(None).cast("string").alias("rgb_path"),
            F.lit(None).cast("string").alias("depth_path"),
            F.lit("none").alias("depth_type"),
            camera.alias("camera"),
            F.lit(None).cast(FRAME["depth_stats"].dataType.simpleString()).alias(
                "depth_stats"
            ),
            F.lit(None).cast(
                FRAME["bounding_boxes_2d"].dataType.simpleString()
            ).alias("bounding_boxes_2d"),
            "bounding_boxes_3d",
        )
        .to(FRAME)
    )


# ---------------------------------------------------------------------------
# §2.11 tail: tf.Example / TFRecord ingestion (objectron/dataset/parser.py)
# ---------------------------------------------------------------------------

TF_EXAMPLE_FRAME = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("record_index", T.IntegerType(), False),
        T.StructField("image_id", T.LongType()),
        T.StructField("image_width", T.LongType()),
        T.StructField("image_height", T.LongType()),
        T.StructField("timestamp_us", T.LongType()),
        T.StructField("image_encoded", T.BinaryType()),
        T.StructField("visibility", T.ArrayType(T.DoubleType())),
        # per VISIBLE instance: 9 keypoints of (x, y) / (x, y, z)
        T.StructField(
            "instances_2d",
            T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))),
        ),
        T.StructField(
            "instances_3d",
            T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))),
        ),
        T.StructField("projection", T.ArrayType(T.ArrayType(T.DoubleType()))),
        T.StructField("view", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)

_VIS_THRESH = 0.1  # parser.py:20 self._vis_thresh


def _parse_tf_example_record(
    path: str, idx: int, record: bytes
) -> dict[str, Any]:
    """One serialized tf.Example → one frame row, mirroring the reference
    parser (objectron/dataset/parser.py:34-83): visibility threshold 0.1
    gates instances, point_2d reshapes (-1, 9, 3) keeping (x, y),
    point_3d reshapes (-1, 9, 3), camera/projection and camera/view
    reshape 4×4 row-major. The image stays as its ENCODED bytes (the
    reference's cv2 decode/resize/normalize is the multimodal decode
    stage — sources.multimodal — not the parser's concern here)."""
    from .pbwire import parse_tf_example

    fm = parse_tf_example(record)

    def scalar(name, default=None):
        v = fm.get(name) or []
        return v[0] if v else default

    vis = [float(v) for v in fm.get("visibility", [])]
    keep = [i for i, v in enumerate(vis) if v > _VIS_THRESH]

    def pts(name, dims):
        flat = fm.get(name) or []
        grouped = [
            [
                [float(flat[(i * 9 + p) * 3 + d]) for d in range(dims)]
                for p in range(9)
            ]
            for i in range(len(flat) // 27)
        ]
        return [grouped[i] for i in keep if i < len(grouped)] or None

    def mat4(name):
        flat = fm.get(name) or []
        if len(flat) != 16:
            return None
        return [[float(flat[r * 4 + c]) for c in range(4)] for r in range(4)]

    return {
        "path": path,
        "record_index": idx,
        "image_id": scalar("image/id"),
        "image_width": scalar("image/width"),
        "image_height": scalar("image/height"),
        "timestamp_us": scalar("image/timestamp"),
        "image_encoded": scalar("image/encoded"),
        "visibility": vis or None,
        "instances_2d": pts("point_2d", 2),
        "instances_3d": pts("point_3d", 3),
        "projection": mat4("camera/projection"),
        "view": mat4("camera/view"),
    }


def read_tf_example_frames(
    spark: SparkSession, pattern: str, on_error: str = "fail"
) -> DataFrame:
    """S6 sibling for the TFRecord release of Objectron: ``binaryFile``
    fans record files across executors; each file's records decode
    in-stage through the pure-Python wire reader (pbwire.iter_tfrecords +
    parse_tf_example). No tensorflow dependency anywhere.
    ``on_error='skip'`` drops corrupt FILES (whole record files, the
    TFRecord framing's failure unit) instead of failing the job.
    SURVEY, "tf.Example/TFRecord ingestion on pbwire" (§2.11 tail)."""
    from .pbwire import iter_tfrecords
    from .robust import guard

    def parse_file(path: str, content: bytes) -> list[dict[str, Any]]:
        return [
            _parse_tf_example_record(path, i, rec)
            for i, rec in enumerate(iter_tfrecords(content))
        ]

    parse = guard(parse_file, on_error)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in TF_EXAMPLE_FRAME.fields]
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse(path, content))
            yield pd.DataFrame(rows, columns=cols)

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tfrecord")
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema=TF_EXAMPLE_FRAME)
