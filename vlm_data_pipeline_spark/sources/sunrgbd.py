"""SUN RGB-D ingest adapter (SURVEY §2.1 S9/S10, §2.6 W5, §2.3 P7).

The reference (data_processing/sunrgbd_processor.py:20-140) walks scene
directories, reads a one-line whitespace intrinsics file, picks the
lexicographically-last extrinsics timestamp file, pads 3×4 → 4×4, and parses
``annotation3Dfinal/index.json`` polygons (4 X/Z corners + Ymin/Ymax) into
axis-aligned 3D boxes with ``:modifier`` category cleanup.

Spark-first: every per-scene file family is one distributed read keyed by a
``scene_id`` extracted from the file path (S10 "filesystem listing as a
table"); last-file selection is a max-by window, 3×4 padding is an array
append, and the polygon→box math is closed-form column expressions. Scenes
then assemble via two broadcast-or-shuffle equi-joins on scene_id — at scale
each file family is independently splittable and the joins co-partition on
the same key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import FRAME

__all__ = [
    "read_intrinsics",
    "read_extrinsics",
    "read_annotations",
    "sunrgbd_frames",
]

_FLOATS = r"[-+0-9.eE\s]+"


def _scene_from_path(depth: int = 1) -> Column:
    """S10: scene_id = path component `depth` levels above the file."""
    parts = F.split(F.input_file_name(), "/")
    return F.element_at(parts, -1 - depth)


def read_intrinsics(spark: SparkSession, pattern: str, scene_depth: int = 1) -> DataFrame:
    """S9: ``intrinsics.txt`` scan → (scene_id, fx, fy, cx, cy).

    Format ``fx 0 cx 0 fy cy 0 0 1`` on one line, optional ``%`` comment
    tail (sunrgbd_processor.py:20-35). One text read over every scene's
    file; the parse is split/element_at column math.
    """
    vals = F.split(F.trim(F.split(F.col("value"), "%")[0]), r"\s+")
    return (
        spark.read.text(pattern)
        .filter(F.trim("value") != "")
        .select(
            _scene_from_path(scene_depth).alias("scene_id"),
            vals[0].cast("double").alias("fx"),
            vals[4].cast("double").alias("fy"),
            vals[2].cast("double").alias("cx"),
            vals[5].cast("double").alias("cy"),
        )
    )


def read_extrinsics(spark: SparkSession, pattern: str, scene_depth: int = 2) -> DataFrame:
    """S9 + W5: extrinsics dir scan → (scene_id, extrinsics 4×4).

    Per scene, many ``<timestamp>.txt`` files exist; the reference keeps the
    lexicographically last (sunrgbd_processor.py:49-57). Spark: wholetext
    read (one row per file) → ``max_by(matrix, file_name)`` per scene — one
    partial-aggregated shuffle instead of a per-scene directory listing.
    3×4 matrices are padded with [0,0,0,1] (sunrgbd_processor.py:63-71).
    """
    rows_col = F.transform(
        F.filter(F.split(F.col("value"), "\n"), lambda ln: F.trim(ln) != ""),
        lambda ln: F.transform(
            F.filter(F.split(F.trim(ln), r"\s+"), lambda x: x != ""),
            lambda x: x.cast("double"),
        ),
    )
    padded = F.when(
        F.size(F.col("matrix")) == 3,
        F.concat(F.col("matrix"), F.array(F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0)))),
    ).otherwise(F.col("matrix"))
    return (
        spark.read.text(pattern, wholetext=True)
        .select(
            _scene_from_path(scene_depth).alias("scene_id"),
            F.input_file_name().alias("file_name"),
            rows_col.alias("matrix"),
        )
        .filter((F.size("matrix") == 3) | (F.size("matrix") == 4))
        .groupBy("scene_id")
        .agg(F.max_by(F.col("matrix"), F.col("file_name")).alias("matrix"))
        .select("scene_id", padded.alias("extrinsics"))
    )


_POLYGON = T.StructType(
    [
        T.StructField("X", T.ArrayType(T.DoubleType())),
        T.StructField("Z", T.ArrayType(T.DoubleType())),
        T.StructField("Ymin", T.DoubleType()),
        T.StructField("Ymax", T.DoubleType()),
        T.StructField("rectangle", T.BooleanType()),
    ]
)
ANNOTATION_SCHEMA = T.StructType(
    [
        T.StructField(
            "objects",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("polygon", T.ArrayType(_POLYGON)),
                    ]
                )
            ),
        )
    ]
)


def read_annotations(spark: SparkSession, pattern: str, scene_depth: int = 2) -> DataFrame:
    """S1 variant: ``annotation3Dfinal/index.json`` scan → per-scene 3D boxes.

    Polygon→box (sunrgbd_processor.py:87-119): rectangle-flagged polygons
    with 4 X/Z corners become axis-aligned boxes — center = corner mean,
    dims = corner extents, Y from the min/max pair, rotation zero; category
    modifiers after ``:`` stripped (P7, sunrgbd_processor.py:117-120).
    All of it is transform/filter column math over the parsed JSON.
    """
    def box_of(o: Column) -> Column:
        p = o["polygon"][0]
        mean4 = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / 4.0  # noqa: E731
        return F.struct(
            mean4(p["X"]).alias("x"),
            ((p["Ymin"] + p["Ymax"]) / 2.0).alias("y"),
            mean4(p["Z"]).alias("z"),
            (F.array_max(p["X"]) - F.array_min(p["X"])).alias("xl"),
            F.abs(p["Ymax"] - p["Ymin"]).alias("yl"),
            (F.array_max(p["Z"]) - F.array_min(p["Z"])).alias("zl"),
            F.lit(0.0).alias("pitch"),
            F.lit(0.0).alias("yaw"),
            F.lit(0.0).alias("roll"),
            F.split(F.coalesce(o["name"], F.lit("unknown")), ":")[0].alias("category"),
            F.lit(None).cast("int").alias("label_id"),
            F.lit(None).cast("string").alias("object_id"),
            F.lit(None).cast("double").alias("confidence"),
            F.lit(None).cast("string").alias("method"),
        )

    keep = (
        lambda o: o.isNotNull()
        & (F.size(F.coalesce(o["polygon"], F.array())) > 0)
        & F.coalesce(o["polygon"][0]["rectangle"], F.lit(False))
        & (F.size(F.coalesce(o["polygon"][0]["X"], F.array())) == 4)
        & (F.size(F.coalesce(o["polygon"][0]["Z"], F.array())) == 4)
    )
    return (
        spark.read.schema(ANNOTATION_SCHEMA)
        .option("multiLine", "true")
        .json(pattern)
        .select(
            _scene_from_path(scene_depth).alias("scene_id"),
            F.transform(
                F.filter(F.coalesce(F.col("objects"), F.array()), keep), box_of
            ).alias("bounding_boxes_3d"),
        )
    )


def sunrgbd_frames(
    spark: SparkSession,
    intrinsics_pattern: str,
    extrinsics_pattern: str,
    annotation_pattern: str,
    dataset: str = "sunrgbd",
    split: str = "train",
    sensor_type: str = "kv1",
    image_width: int = 640,
    image_height: int = 480,
) -> DataFrame:
    """Assemble canonical FRAME rows: intrinsics ⋈ extrinsics ⋈ annotations.

    One frame per scene (the reference processes one image per scene dir,
    sunrgbd_processor.py:225-246). Left joins: scenes may lack extrinsics
    or annotations — camera.extrinsics / boxes stay null.
    SURVEY §2.3 P8, "projection to unified record".
    """
    intr = read_intrinsics(spark, intrinsics_pattern)
    extr = read_extrinsics(spark, extrinsics_pattern)
    anns = read_annotations(spark, annotation_pattern)

    joined = intr.join(extr, "scene_id", "left").join(anns, "scene_id", "left")
    camera = F.struct(
        F.col("fx"),
        F.col("fy"),
        F.col("cx"),
        F.col("cy"),
        F.lit(image_width).alias("image_width"),
        F.lit(image_height).alias("image_height"),
        F.array(
            F.array(F.col("fx"), F.lit(0.0), F.col("cx")),
            F.array(F.lit(0.0), F.col("fy"), F.col("cy")),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0)),
        ).alias("intrinsics"),
        F.col("extrinsics"),
    )
    return joined.select(
        F.lit(dataset).alias("dataset"),
        F.lit(split).alias("split"),
        F.concat_ws("_", F.lit(sensor_type), F.col("scene_id")).alias("image_id"),
        F.col("scene_id"),
        F.lit(None).cast("string").alias("video_id"),
        F.lit(None).cast("string").alias("frame_id"),
        F.lit(None).cast("long").alias("timestamp"),
        F.lit(None).cast("string").alias("filename"),
        F.lit(None).cast("string").alias("rgb_path"),
        F.lit(None).cast("string").alias("depth_path"),
        F.lit("sensor").alias("depth_type"),
        camera.alias("camera"),
        F.lit(None).cast(FRAME["depth_stats"].dataType.simpleString()).alias("depth_stats"),
        F.lit(None).cast(FRAME["bounding_boxes_2d"].dataType.simpleString()).alias("bounding_boxes_2d"),
        F.col("bounding_boxes_3d"),
    ).to(FRAME)
