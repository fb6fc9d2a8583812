"""COCO ingest adapter (SURVEY §2.1 S3, §2.4 J5, §2.10 M1).

The reference (data_processing/coco_processor.py:234-458) loads
``labels.json`` into Python dicts, hand-builds an ``image_id → annotations``
hash map, probes a ``category_id → name`` dict per annotation, and lifts 2D
boxes to 3D with a median-depth heuristic (coco_processor.py:121-232).

Spark-first: the three COCO collections (images / annotations / categories)
become three DataFrames off one multiLine JSON read; the hash-map probe is a
shuffle hash join on ``image_id`` with partial aggregation; the category
probe is a broadcast dim join; the depth lifting is pure column math over the
exploded annotation rows, so Catalyst fuses scan→join→lift→re-nest into one
whole-stage-codegen pipeline. At 100 TB the annotations join shuffles on
image_id (high-cardinality, well distributed) and categories stays broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import BBOX_2D, FRAME

__all__ = ["read_coco_tables", "coco_frames", "heuristic_lift_2d_to_3d"]


def read_coco_tables(spark: SparkSession, labels_path: str) -> dict[str, DataFrame]:
    """S3: one COCO ``labels.json`` → three logical tables.

    Mirrors coco_processor.py:234-259 (single json.load) as a multiLine read;
    with many label files (train/val/test shards) the same read distributes.
    """
    raw = spark.read.option("multiLine", "true").json(labels_path)
    return {
        "images": raw.select(F.explode("images").alias("im")).select("im.*"),
        "annotations": raw.select(F.explode("annotations").alias("an")).select("an.*"),
        "categories": raw.select(F.explode("categories").alias("c")).select("c.*"),
    }


def coco_frames(
    spark: SparkSession,
    labels_path: str,
    split: str = "validation",
    dataset: str = "coco",
) -> DataFrame:
    """J5 + P8: images ⋈ annotations ⋈ categories → canonical FRAME rows.

    - annotations ⋈ categories: broadcast dim join (cat_map probe,
      coco_processor.py:288-290); unknown ids → "unknown".
    - images ⋈ grouped annotations: left join so images without annotations
      keep an empty box list (img_to_anns.get(img_id, []),
      coco_processor.py:310).
    - COCO ``bbox = [x, y, w, h]`` floats → canonical corner-encoded BBOX_2D
      (the geometry.py:272-296 normalization, done once at ingest).
    - camera: no intrinsics in COCO (coco_processor.py:370-379); dimensions
      from the images table metadata when present.
    SURVEY §2.4 J5, "COCO images ⋈ annotations ⋈ categories".
    """
    t = read_coco_tables(spark, labels_path)
    anns = (
        t["annotations"]
        .join(
            F.broadcast(t["categories"].select(F.col("id").alias("category_id"), "name")),
            "category_id",
            "left",
        )
        .select(
            "image_id",
            F.struct(
                F.col("bbox")[0].cast("int").alias("x_min"),
                F.col("bbox")[1].cast("int").alias("y_min"),
                (F.col("bbox")[0] + F.col("bbox")[2]).cast("int").alias("x_max"),
                (F.col("bbox")[1] + F.col("bbox")[3]).cast("int").alias("y_max"),
                F.col("id").cast("int").alias("instance_id"),
                F.coalesce(F.col("area"), F.col("bbox")[2] * F.col("bbox")[3])
                .cast("int")
                .alias("area"),
                F.coalesce(F.col("name"), F.lit("unknown")).alias("category"),
            ).alias("box"),
        )
        .groupBy("image_id")
        .agg(F.collect_list("box").alias("bounding_boxes_2d"))
    )

    images = t["images"].select(
        F.col("id").alias("image_id"),
        F.col("file_name"),
        F.col("width").cast("int").alias("image_width"),
        F.col("height").cast("int").alias("image_height"),
    )

    joined = images.join(anns, "image_id", "left")
    camera = F.struct(
        F.lit(None).cast("double").alias("fx"),
        F.lit(None).cast("double").alias("fy"),
        F.lit(None).cast("double").alias("cx"),
        F.lit(None).cast("double").alias("cy"),
        F.col("image_width"),
        F.col("image_height"),
        F.lit(None).cast("array<array<double>>").alias("intrinsics"),
        F.lit(None).cast("array<array<double>>").alias("extrinsics"),
    )
    bbox2d_t = BBOX_2D.simpleString()
    frame = joined.select(
        F.lit(dataset).alias("dataset"),
        F.lit(split).alias("split"),
        F.format_string("%012d", F.col("image_id")).alias("image_id"),
        F.lit(None).cast("string").alias("scene_id"),
        F.lit(None).cast("string").alias("video_id"),
        F.lit(None).cast("string").alias("frame_id"),
        F.lit(None).cast("long").alias("timestamp"),
        F.col("file_name").alias("filename"),
        F.concat(F.lit("data/"), F.col("file_name")).alias("rgb_path"),
        F.lit(None).cast("string").alias("depth_path"),
        F.lit("none").alias("depth_type"),
        camera.alias("camera"),
        F.lit(None).cast(FRAME["depth_stats"].dataType.simpleString()).alias("depth_stats"),
        F.coalesce(F.col("bounding_boxes_2d"), F.lit(None).cast(f"array<{bbox2d_t}>"))
        .alias("bounding_boxes_2d"),
        F.lit(None)
        .cast(FRAME["bounding_boxes_3d"].dataType.simpleString())
        .alias("bounding_boxes_3d"),
    )
    return frame.to(FRAME)


def heuristic_lift_2d_to_3d(frames: DataFrame) -> DataFrame:
    """M1 tail: median-depth 2D→3D lifting as pure column math.

    Reproduces coco_processor.py:121-232 exactly, minus the per-ROI depth
    sampling (which needs the dense depth map): the frame-level
    ``depth_stats`` median/σ stand in for the ROI median/σ — the same
    substitution the reference makes when MoGe is disabled. Everything else
    is the published formula set:

    - heuristic intrinsics fx = 0.7·W, fy = 0.7·H, principal point at center
    - center unprojection (u−cx)·d/fx, box extent from corner unprojection
    - depth extent = max(0.8·min(w3d,h3d), 2σ)
    - validity predicates: median ∈ [0.5, 50], all dims ≥ 0.05 m
    - rotation zero, confidence 0.7, method "depth_projection"

    Pure `transform`+`filter` over the 2D box array: no UDF, stays in
    whole-stage codegen, and the lift runs where the data lives. Frames with
    no surviving 3D box are dropped (coco_processor.py:355-357).
    """
    d = F.col("depth_stats.median")
    sigma = (F.col("depth_stats.max") - F.col("depth_stats.min")) / 4.0
    fx = F.col("camera.image_width").cast("double") * 0.7
    fy = F.col("camera.image_height").cast("double") * 0.7
    cx = F.col("camera.image_width").cast("double") / 2.0
    cy = F.col("camera.image_height").cast("double") / 2.0

    def lift(b):
        xc = (b["x_min"] + b["x_max"]) / F.lit(2.0)
        yc = (b["y_min"] + b["y_max"]) / F.lit(2.0)
        w3d = F.abs((b["x_max"] - b["x_min"]) * d / fx)
        h3d = F.abs((b["y_max"] - b["y_min"]) * d / fy)
        z3d = F.greatest(F.least(w3d, h3d) * 0.8, sigma * 2.0)
        return F.struct(
            ((xc - cx) * d / fx).alias("x"),
            ((yc - cy) * d / fy).alias("y"),
            d.alias("z"),
            w3d.alias("xl"),
            h3d.alias("yl"),
            z3d.alias("zl"),
            F.lit(0.0).alias("pitch"),
            F.lit(0.0).alias("yaw"),
            F.lit(0.0).alias("roll"),
            b["category"].alias("category"),
            F.lit(None).cast("int").alias("label_id"),
            b["instance_id"].cast("string").alias("object_id"),
            F.lit(0.7).alias("confidence"),
            F.lit("depth_projection").alias("method"),
        )

    valid_depth = d.isNotNull() & (d >= 0.5) & (d <= 50.0)
    lifted = F.when(
        valid_depth,
        F.filter(
            F.transform(F.coalesce(F.col("bounding_boxes_2d"), F.array()), lift),
            lambda v: (v["xl"] >= 0.05) & (v["yl"] >= 0.05) & (v["zl"] >= 0.05),
        ),
    ).otherwise(F.array().cast(FRAME["bounding_boxes_3d"].dataType.simpleString()))

    return (
        frames.withColumn("bounding_boxes_3d", lifted)
        .withColumn("depth_type", F.when(valid_depth, F.lit("pseudo")).otherwise(F.col("depth_type")))
        .filter(F.size("bounding_boxes_3d") > 0)
    )
