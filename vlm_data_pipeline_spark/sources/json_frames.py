"""Unified-record JSON source/sink adapters (SURVEY §2.1 S1/S10, §2.2 K1-K3).

The reference globs ``**/*.json``, drops ``summary.json``, loads everything
into a Python list (data_loader.py:18-53) and writes one pretty-printed file
per image (utils.py:181-185). Spark-first: schema'd recursive read with the
file path as a column, lazy row cap, partitioned write — the directory
layout (dataset=/split=) doubles as partition pruning at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FRAME


def read_frames(
    spark: SparkSession,
    path: str,
    limit: int | None = None,
) -> DataFrame:
    """S1: recursive JSON-directory scan with the canonical FRAME schema.

    - explicit schema → no inference pass, column pruning works
    - ``_source_file`` via input_file_name() (data_loader.py:49 tag)
    - summary.json exclusion as a pushed filter (P2, data_loader.py:33-34)
    - head-N via limit (O2, data_loader.py:36-38) — lazy, not a full load

    The reference's unified-JSON frame loader, SURVEY §2.1 S1.
    """
    df = (
        spark.read.schema(FRAME)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .json(path)
        .withColumn("_source_file", F.input_file_name())
        .filter(~F.input_file_name().endswith("summary.json"))
    )
    if limit is not None:
        df = df.limit(limit)
    return df


def write_frames(frames: DataFrame, path: str) -> None:
    """K1: snapshot write partitioned by (dataset, split).

    The reference writes one JSON file per image inside dataset/split dirs;
    at scale one-file-per-record is a small-files catastrophe — we keep the
    same logical layout (dataset=/split= directories) with Spark-sized
    files inside. Parquet is the bronze default; .json(path) drop-in works
    where downstream tooling needs raw JSON."""
    frames.write.mode("overwrite").partitionBy("dataset", "split").parquet(path)


def dataset_summary(frames: DataFrame) -> DataFrame:
    """K2: per-(dataset, split) totals + grand rollup
    (sunrgbd_processor.py:326-337 and friends)."""
    return (
        frames.rollup("dataset", "split")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum(F.size(F.coalesce(F.col("bounding_boxes_3d"), F.array()))).alias(
                "n_boxes_3d"
            ),
            F.sum(F.size(F.coalesce(F.col("bounding_boxes_2d"), F.array()))).alias(
                "n_boxes_2d"
            ),
            F.countDistinct("scene_id").alias("n_scenes"),
        )
        .select(
            F.coalesce(F.col("dataset"), F.lit("ALL")).alias("dataset"),
            F.coalesce(F.col("split"), F.lit("ALL")).alias("split"),
            "n_frames",
            "n_boxes_3d",
            "n_boxes_2d",
            "n_scenes",
        )
    )


def parameter_audit(frames: DataFrame) -> DataFrame:
    """A10: the check_dataset_parameters.py:97-172 audit as one aggregation
    pass — per-dataset completeness counters for camera/intrinsics/
    extrinsics/2D/3D fields."""
    has = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return frames.groupBy("dataset").agg(
        F.count("*").alias("n_files"),
        has(F.col("camera").isNotNull()).alias("with_camera"),
        has(F.col("camera.intrinsics").isNotNull()).alias("with_intrinsics"),
        has(F.col("camera.extrinsics").isNotNull()).alias("with_extrinsics"),
        has(F.size(F.coalesce(F.col("bounding_boxes_2d"), F.array())) > 0).alias(
            "with_bbox_2d"
        ),
        has(F.size(F.coalesce(F.col("bounding_boxes_3d"), F.array())) > 0).alias(
            "with_bbox_3d"
        ),
        has(F.col("depth_stats.present")).alias("with_depth"),
    )
