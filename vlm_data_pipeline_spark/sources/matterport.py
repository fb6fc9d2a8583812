"""Matterport / EmbodiedScan ingest adapter (SURVEY §2.1 S7, §2.4 J1-J3).

The reference (data_processing/matterport_processor.py:43-249) loads the
EmbodiedScan pickle into nested dicts, inverts the category map, builds a
``scene → frame → [box]`` hash of visible instances, and probes it per image
while walking color-image directories, normalizing each box to 9-DoF.

Spark-first: the pickle is a *metadata* file (a dimension, not the fact
table) — it is decoded once into three relational DataFrames (categories /
instances / frame index), after which every reference hash-probe becomes a
join Catalyst can plan:

- J2 visible-instance semi-join: explode ``visible_instance_ids`` ⋈
  instances on (scene_id, bbox_id)
- J3 label dimension: broadcast join on label_id with ``class_<id>``
  fallback (matterport_processor.py:206-209)
- J1 frames ⋈ boxes: left join so frames with no correction keep an empty
  box list (matterport_processor.py:190-211)

For 100 TB-scale deployments the decoded tables are written to Parquet once
(``embodiedscan_to_parquet``) so subsequent runs never touch pickle.
"""

from __future__ import annotations

import pickle
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import normalize_angle_deg
from ..schemas import FRAME

__all__ = [
    "read_embodiedscan",
    "embodiedscan_to_parquet",
    "embodiedscan_boxes",
    "matterport_frames",
]

CATEGORY_SCHEMA = T.StructType(
    [
        T.StructField("label_id", T.IntegerType(), False),
        T.StructField("category", T.StringType(), False),
    ]
)
INSTANCE_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType(), False),
        T.StructField("bbox_id", T.IntegerType(), False),
        T.StructField("bbox_3d", T.ArrayType(T.DoubleType()), False),
        T.StructField("label_id", T.IntegerType()),
    ]
)
FRAME_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("scene_id", T.StringType(), False),
        T.StructField("frame_id", T.StringType(), False),
        T.StructField("img_path", T.StringType()),
        T.StructField("visible_instance_ids", T.ArrayType(T.IntegerType())),
    ]
)


def read_embodiedscan(
    spark: SparkSession, pkl_paths: list[str] | str, scene_prefix: str = "matterport3d/"
) -> dict[str, DataFrame]:
    """S7: EmbodiedScan info pickle(s) → (categories, instances, frames) DFs.

    Decoding happens driver-side with stdlib pickle — the file is a bounded
    metadata artifact (matterport_processor.py:56-62), equivalent to reading
    a config; everything downstream is distributed. ``metainfo.categories``
    is stored name→id and inverted here (matterport_processor.py:66-70);
    ``sample_idx`` filtering keeps only the requested scene family
    (matterport_processor.py:75-85); 9-element ``bbox_3d`` vectors are kept
    raw (normalization happens in :func:`embodiedscan_boxes`).
    """
    if isinstance(pkl_paths, str):
        pkl_paths = [pkl_paths]
    cats: dict[int, str] = {}
    instances: list[tuple[Any, ...]] = []
    frame_index: list[tuple[Any, ...]] = []
    for p in pkl_paths:
        path = Path(p)
        if not path.exists():
            continue
        with open(path, "rb") as f:
            data = pickle.load(f)
        meta = data.get("metainfo", {})
        for name, lid in meta.get("categories", {}).items():
            cats.setdefault(int(lid), str(name))
        for item in data.get("data_list", []):
            sample_idx = item.get("sample_idx", "")
            if not sample_idx.startswith(scene_prefix):
                continue
            parts = sample_idx.split("/")
            if len(parts) < 2:
                continue
            scene_id = parts[1]
            for inst in item.get("instances", []):
                bbox = inst.get("bbox_3d", [])
                if len(bbox) == 9:
                    instances.append(
                        (
                            scene_id,
                            int(inst.get("bbox_id", -1)),
                            [float(v) for v in bbox],
                            int(inst.get("bbox_label_3d", -1)),
                        )
                    )
            for img in item.get("images", []):
                img_path = img.get("img_path", "")
                if not img_path:
                    continue
                frame_index.append(
                    (
                        scene_id,
                        Path(img_path).stem,
                        img_path,
                        [int(v) for v in img.get("visible_instance_ids", [])],
                    )
                )
    return {
        "categories": spark.createDataFrame(
            sorted(cats.items()), schema=CATEGORY_SCHEMA
        ),
        "instances": spark.createDataFrame(instances, schema=INSTANCE_SCHEMA),
        "frames": spark.createDataFrame(frame_index, schema=FRAME_INDEX_SCHEMA),
    }


def embodiedscan_to_parquet(
    spark: SparkSession, pkl_paths: list[str] | str, out_dir: str
) -> None:
    """One-time pickle → Parquet conversion (the scale path: never re-parse).
    SURVEY §2.1 S7, "Pickle scan (EmbodiedScan)"."""
    tables = read_embodiedscan(spark, pkl_paths)
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")


def embodiedscan_boxes(tables: dict[str, DataFrame]) -> DataFrame:
    """J2 + J3: per-(scene, frame) visible 9-DoF boxes.

    - explode visible_instance_ids → inner join instances on
      (scene_id, bbox_id): the reference's dict probe, as a semi-join that
      drops ids with no 9-element bbox (matterport_processor.py:115-120)
    - broadcast label dim with class_<id> fallback
    - bbox_3d = [cx,cy,cz,dx,dy,dz,rx,ry,rz]; rotation values are passed
      through the same [-1,1] normalization the reference applies
      (utils.py:28-43 via convert_bbox_to_9dof rotation_format="euler")
    """
    frames = tables["frames"]
    inst = tables["instances"]
    cats = tables["categories"]

    visible = frames.select(
        "scene_id", "frame_id", F.explode("visible_instance_ids").alias("bbox_id")
    )
    joined = (
        visible.join(inst, ["scene_id", "bbox_id"], "inner")
        .join(F.broadcast(cats), "label_id", "left")
        .withColumn(
            "category",
            F.coalesce(F.col("category"), F.format_string("class_%d", F.col("label_id"))),
        )
    )
    b = F.col("bbox_3d")
    box = F.struct(
        b[0].alias("x"),
        b[1].alias("y"),
        b[2].alias("z"),
        b[3].alias("xl"),
        b[4].alias("yl"),
        b[5].alias("zl"),
        normalize_angle_deg(b[6]).alias("pitch"),
        normalize_angle_deg(b[7]).alias("yaw"),
        normalize_angle_deg(b[8]).alias("roll"),
        F.col("category").alias("category"),
        F.col("label_id").alias("label_id"),
        F.col("bbox_id").cast("string").alias("object_id"),
        F.lit(None).cast("double").alias("confidence"),
        F.lit(None).cast("string").alias("method"),
    )
    return (
        joined.select("scene_id", "frame_id", box.alias("box"))
        .groupBy("scene_id", "frame_id")
        .agg(F.collect_list("box").alias("bounding_boxes_3d"))
    )


def matterport_frames(
    spark: SparkSession,
    pkl_paths: list[str] | str,
    pose_pattern: str | None = None,
    dataset: str = "matterport",
    split: str = "train",
) -> DataFrame:
    """J1 + P8: frame index ⋈ boxes (⋈ poses) → canonical FRAME rows.

    Default Matterport intrinsics fx=fy=1000, c=(640,512), 1280×1024
    (matterport_processor.py:183-189, 216-221). Pose files (4×4 matrices,
    ``{base}_pose_{view}_{num}.txt`` named; matterport_processor.py:171-181)
    join by remapping the frame id's ``_i`` infix — done with one regexp on
    the file path instead of per-frame filesystem probes.
    SURVEY §2.4 J1, "Frames ⋈ EmbodiedScan boxes".
    """
    tables = read_embodiedscan(spark, pkl_paths)
    boxes = embodiedscan_boxes(tables)
    frames = tables["frames"].join(boxes, ["scene_id", "frame_id"], "left")

    if pose_pattern is not None:
        rows_col = F.transform(
            F.filter(F.split(F.col("value"), "\n"), lambda ln: F.trim(ln) != ""),
            lambda ln: F.transform(
                F.filter(F.split(F.trim(ln), r"\s+"), lambda x: x != ""),
                lambda x: x.cast("double"),
            ),
        )
        poses = (
            spark.read.text(pose_pattern, wholetext=True)
            .select(
                F.regexp_replace(
                    F.regexp_extract(F.input_file_name(), r"([^/]+)\.txt$", 1),
                    "_pose_",
                    "_i",
                ).alias("frame_id"),
                rows_col.alias("extrinsics"),
            )
            .filter(F.size("extrinsics") == 4)
        )
        frames = frames.join(poses, "frame_id", "left")
    else:
        frames = frames.withColumn(
            "extrinsics", F.lit(None).cast("array<array<double>>")
        )

    camera = F.struct(
        F.lit(1000.0).alias("fx"),
        F.lit(1000.0).alias("fy"),
        F.lit(640.0).alias("cx"),
        F.lit(512.0).alias("cy"),
        F.lit(1280).alias("image_width"),
        F.lit(1024).alias("image_height"),
        F.array(
            F.array(F.lit(1000.0), F.lit(0.0), F.lit(640.0)),
            F.array(F.lit(0.0), F.lit(1000.0), F.lit(512.0)),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(1.0)),
        ).alias("intrinsics"),
        F.col("extrinsics"),
    )
    return frames.select(
        F.lit(dataset).alias("dataset"),
        F.lit(split).alias("split"),
        F.concat_ws("_", F.col("scene_id"), F.col("frame_id")).alias("image_id"),
        F.col("scene_id"),
        F.lit(None).cast("string").alias("video_id"),
        F.col("frame_id"),
        F.lit(None).cast("long").alias("timestamp"),
        F.concat(F.col("frame_id"), F.lit(".jpg")).alias("filename"),
        F.col("img_path").alias("rgb_path"),
        F.lit(None).cast("string").alias("depth_path"),
        F.lit("none").alias("depth_type"),
        camera.alias("camera"),
        F.lit(None).cast(FRAME["depth_stats"].dataType.simpleString()).alias("depth_stats"),
        F.lit(None).cast(FRAME["bounding_boxes_2d"].dataType.simpleString()).alias("bounding_boxes_2d"),
        F.col("bounding_boxes_3d"),
    ).to(FRAME)
