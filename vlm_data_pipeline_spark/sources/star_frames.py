"""Deterministic frames synthesizer over the driver star schema.

Maps the TPC-H-ish tables onto the canonical FRAME schema so the full QA
pipeline can be exercised (and benchmarked) at any scale factor: one frame
per order, one 3D box per lineitem (coords/dims derived from integer columns
→ reproducible anywhere), camera extrinsics on even order keys only (to
exercise the uses_extrinsics routing).

This is the scale surrogate for a real ingest: at sf0.1 it yields ~150K
frames / ~600K boxes — an order of magnitude beyond the reference corpus
(25,199 images / 86K boxes, README.md:15-17).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_IDENT4 = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 1.0, 0.0],
    [0.0, 0.0, 0.0, 1.0],
]


# The empty box column of each modality is a typed NULL of this type.
_BOX_COLUMN_TYPES = {
    "bounding_boxes_2d": (
        "array<struct<x_min:int,y_min:int,x_max:int,y_max:int,"
        "instance_id:int,area:int,category:string>>"
    ),
    "bounding_boxes_3d": (
        "array<struct<x:double,y:double,z:double,"
        "xl:double,yl:double,zl:double,"
        "pitch:double,yaw:double,roll:double,category:string,"
        "label_id:int,object_id:string,confidence:double,method:string>>"
    ),
}


def _order_frames(
    spark: SparkSession,
    sf_dir: str,
    box: Column,
    box_col: str,
    extrinsics: Column,
) -> DataFrame:
    """One FRAME row per order: ``box`` (an expression over lineitem⋈part)
    per line, collected in line-number order into ``box_col``; the other
    box column is NULL."""
    # Imported lazily: plans/__init__ imports the query modules, one of which
    # imports this module — a module-level import here would be circular.
    from ..plans.registry import load_tables

    t = load_tables(spark, sf_dir, "lineitem", "part")
    # part is SF-scaled (200K rows/SF) — no broadcast hint: estimates+AQE
    # broadcast it at test scales and shuffle at sf100 (VERDICT r10 #1).
    li = t["lineitem"].join(t["part"], F.col("l_partkey") == F.col("p_partkey"))

    per_line = li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        box.alias("box"),
    )
    frames = per_line.groupBy("l_orderkey").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("l_linenumber").alias("ln"), F.col("box")))
            ),
            lambda s: s["box"],
        ).alias(box_col)
    )

    camera = F.struct(
        F.lit(500.0).alias("fx"),
        F.lit(500.0).alias("fy"),
        F.lit(320.0).alias("cx"),
        F.lit(240.0).alias("cy"),
        F.lit(640).alias("image_width"),
        F.lit(480).alias("image_height"),
        F.lit(None).cast("array<array<double>>").alias("intrinsics"),
        extrinsics.alias("extrinsics"),
    )
    return frames.select(
        F.lit("synthetic").alias("dataset"),
        F.lit("train").alias("split"),
        F.format_string("ord_%d", F.col("l_orderkey")).alias("image_id"),
        F.lit(None).cast("string").alias("scene_id"),
        F.lit(None).cast("string").alias("video_id"),
        F.lit(None).cast("string").alias("frame_id"),
        F.lit(None).cast("long").alias("timestamp"),
        F.format_string("ord_%d.jpg", F.col("l_orderkey")).alias("filename"),
        F.format_string("rgb/ord_%d.jpg", F.col("l_orderkey")).alias("rgb_path"),
        F.lit(None).cast("string").alias("depth_path"),
        F.lit("none").alias("depth_type"),
        camera.alias("camera"),
        F.lit(None).cast(
            "struct<present:boolean,valid_pixels:int,total_pixels:int,"
            "min:double,max:double,median:double,mean:double>"
        ).alias("depth_stats"),
        *[
            c if c == box_col else F.lit(None).cast(t).alias(c)
            for c, t in _BOX_COLUMN_TYPES.items()
        ],
    )


def synthetic_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One frame per order, one 3D box per lineitem; identity extrinsics
    on even order keys only."""
    box = F.struct(
        (((F.col("l_partkey") % 21).cast("int") - 10) * 0.3).alias("x"),
        (((F.col("l_suppkey") % 13).cast("int") - 6) * 0.2).alias("y"),
        ((F.col("l_linenumber").cast("double")) * 1.0 + 0.5).alias("z"),
        (F.col("p_size") * 0.01 + 0.05).alias("xl"),
        (((F.col("l_partkey") % 5).cast("int") + 1) * 0.1).alias("yl"),
        (((F.col("l_partkey") % 3).cast("int") + 1) * 0.05).alias("zl"),
        F.lit(0.0).alias("pitch"),
        (((F.col("l_partkey") % 8).cast("int")).cast("double") * 0.25 - 1.0).alias("yaw"),
        F.lit(0.0).alias("roll"),
        F.split(F.col("p_name"), " ").getItem(1).alias("category"),
        F.lit(None).cast("int").alias("label_id"),
        F.lit(None).cast("string").alias("object_id"),
        F.lit(None).cast("double").alias("confidence"),
        F.lit(None).cast("string").alias("method"),
    )
    ident = F.array(*[F.array(*[F.lit(v) for v in row]) for row in _IDENT4])
    extrinsics = F.when(F.col("l_orderkey") % 2 == 0, ident)
    return _order_frames(spark, sf_dir, box, "bounding_boxes_3d", extrinsics)


def synthetic_frames_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D-modality twin of :func:`synthetic_frames`: one frame per order,
    one 2D box per lineitem (pixel rects from integer columns, area left
    NULL to exercise the computed-area path), NO 3D boxes — so the QA
    router (P1) sends these frames down the four 2D task generators.
    Integer-only box math keeps every derived quantity bit-identical
    across engines, which the 2D task VALUE oracles rely on."""
    box = F.struct(
        (F.col("l_partkey") % 500).cast("int").alias("x_min"),
        (F.col("l_suppkey") % 400).cast("int").alias("y_min"),
        (F.col("l_partkey") % 500 + 20 + F.col("l_partkey") % 100)
        .cast("int")
        .alias("x_max"),
        (F.col("l_suppkey") % 400 + 20 + (F.col("l_linenumber") * 7) % 60)
        .cast("int")
        .alias("y_max"),
        F.col("l_linenumber").cast("int").alias("instance_id"),
        F.lit(None).cast("int").alias("area"),
        F.split(F.col("p_name"), " ").getItem(1).alias("category"),
    )
    extrinsics = F.lit(None).cast("array<array<double>>")
    return _order_frames(spark, sf_dir, box, "bounding_boxes_2d", extrinsics)
