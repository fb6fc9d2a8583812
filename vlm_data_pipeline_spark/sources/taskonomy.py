"""Taskonomy ingest adapter (SURVEY §2.1 S8/S10, §2.4 J10, §2.9 F7).

The reference (data_processing/taskonomy_processor.py) walks
``point_<P>_view_<V>_*`` files, decodes 16-bit depth PNGs and instance/
semantic masks with PIL/cv2, unprojects depth to a point cloud, takes the
AABB of each instance's pixels, and assigns each instance the modal
semantic class of its mask pixels (``bincount.argmax``).

Spark-first:
- File listing as a table (S10): ``binaryFile`` scan + one regexp pulls
  (point, view, modality) out of each filename — no driver-side globbing.
- Pixel decode (S8/F7) is a ``mapInPandas`` stage emitting a *relational*
  pixel-derived table (instance_id, sem_class, pixel counts, bbox). The
  DEFAULT parser is real: ``sources.png_codec`` decodes the PNG with
  stdlib zlib (no PIL/cv2) and reduces per-instance stats in-stage; a
  custom parser remains injectable for other formats.
- The modal-class assignment (J10) is pure DataFrame: groupBy + max_by
  with deterministic tie-break — partial aggregation makes it one shuffle
  however many billions of pixels feed it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "list_view_files",
    "INSTANCE_PIXELS",
    "read_instance_pixels",
    "dominant_semantic_class",
    "pixel_aabb_boxes",
    "DEPTH_BOX",
    "read_view_contents",
    "instance_depth_boxes",
]


def list_view_files(spark: SparkSession, pattern: str, glob: str = "*.png") -> DataFrame:
    """S10: directory tree → (path, point_id, view_id, modality) table.

    Filename convention ``point_<P>_view_<V>_domain_<modality>.png``
    (taskonomy_processor.py:424-447). Listing distributes with the
    binaryFile source; only metadata columns are selected so file contents
    are not read until a decode stage asks for them.
    SURVEY §2.1 S10, "Filesystem listing as a table".
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "length")
    )
    return files.select(
        "path",
        "length",
        F.regexp_extract(F.col("path"), r"point_(\d+)_view_(\d+)", 1)
        .cast("int")
        .alias("point_id"),
        F.regexp_extract(F.col("path"), r"point_(\d+)_view_(\d+)", 2)
        .cast("int")
        .alias("view_id"),
        F.regexp_extract(F.col("path"), r"domain_([a-z0-9_]+)\.", 1).alias("modality"),
    )


INSTANCE_PIXELS = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("instance_id", T.IntegerType(), False),
        T.StructField("sem_class", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("x_min", T.IntegerType()),
        T.StructField("y_min", T.IntegerType()),
        T.StructField("x_max", T.IntegerType()),
        T.StructField("y_max", T.IntegerType()),
    ]
)


def _default_mask_parser(path: str, content: bytes) -> list[dict[str, Any]]:
    """REAL default decoder — no PIL/cv2 needed.

    ``sources.png_codec`` decodes the PNG (public spec, stdlib zlib) and
    this body does the reference's per-instance reduction
    (taskonomy_processor.py:300-330) in-stage: first channel value = mask
    id (instance masks are 8-bit gray; RGB masks use the first channel;
    palette masks use the RAW palette index, matching the reference's cv2
    IMREAD_GRAYSCALE read — palette RGB entries that collide must not
    merge distinct instances), background 0 skipped, per-id pixel count +
    pixel AABB. ``sem_class`` is left NULL here — pairing instance with
    semantic masks is the relational join downstream
    (dominant_semantic_class).
    """
    from .png_codec import decode_png

    img = decode_png(content, apply_palette=False)
    stats: dict[int, list[int]] = {}  # id -> [count, x0, y0, x1, y1]
    c = img.channels
    for y, row in enumerate(img.rows):
        for x in range(img.width):
            v = row[x * c]
            if v == 0:
                continue
            s = stats.get(v)
            if s is None:
                stats[v] = [1, x, y, x, y]
            else:
                s[0] += 1
                if x < s[1]:
                    s[1] = x
                elif x > s[3]:
                    s[3] = x
                if y > s[4]:
                    s[4] = y
    return [
        {
            "path": path,
            "instance_id": int(v),
            "sem_class": None,
            "n_pixels": s[0],
            "x_min": s[1],
            "y_min": s[2],
            "x_max": s[3],
            "y_max": s[4],
        }
        for v, s in sorted(stats.items())
    ]


def read_instance_pixels(
    spark: SparkSession,
    pattern: str,
    parser: Callable[[str, bytes], list[dict[str, Any]]] | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """S8/F7: mask files → per-(instance, semantic-class) pixel summaries.

    The parser contract asks the decode stage to pre-reduce each mask to
    (instance_id, sem_class) → (count, pixel AABB) *inside* the UDF — the
    map-side combine the reference does with np.bincount
    (taskonomy_processor.py:307-329) — so executors ship kilobytes, not
    megapixel masks, into the shuffle. ``on_error='skip'`` drops corrupt
    files instead of failing the job (sources.robust).
    SURVEY §2.1 S8, "Image scan (RGB/JPG/PNG)".
    """
    from .robust import guard

    parse = guard(parser or _default_mask_parser, on_error)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in INSTANCE_PIXELS.fields]
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse(path, content))
            yield pd.DataFrame(rows, columns=cols)

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema=INSTANCE_PIXELS)


def dominant_semantic_class(pixels: DataFrame) -> DataFrame:
    """J10: per instance, the modal semantic class
    (``bincount.argmax``, taskonomy_processor.py:307-324).

    groupBy + max_by(struct) — ties break toward the smaller class id so
    results are deterministic (np.argmax's first-wins, same outcome).
    SURVEY §2.4 J10, "Instance ⋈ dominant-semantic-class".
    """
    per_class = pixels.groupBy("path", "instance_id", "sem_class").agg(
        F.sum("n_pixels").alias("n_pixels")
    )
    return per_class.groupBy("path", "instance_id").agg(
        F.max_by(
            F.col("sem_class"),
            F.struct(
                F.col("n_pixels").alias("n"),
                (-F.col("sem_class")).alias("neg_class"),
            ),
        ).alias("sem_class"),
        F.sum("n_pixels").alias("n_pixels"),
    )


def pixel_aabb_boxes(pixels: DataFrame, min_side: int = 5, min_area: int = 100) -> DataFrame:
    """F7 tail: instance AABB over all its pixel tiles + the reference's 2D
    validity predicates (box > 5×5 px, area ≥ 100 px²,
    taskonomy_processor.py:334-353). SURVEY §2.9 F7, "pixel geometry"."""
    agg = pixels.groupBy("path", "instance_id").agg(
        F.min("x_min").alias("x_min"),
        F.min("y_min").alias("y_min"),
        F.max("x_max").alias("x_max"),
        F.max("y_max").alias("y_max"),
        F.sum("n_pixels").alias("area_px"),
    )
    return agg.filter(
        (F.col("x_max") - F.col("x_min") > min_side)
        & (F.col("y_max") - F.col("y_min") > min_side)
        & (F.col("area_px") >= min_area)
    )


# ---------------------------------------------------------------------------
# F7 tail: depth unprojection → per-instance 3D boxes
# (taskonomy_processor.py:148-213, compute_3d_bbox_from_instance_mask)
# ---------------------------------------------------------------------------

DEPTH_BOX = T.StructType(
    [
        T.StructField("point_id", T.IntegerType()),
        T.StructField("view_id", T.IntegerType()),
        T.StructField("instance_id", T.IntegerType(), False),
        T.StructField("n_points", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("y", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
        T.StructField("xl", T.DoubleType()),
        T.StructField("yl", T.DoubleType()),
        T.StructField("zl", T.DoubleType()),
    ]
)


def read_view_contents(spark: SparkSession, pattern: str, glob: str) -> DataFrame:
    """(point_id, view_id, content) rows for one modality's files.
    SURVEY §2.1 S8, "Image scan (RGB/JPG/PNG)"."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "content")
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"point_(\d+)_view_(\d+)", 1)
        .cast("int")
        .alias("point_id"),
        F.regexp_extract(F.col("path"), r"point_(\d+)_view_(\d+)", 2)
        .cast("int")
        .alias("view_id"),
        "content",
    )


def instance_depth_boxes(
    instance_files: DataFrame,
    depth_files: DataFrame,
    fx: float,
    fy: float,
    cx: float,
    cy: float,
    depth_scale: float = 1.0 / 1000.0,
    min_points: int = 10,
    min_dim: float = 0.05,
    max_dim: float = 50.0,
) -> DataFrame:
    """Per-instance axis-aligned 3D boxes from paired instance + depth PNGs
    (taskonomy_processor.py:148-213): pair the two modalities with a
    relational equi-join on (point, view), then one REAL decode stage
    (sources.png_codec — 8-bit instance ids, 16-bit depth) unprojects each
    instance's valid-depth pixels ((u−cx)·d/fx, (v−cy)·d/fy, d) and reduces
    min/max per axis IN-STAGE, so only (center, dims) rows — never point
    clouds — enter the shuffle. The reference's validity gates are kept:
    depth ∈ (0, 100), ≥ 10 points, dims ∈ [0.05, 50].
    SURVEY §2.9 F7, "pixel geometry".
    """
    import numpy as np

    from .png_codec import decode_png

    paired = instance_files.select(
        "point_id", "view_id", F.col("content").alias("inst_png")
    ).join(
        depth_files.select(
            "point_id", "view_id", F.col("content").alias("depth_png")
        ),
        ["point_id", "view_id"],
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in DEPTH_BOX.fields]
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for pid, vid, ib, db in zip(
                pdf["point_id"], pdf["view_id"], pdf["inst_png"], pdf["depth_png"]
            ):
                inst_img = decode_png(bytes(ib))
                depth_img = decode_png(bytes(db))
                inst = np.asarray(inst_img.rows, dtype=np.int64)[
                    :, :: inst_img.channels
                ] if inst_img.channels > 1 else np.asarray(
                    inst_img.rows, dtype=np.int64
                )
                depth = np.asarray(depth_img.rows, dtype=np.float64) * depth_scale
                if inst.shape != depth.shape:
                    continue
                h, w = inst.shape
                vs, us = np.mgrid[0:h, 0:w]
                for iid in np.unique(inst):
                    if iid == 0:
                        continue
                    sel = inst == iid
                    d = depth[sel]
                    valid = (d > 0) & (d < 100)
                    if int(valid.sum()) < min_points:
                        continue
                    d = d[valid]
                    u = us[sel][valid]
                    v = vs[sel][valid]
                    X = (u - cx) * d / fx
                    Y = (v - cy) * d / fy
                    dims = [
                        float(X.max() - X.min()),
                        float(Y.max() - Y.min()),
                        float(d.max() - d.min()),
                    ]
                    if any(s < min_dim or s > max_dim for s in dims):
                        continue
                    rows.append(
                        {
                            "point_id": int(pid),
                            "view_id": int(vid),
                            "instance_id": int(iid),
                            "n_points": int(len(d)),
                            "x": float((X.min() + X.max()) / 2),
                            "y": float((Y.min() + Y.max()) / 2),
                            "z": float((d.min() + d.max()) / 2),
                            "xl": dims[0],
                            "yl": dims[1],
                            "zl": dims[2],
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return paired.mapInPandas(run, schema=DEPTH_BOX)
