"""Hypersim ingest adapter (SURVEY §2.1 S4/S5, §2.4 J4/J9, §2.3 P5).

The reference (data_processing/hypersim_processor.py) reads scene metadata
CSVs, h5py tensors for camera keyframes / box geometry / depth, picks the
nearest camera keyframe per frame, converts asset units to meters, and joins
mask-visible instance ids against mesh-box and node-name tables.

Spark-first:
- CSV metadata (S4) → header'd csv reads; the key/value scene-parameter
  lookup (``meters_per_asset_unit``) is a filtered scan, broadcastable.
- HDF5 (S5) has no native Spark source: ``binaryFile`` rows fan the *.hdf5
  files across executors and a parser decodes each inside ``mapInPandas``.
  The DEFAULT parser is real — h5py when installed, else the pure-Python
  ``sources.hdf5lite`` subset reader (public file-format spec; covers the
  simple array files the reference ingests); custom parsers stay
  injectable.
- Nearest-keyframe camera lookup (J9) is an as-of join: candidates within
  no window constraint ranked by |keyframe − frame| with exact-match
  preference (hypersim_processor.py:71-80) → join + row_number.
- Visible-instance enrichment (J4): explode mask-distinct ids → two
  broadcast equi-joins (mesh boxes, node names).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "read_metadata_csv",
    "scene_parameter",
    "read_hdf5_datasets",
    "nearest_keyframe_pose",
    "visible_instance_names",
]


def read_metadata_csv(spark: SparkSession, path: str) -> DataFrame:
    """S4: header'd CSV scan (metadata_cameras/nodes/scene.csv,
    hypersim_processor.py:24-34,96-119,388-397)."""
    return spark.read.option("header", "true").option("inferSchema", "true").csv(path)


def scene_parameter(
    spark: SparkSession, scene_csv_path: str, name: str, default: float | None = None
) -> DataFrame:
    """S4 key/value probe: ``parameter_name → parameter_value`` lookup as a
    one-row DataFrame (join-able, broadcastable) instead of a driver-side
    scalar — e.g. ``meters_per_asset_unit`` (hypersim_processor.py:388-397).
    SURVEY §2.1 S4, "CSV metadata scan".
    """
    df = (
        read_metadata_csv(spark, scene_csv_path)
        .filter(F.trim(F.col("parameter_name")) == name)
        .select(F.col("parameter_value").cast("double").alias(name))
    )
    if default is not None:
        df = df.union(
            df.sparkSession.range(1).select(F.lit(float(default)).alias(name))
        ).limit(1)
    return df


HDF5_RECORD = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("dataset", T.StringType(), False),
        T.StructField("shape", T.ArrayType(T.IntegerType())),
        T.StructField("values", T.ArrayType(T.DoubleType())),
    ]
)


def _default_hdf5_parser(path: str, content: bytes, keys: list[str]) -> list[dict[str, Any]]:
    """REAL default decoder — no h5py needed.

    Prefers h5py when it IS installed (full format coverage); otherwise
    ``sources.hdf5lite`` reads the v0-superblock subset libhdf5 writes for
    the reference's simple array files (hypersim_processor.py:55-89)
    directly from the public file-format spec. Same output either way:
    one row per present key, float64-flattened with an explicit shape.
    """
    import numpy as np

    try:
        import io

        import h5py

        arrays = {}
        with h5py.File(io.BytesIO(content), "r") as f:
            for key in keys:
                if key in f:
                    arrays[key] = np.asarray(f[key], dtype="float64")
    except ImportError:
        from .hdf5lite import read_datasets

        arrays = {
            k: v.astype("float64") for k, v in read_datasets(content, keys).items()
        }

    return [
        {
            "path": path,
            "dataset": key,
            "shape": [int(s) for s in arr.shape],
            "values": arr.ravel().tolist(),
        }
        for key, arr in arrays.items()
    ]


def read_hdf5_datasets(
    spark: SparkSession,
    pattern: str,
    keys: list[str],
    parser: Callable[[str, bytes, list[str]], list[dict[str, Any]]] | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """S5: ``binaryFile`` scan + mapInPandas decode → one row per (file,
    dataset key), tensors flattened with an explicit shape column.

    Each executor decodes only the files in its split (Arrow-batched); the
    flattened layout keeps downstream math in native array functions.
    ``on_error='skip'`` drops corrupt files instead of failing the job
    (sources.robust).
    SURVEY §2.1 S5, "HDF5 dataset scan".
    """
    from .robust import guard

    parse = guard(parser or _default_hdf5_parser, on_error)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse(path, content, keys))
            yield pd.DataFrame(
                rows, columns=["path", "dataset", "shape", "values"]
            )

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.hdf5")
        .option("recursiveFileLookup", "true")
        .load(pattern)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema=HDF5_RECORD)


def nearest_keyframe_pose(
    frames: DataFrame,
    keyframes: DataFrame,
    frame_col: str = "frame_id",
    key_col: str = "keyframe_id",
    by: list[str] | None = None,
) -> DataFrame:
    """J9: as-of/nearest join — for each frame, the keyframe minimizing
    ``|keyframe − frame|`` with exact matches preferred
    (hypersim_processor.py:71-80).

    Implemented as an equi-join on the scene keys + a ranking window, with
    ties broken toward the exact/earlier keyframe so the result is
    deterministic. The scene key keeps the join partitioned; keyframe sets
    are per-scene small (camera trajectories), so AQE typically broadcasts.
    SURVEY §2.4 J9, "Nearest-keyframe lookup (as-of-style)".
    """
    by = by or ["scene_id"]
    joined = frames.join(keyframes, by, "left")
    dist = F.abs(F.col(key_col).cast("long") - F.col(frame_col).cast("long"))
    w = Window.partitionBy(*by, frame_col).orderBy(
        dist.asc(), F.col(key_col).cast("long").asc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def visible_instance_names(
    visible: DataFrame,
    mesh_boxes: DataFrame,
    nodes: DataFrame,
    instance_col: str = "instance_id",
) -> DataFrame:
    """J4: mask-visible instance ids ⋈ mesh-box table ⋈ node names
    (hypersim_processor.py:252-284,402-403) — two broadcast equi-joins.
    SURVEY §2.4 J4, "visible-instances ⋈ bbox-metadata ⋈ node-metadata".
    """
    return visible.join(F.broadcast(mesh_boxes), instance_col, "left").join(
        F.broadcast(nodes), instance_col, "left"
    )
