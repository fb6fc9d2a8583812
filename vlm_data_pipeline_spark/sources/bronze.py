"""Bucketed bronze tables — the co-located-join storage layout for scale.

The reference has no storage engine (per-image JSON files); our bronze layer
is partitioned parquet (sources/json_frames.write_frames). This module adds
the 100 TB refinement for the joins that dominate a large pipeline: tables
that are repeatedly joined or aggregated on the same key (frames ⋈ instances
on image_id, fact ⋈ fact on orderkey) are written **bucketed** on that key,
so every subsequent equi-join and groupBy on it is shuffle-free — Spark
reads both sides already co-partitioned and the exchange disappears from the
plan (asserted in tests/test_bronze_bucketing.py).

Bucketing beats runtime repartitioning because it persists ACROSS jobs: the
shuffle is paid once at write time, then every consumer skips it. Bucket
count is a layout contract — pick ~(total size / 128 MB) at the target
scale and keep both sides of a co-located join on the SAME count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["write_bucketed", "read_table"]


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) catalog table.

    Sorting within buckets additionally removes the sort from sort-merge
    operators over the same key (the layout pre-pays it).
    SURVEY §7.1 step 1, "Parquet bronze", laid out bucketed.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back (bucket metadata comes from the catalog;
    a plain parquet path read would lose it)."""
    return spark.table(table)
