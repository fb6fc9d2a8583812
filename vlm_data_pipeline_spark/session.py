"""SparkSession factory with scale-conscious defaults.

Local testing runs on ``local[N]`` (one JVM); the configuration is chosen so
the same logical plans survive a multi-executor cluster at 100 TB. Only
settings that differ from Spark's own defaults are set:

- shuffle partitions sized to cores locally (override per deployment
  through ``extra_conf``)
- Arrow enabled for every pandas-UDF boundary
- session timezone pinned to UTC so results are oracle-comparable

AQE, its partition coalescing and skew-join splitting, and the 128 MiB
file-split size are Spark's defaults and are inherited, not set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _worker_pythonpath() -> str:
    """PYTHONPATH for Python workers: the directory holding this package,
    then any inherited PYTHONPATH. Workers unpickle the engine's kernels by
    module reference, so they must import the package whatever directory
    the driver was started from."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inherited = os.environ.get("PYTHONPATH", "")
    return os.pathsep.join(p for p in (parent, inherited) if p)


def get_spark(
    app_name: str = "vlm_data_pipeline_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession on ``local[cpus]``.

    Shuffle partitions default to the core count: on local mode more
    partitions than cores only adds task-scheduling overhead. A cluster
    deployment overrides ``spark.sql.shuffle.partitions`` (or any other
    setting) through ``extra_conf``.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Spark's 1 MiB floor coalesces a small but CPU-heavy shuffle output
        # (the ~16 MB frames relation at sf0.1) to 16 partitions, idling half
        # of local[32] (10-task QA pass 10.2s; ~6.5s at 256 KiB). At cluster
        # scale partitions >> cores and this floor never binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # refuses by default; read as long and convert at the source wrapper
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
