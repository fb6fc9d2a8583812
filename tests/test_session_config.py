"""Pin the session configuration `get_spark` ships.

The default session carries NO JVM flag overrides: the
``-XX:-DontCompileHugeMethods`` flag once used to JIT a 64-term generated
kernel taxed every query sharing the JVM about 2x (OPTIMIZATION_r14.md §1).
These tests pin its absence, Spark's default codegen ceiling, the
AQE and file-split settings the session inherits from Spark, the absence
of allocator overrides in the executor env, and the Python worker path
that lets workers import the engine from any cwd.
"""

from __future__ import annotations

import os

import vlm_data_pipeline_spark


def test_no_jvm_flag_overrides_by_default(spark):
    """No -XX overrides ride the driver/executor JVMs."""
    for role in ("driver", "executor"):
        try:
            opts = spark.conf.get(f"spark.{role}.extraJavaOptions")
        except Exception:
            opts = ""  # unset = exactly what we want
        assert "-XX:-DontCompileHugeMethods" not in (opts or ""), (role, opts)


def test_live_driver_jvm_has_no_huge_method_flag(spark):
    """The live driver JVM really launched without the flag (it is a
    launch-time option; this reads the JVM's input arguments)."""
    args = (
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    live = {args.get(i) for i in range(args.size())}
    assert "-XX:-DontCompileHugeMethods" not in live


def test_huge_method_limit_default_is_spark_default(spark):
    """The WSCG bytecode ceiling stays at Spark's default: the
    per-operator-fallback alternative measured 2x slower steady-state
    (OPTIMIZATION_r13.md §8)."""
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "65535"


def test_worker_pythonpath_holds_package_parent(spark):
    """Python workers unpickle the engine's kernels by module reference;
    the executor env must put the package's parent directory on their
    path so a driver started from any directory still works."""
    parent = os.path.dirname(
        os.path.dirname(os.path.abspath(vlm_data_pipeline_spark.__file__))
    )
    worker_path = spark.sparkContext.environment["PYTHONPATH"]
    assert parent in worker_path.split(os.pathsep), worker_path


def test_inherits_spark_aqe_and_split_defaults(spark):
    """AQE, its coalescing, skew-join splitting and the 128 MiB split
    size are Spark's defaults; the session leaves them unset and still
    runs with them."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    assert split == 128 * 1024 * 1024, split


def test_no_allocator_overrides_in_executor_env(spark):
    """Python workers run on the allocators' own defaults: no malloc or
    Arrow memory-pool variables ride the executor env."""
    keys = [k for k, _ in spark.sparkContext.getConf().getAll()]
    pinned = [
        k
        for k in keys
        if k.startswith("spark.executorEnv.MALLOC_")
        or k == "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL"
    ]
    assert pinned == [], pinned
