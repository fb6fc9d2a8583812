"""Pin the session configuration `get_spark` ships.

The driver's only JVM flags are the Parallel collector
(``-XX:+UseParallelGC``, unless the caller names a collector) and the
class-data archive options (``-XX:ArchiveClassesAtExit`` or
``-XX:SharedArchiveFile``, with ``-Xlog:cds*=off``), which change how
memory is collected and classes load, not what runs. The
``-XX:-DontCompileHugeMethods`` flag once used to JIT a 64-term generated
kernel taxed every query sharing the JVM about 2x (OPTIMIZATION_r14.md §1).
These tests pin the collector, a caller's collector winning over it, the
archive launch, the huge-method flag's absence, a set-up that skips
MLlib's class-path session extension, Spark's default codegen ceiling, the
AQE and file-split settings the session inherits from Spark, the absence of
allocator overrides in the executor env, and the Python worker path that
lets workers import the engine from any cwd.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

import vlm_data_pipeline_spark
from vlm_data_pipeline_spark import session

ARCHIVE_FLAGS = ("-XX:ArchiveClassesAtExit=", "-XX:SharedArchiveFile=")
PARALLEL_BEANS = ["PS MarkSweep", "PS Scavenge"]
G1_BEANS = ["G1 Old Generation", "G1 Young Generation"]


def test_no_jvm_flag_overrides_by_default(spark):
    """The huge-method flag rides neither the driver nor the executors."""
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


def _input_args(spark) -> list[str]:
    args = (
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )
    return [args.get(i) for i in range(args.size())]


def _conf_dir_has_real_file() -> bool:
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        _find_spark_home(), "conf"
    )
    return os.path.isdir(conf_dir) and any(
        not n.endswith(".template") for n in os.listdir(conf_dir)
    )


def _collector_beans(spark) -> list[str]:
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sorted(beans.get(i).getName() for i in range(beans.size()))


@pytest.mark.skipif(
    session._caller_collector({})[0] != "", reason="the caller's env names a collector"
)
def test_live_driver_runs_the_parallel_collector(spark):
    """The pipeline is a batch job: the driver runs the throughput
    collector, and says so in its input arguments."""
    assert _collector_beans(spark) == PARALLEL_BEANS
    assert "-XX:+UseParallelGC" in _input_args(spark)


def test_live_driver_starts_from_the_class_archive(spark):
    """One archive option rides the live driver, pointing into the cache,
    and the launch's conf dir (first on the classpath) is empty; a conf dir
    holding a real file launches with neither."""
    archive_args = [a for a in _input_args(spark) if a.startswith(ARCHIVE_FLAGS)]
    if _conf_dir_has_real_file():
        assert archive_args == []
        return
    assert len(archive_args) == 1, archive_args
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "vlm_data_pipeline_spark",
    )
    path = archive_args[0].split("=", 1)[1]
    assert os.path.dirname(path) == cache, path
    first = spark._jvm.System.getProperty("java.class.path").split(os.pathsep)[0]
    assert os.path.isdir(first) and os.listdir(first) == [], first


def _engine_env(**overrides: str) -> dict[str, str]:
    """The caller's env with this checkout first on ``PYTHONPATH``, for a
    driver started in a subprocess."""
    path = os.pathsep.join(
        p
        for p in (
            os.path.dirname(os.path.dirname(vlm_data_pipeline_spark.__file__)),
            os.environ.get("PYTHONPATH"),
        )
        if p
    )
    return dict(os.environ, PYTHONPATH=path, **overrides)


_ONE_SESSION = r"""
import json, os, sys
from pyspark import SparkContext
from vlm_data_pipeline_spark.session import get_spark

before = os.environ.get("SPARK_CONF_DIR")
# the caller's own driver options still apply next to the session's
opts = " ".join([f"-Xlog:class+load=info:file={sys.argv[1]}", *sys.argv[2:]])
spark = get_spark("archive-probe", cpus=2, extra_conf={"spark.driver.extraJavaOptions": opts})
spark.range(1000).selectExpr("sum(id)").collect()
mf = spark._jvm.java.lang.management.ManagementFactory
rt = mf.getRuntimeMXBean()
args = [rt.getInputArguments().get(i) for i in range(rt.getInputArguments().size())]
beans = mf.getGarbageCollectorMXBeans()
info = {
    "args": args,
    "collectors": sorted(beans.get(i).getName() for i in range(beans.size())),
    "env_kept": os.environ.get("SPARK_CONF_DIR") == before,
    "loadFromCp": spark.conf.get("spark.sql.extensions.test.loadFromCp"),
}
gw = SparkContext._gateway
proc = gw.proc
spark.stop()
gw.shutdown()
proc.stdin.close()  # the gateway exits on EOF; the archive is written then
proc.wait(timeout=300)
print(json.dumps(info))
"""


@pytest.mark.skipif(_conf_dir_has_real_file(), reason="conf dir holds a real file")
def test_first_session_records_and_second_maps(tmp_path):
    """The first driver on a fresh cache writes a finished archive at exit
    and prints nothing about it; the next driver maps that archive and
    loads Spark's classes from it (the dynamic archive is the "top" layer
    over the JDK's base archive)."""
    env = _engine_env(XDG_CACHE_HOME=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    runs = []
    for i in range(2):
        out = subprocess.run(
            [sys.executable, "-c", _ONE_SESSION, str(tmp_path / f"load{i}.log")],
            env=env, capture_output=True, text=True, timeout=600, check=True,
        ).stdout
        assert "[cds" not in out, out
        runs.append(json.loads(out.strip().splitlines()[-1]))
    (archive,) = tmp_path.glob("vlm_data_pipeline_spark/*.jsa")
    assert archive.name.endswith("-coops.jsa"), archive
    with archive.open("rb") as f:
        assert f.read(4) == session._ARCHIVE_MAGIC
    recorded = [a for a in runs[0]["args"] if a.startswith(ARCHIVE_FLAGS)]
    mapped = [a for a in runs[1]["args"] if a.startswith(ARCHIVE_FLAGS)]
    assert recorded == [f"-XX:ArchiveClassesAtExit={archive}"], recorded
    assert mapped == [f"-XX:SharedArchiveFile={archive}"], mapped
    assert runs[0]["env_kept"] and runs[1]["env_kept"]
    for run in runs:
        assert "-XX:+UseParallelGC" in run["args"], run["args"]
    source = "org.apache.spark.SparkContext source: shared objects file (top)"
    assert source not in (tmp_path / "load0.log").read_text()
    assert source in (tmp_path / "load1.log").read_text()
    archive.unlink()  # about 100 MB


def test_set_up_skips_classpath_session_extensions(tmp_path):
    """The session skips the class-path scan for session extensions, so
    set-up never runs MLlib's extension, which builds Scala's
    runtime-reflection universe to register functions no engine plan
    resolves (OPTIMIZATION_r14.md, "Set-up without class-path session
    extensions")."""
    log = tmp_path / "load.log"
    out = subprocess.run(
        [sys.executable, "-c", _ONE_SESSION, str(log)],
        env=_engine_env(), capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    assert json.loads(out.strip().splitlines()[-1])["loadFromCp"] == "false"
    loaded = log.read_text()
    assert "org.apache.spark.sql.SparkSession " in loaded  # the log is live
    for cls in (
        "org.apache.spark.sql.ml.InternalFunctionRegistration",
        "scala.reflect.runtime.JavaUniverse",
    ):
        assert f"{cls} " not in loaded, cls


def test_callers_collector_wins(tmp_path):
    """A collector the caller names in the driver's extra Java options
    replaces the session's (two collector flags would stop the JVM)."""
    out = subprocess.run(
        [sys.executable, "-c", _ONE_SESSION, str(tmp_path / "load.log"), "-XX:+UseG1GC"],
        env=_engine_env(), capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    info = json.loads(out.strip().splitlines()[-1])
    assert info["collectors"] == G1_BEANS
    assert "-XX:+UseParallelGC" not in info["args"]
