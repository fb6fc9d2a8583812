"""SparkSession factory with scale-conscious defaults.

Local testing runs on ``local[N]`` (one JVM); the configuration is chosen so
the same logical plans survive a multi-executor cluster at 100 TB. Only
settings that differ from Spark's own defaults are set:

- shuffle partitions sized to cores locally (override per deployment
  through ``extra_conf``)
- Arrow enabled for every pandas-UDF boundary
- session timezone pinned to UTC so results are oracle-comparable
- no class-path scan for session extensions (``spark.sql.extensions.test.loadFromCp``)

A Spark without that test-only conf ignores it and only loses the set-up gain
(OPTIMIZATION_r14.md, "Set-up without class-path session extensions");
``spark.sql.extensions`` still loads, and ``extra_conf`` can turn the scan on.

AQE, its partition coalescing and skew-join splitting, and the 128 MiB
file-split size are Spark's defaults and are inherited, not set.

The driver JVM starts from a JDK dynamic class-data archive of the classes
Spark loads (JEP 350), so it links far fewer classes from jars at start-up
(OPTIMIZATION_r14.md, "Driver start-up from a class-data archive").
The archive lives at
``${XDG_CACHE_HOME:-~/.cache}/vlm_data_pipeline_spark/<key>-<oops>.jsa``,
keyed by the JDK and Spark's jars, and by whether the driver heap keeps
compressed oops (below about 32g, by an edge that depends on the
collector): the first driver on a machine writes it at JVM
exit (``-XX:ArchiveClassesAtExit``), later ones map it
(``-XX:SharedArchiveFile``).
The JVM archives nothing while a non-empty directory is on the classpath,
and Spark's launcher puts the conf directory first: a conf directory holding
only ``*.template`` files is swapped for an empty one for the launch. A conf
directory holding any real file, any other classpath input of the launcher
(``spark.driver.extraClassPath``, ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
``SPARK_DIST_CLASSPATH``, ...), a cache directory that cannot be made, or
a caller's Java option that changes the oops mode (``UseCompressedOops``,
``UseCompressedClassPointers``, ``ObjectAlignmentInBytes``) starts the JVM
without the archive, exactly as Spark would.

The driver runs the Parallel collector (``-XX:+UseParallelGC``): the
pipeline is a batch job that needs throughput, not short pauses, and
compiling G1's larger write barriers costs about 8% of set-up CPU
(OPTIMIZATION_r14.md, "The driver on the Parallel collector"). A collector
the caller names anywhere the driver JVM reads options, or driver default
Java options the caller sets, replace it; these flags and the archive's are
the only JVM flags the session adds, and executors keep Spark's defaults.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_JVM_MEMORY = re.compile(r"^[1-9][0-9]*[kmgtKMGT]$")
# First bytes of a finished dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC,
# little-endian); the JVM writes the header last, so a cut-short dump lacks it.
_ARCHIVE_MAGIC = bytes.fromhex("a8ab0bf0")
# What else Spark's launcher puts on the driver classpath, any of which may
# name a non-empty directory; the JVM then neither dumps nor maps an archive.
_CLASSPATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
    "SPARK_SQL_TESTING",
)
_CLASSPATH_CONF = ("spark.driver.extraClassPath", "spark.driver.defaultExtraClassPath")
_SUBMIT_CLASSPATH = re.compile(r"class-?path|properties-file", re.IGNORECASE)
# A second collector option stops the JVM ("Multiple garbage collectors
# selected"), so the session adds none where the caller names one: in the
# driver's extra Java options, spark-defaults.conf, or these variables.
_GC_OPTION = re.compile(r"-XX:([+-])Use(\w+)GC\b")
# Options that change the oops mode an archive records, which its name
# (chosen from heap and collector) would then misstate.
_OOPS_OPTION = re.compile(
    r"-XX:(?:[+-]UseCompressed(?:Oops|ClassPointers)\b|ObjectAlignmentInBytes=)"
)
_JAVA_OPTIONS_ENV = (
    "JAVA_TOOL_OPTIONS",
    "_JAVA_OPTIONS",
    "JDK_JAVA_OPTIONS",
    "SPARK_SUBMIT_OPTS",
    "PYSPARK_SUBMIT_ARGS",
)
# The largest heap that keeps compressed oops under each JDK 17 collector:
# 32g less the null page padded to the collector's largest heap alignment,
# 32m for G1 and Shenandoah and 2m for Parallel and Serial (as
# -XX:+PrintFlagsFinal reports them). ZGC never compresses oops.
_COOPS_MAX_HEAP = {
    "Parallel": (32 << 30) - (2 << 20),
    "Serial": (32 << 30) - (2 << 20),
    "G1": (32 << 30) - (32 << 20),
    "Shenandoah": (32 << 30) - (32 << 20),
    "Z": 0,
}


def _env_positive_int(name: str, default: int) -> int:
    """Env var ``name`` (``default`` when unset) as a positive integer, or a
    ``ValueError`` naming the variable."""
    raw = os.environ.get(name, str(default))
    if not raw.strip().isdecimal() or int(raw) < 1:
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return int(raw)


def _env_cpus(default: int = 32) -> int:
    """``SPARK_GRAFT_CPUS`` (``default`` when unset), checked before any
    JVM starts: Spark reports a bad core count only as an opaque
    master-URL error. Every entry point that reads the variable reads it
    here."""
    return _env_positive_int("SPARK_GRAFT_CPUS", default)


def _env_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` (default 8g) as a JVM memory size such as
    ``512m`` or ``8g``; a bad value otherwise surfaces only as
    ``JAVA_GATEWAY_EXITED``."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    if not _JVM_MEMORY.fullmatch(raw):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM must be a JVM memory size like 512m or 8g, "
            f"got {raw!r}"
        )
    return raw


def _heap_bytes(size: str) -> int:
    """Bytes in a JVM memory size that matches ``_JVM_MEMORY``."""
    return int(size[:-1]) << 10 * (1 + "kmgt".index(size[-1].lower()))


def _worker_pythonpath() -> str:
    """PYTHONPATH for Python workers: the directory holding this package,
    then any inherited PYTHONPATH. Workers unpickle the engine's kernels by
    module reference, so they must import the package whatever directory
    the driver was started from."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inherited = os.environ.get("PYTHONPATH", "")
    return os.pathsep.join(p for p in (parent, inherited) if p)


def _conf_dir() -> str:
    """The conf directory Spark's launcher reads and puts on the classpath."""
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")


def _caller_collector(conf: dict[str, str]) -> tuple[str | None, bool]:
    """The collector the caller switched on for the driver JVM (``"G1"``,
    ``"Z"``, ...), or ``""`` when no input of the driver's Java options
    names one; ``None`` when the caller sets the driver's default Java
    options (in ``conf``, spark-defaults.conf or a properties file), or
    names collectors without switching exactly one on. Second, whether
    those inputs name an option that changes the oops mode. ``conf`` is
    the session's settings."""
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "spark.driver.defaultJavaOptions" in conf or "properties-file" in submit_args:
        return None, False
    try:
        with open(os.path.join(_conf_dir(), "spark-defaults.conf"), encoding="utf-8") as f:
            defaults = f.read()
    except FileNotFoundError:
        defaults = ""
    except (OSError, UnicodeDecodeError):
        return None, False
    if "spark.driver.defaultJavaOptions" in defaults:
        return None, False
    inputs = [conf.get("spark.driver.extraJavaOptions", ""), defaults]
    inputs += [os.environ.get(name, "") for name in _JAVA_OPTIONS_ENV]
    options = " ".join(inputs)
    oops_option = _OOPS_OPTION.search(options) is not None
    named = _GC_OPTION.findall(options)
    if not named:
        return "", oops_option
    switched_on = {name for sign, name in named if sign == "+"}
    return (switched_on.pop() if len(switched_on) == 1 else None), oops_option


def _class_archive(conf: dict[str, str], collector: str) -> tuple[str, str] | None:
    """Driver JVM options that map (or, failing that, record) the class-data
    archive, and the empty conf directory to launch with; ``None`` when the
    driver classpath may hold a non-empty directory (a conf directory with a
    real file, or any of the launcher's other classpath inputs), the JDK,
    jars or cache cannot be read or made, or ``collector``'s compressed-oops
    edge is unknown, so the JVM starts as Spark would start it. ``conf`` is
    the session's settings, ``collector`` the one the driver JVM runs."""
    heap = conf.get("spark.driver.memory", "")
    if (
        not _JVM_MEMORY.fullmatch(heap)
        or collector not in _COOPS_MAX_HEAP
        or any(os.environ.get(name) for name in _CLASSPATH_ENV)
        or any(conf.get(key) for key in _CLASSPATH_CONF)
        or _SUBMIT_CLASSPATH.search(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = _conf_dir()
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java"))
    )
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "vlm_data_pipeline_spark",
    )
    empty_conf = os.path.join(cache, "conf")
    key = hashlib.sha256()
    try:
        if os.path.isdir(conf_dir) and any(
            not name.endswith(".template") for name in os.listdir(conf_dir)
        ):
            return None
        for path in (
            os.path.join(java_home, "lib", "modules"),
            os.path.join(java_home, "lib", "server", "libjvm.so"),
            *sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))),
        ):
            st = os.stat(path)
            key.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
    except OSError:
        return None
    # the archive records whether the heap keeps compressed oops
    stem = key.hexdigest()[:32]
    oops = "coops" if _heap_bytes(heap) <= _COOPS_MAX_HEAP[collector] else "oops"
    archive = os.path.join(cache, f"{stem}-{oops}.jsa")
    try:
        with open(archive, "rb") as f:
            finished = f.read(4) == _ARCHIVE_MAGIC
    except OSError:
        finished = False
    if finished:
        flag = f"-XX:SharedArchiveFile={archive}"
    elif os.access(cache, os.W_OK):
        # archives of another JDK or jar set can never map again
        for stale in glob.glob(os.path.join(cache, "*.jsa")):
            if not os.path.basename(stale).startswith(stem + "-"):
                with contextlib.suppress(OSError):
                    os.remove(stale)
        flag = f"-XX:ArchiveClassesAtExit={archive}"
    else:
        return None
    # the JVM's stdout is the caller's: no per-class "Skipping" warnings
    return f"{flag} -Xlog:cds*=off", empty_conf


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
    cpus = _env_cpus() if cpus is None else cpus
    if cpus < 1:
        raise ValueError(f"cpus must be a positive integer, got {cpus}")
    driver_memory = _env_driver_memory()
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
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # refuses by default; read as long and convert at the source wrapper
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        # MLlib's discovered extension builds Scala's runtime-reflection
        # universe to register functions no engine plan resolves
        .config("spark.sql.extensions.test.loadFromCp", "false")
    )
    extra_conf = extra_conf or {}
    conf = {"spark.driver.memory": driver_memory, **extra_conf}
    collector, oops_option = _caller_collector(conf)
    options, launch_conf_dir = [], None
    if collector is not None:
        if not collector:
            collector = "Parallel"
            options.append("-XX:+UseParallelGC")
        archive = None if oops_option else _class_archive(conf, collector)
        if archive is not None:
            options.append(archive[0])
            launch_conf_dir = archive[1]
    if options:
        # Spark puts these in front of the caller's extraJavaOptions
        builder = builder.config("spark.driver.defaultJavaOptions", " ".join(options))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if launch_conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = launch_conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    spark.sparkContext.setLogLevel("WARN")
    return spark
