"""Bad session env knobs fail in Python, naming the variable, before any
JVM starts (Spark would report them only as a gateway exit or an opaque
master-URL error), the driver's collector is the caller's wherever the
caller names one, and the driver's class-data archive is chosen from the
install and the cache alone. No SparkSession is created here; one test
starts bare ``java -version`` JVMs to read their compressed-oops mode."""

from __future__ import annotations

import os
import shutil
import subprocess
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from vlm_data_pipeline_spark import session


@pytest.mark.parametrize("raw", ["0", "-3", "four", ""])
def test_bad_cpus_env_raises(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session._env_cpus()
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark()


@pytest.mark.parametrize("raw", ["8gb", "0g", "8", "g", "-1g", "1.5g", "", "8g\n"])
def test_bad_driver_memory_env_raises(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session._env_driver_memory()
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session.get_spark(cpus=2)


def test_bad_cpus_argument_raises():
    with pytest.raises(ValueError, match="cpus"):
        session.get_spark(cpus=0)


def test_good_values_and_defaults(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._env_cpus() == 32
    assert session._env_cpus(default=8) == 8
    assert session._env_driver_memory() == "8g"
    for raw, want in (("4", 4), ("64", 64)):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        assert session._env_cpus() == want
    for raw in ("512m", "8g", "48G", "1t", "1024k"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
        assert session._env_driver_memory() == raw


def test_bench_reads_cpus_through_the_checked_parser(monkeypatch):
    """bench.main() rejects a bad SPARK_GRAFT_CPUS with the variable-named
    error before it probes the box or starts a JVM."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    monkeypatch.setattr(
        bench, "_foreign_jvms", lambda: pytest.fail("probed before the check")
    )
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        bench.main()


@pytest.mark.parametrize(
    "name, raw",
    [
        ("BENCH_WARMUP", "true"),
        ("BENCH_WARMUP", ""),
        ("BENCH_PLANS", "yes"),
        ("BENCH_RUNS", "0"),
        ("BENCH_RUNS", "-3"),
        ("BENCH_RUNS", "abc"),
        ("BENCH_QUIET_WAIT_SEC", "abc"),
        ("BENCH_QUIET_WAIT_SEC", "-5"),
        ("BENCH_QUIET_WAIT_SEC", "nan"),
    ],
)
def test_bench_rejects_bad_knobs_before_any_jvm(monkeypatch, name, raw):
    """bench.main() names a bad knob before it probes the box or starts a
    JVM; ``BENCH_WARMUP=true`` used to skip the warm-up and
    ``BENCH_RUNS=0`` to run once, silently."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv(name, raw)
    monkeypatch.setattr(
        bench, "_foreign_jvms", lambda: pytest.fail("probed before the check")
    )
    with pytest.raises(ValueError, match=name):
        bench.main()


def test_bench_knob_defaults_and_good_values(monkeypatch):
    import bench

    for name in ("BENCH_WARMUP", "BENCH_PLANS", "BENCH_QUIET_WAIT_SEC"):
        monkeypatch.delenv(name, raising=False)
    assert bench._env_switch("BENCH_WARMUP", "1") is True
    assert bench._env_switch("BENCH_PLANS", "0") is False
    assert bench._env_quiet_wait() == 120.0
    monkeypatch.setenv("BENCH_WARMUP", "0")
    monkeypatch.setenv("BENCH_QUIET_WAIT_SEC", "0")
    assert bench._env_switch("BENCH_WARMUP", "1") is False
    assert bench._env_quiet_wait() == 0.0


# -- class-data archive choice (no JVM) ---------------------------------------


@pytest.fixture()
def fake_install(tmp_path, monkeypatch):
    """A SPARK_HOME with two jars and a conf dir of templates, a JDK with the
    two files the archive key reads, and an XDG cache dir, all under tmp."""
    spark_home, jdk, xdg = tmp_path / "spark", tmp_path / "jdk", tmp_path / "xdg"
    (spark_home / "jars").mkdir(parents=True)
    for jar in ("a.jar", "b.jar"):
        (spark_home / "jars" / jar).write_bytes(b"PK")
    (spark_home / "conf").mkdir()
    for name in ("spark-defaults.conf.template", "log4j2.properties.template"):
        (spark_home / "conf" / name).write_text("# template\n")
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "lib" / "modules").write_bytes(b"modules")
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"ELF")
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(xdg))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return spark_home, xdg / "vlm_data_pipeline_spark"


PARALLEL = "-XX:+UseParallelGC"


def _flag_path(opts: str, flag: str) -> str:
    (path,) = [o.split("=", 1)[1] for o in opts.split() if o.startswith(flag + "=")]
    return path


def _fake_launch(monkeypatch) -> dict:
    """Replace the JVM launch with a probe of what it would have been given."""
    seen: dict = {}

    def get_or_create(builder):
        seen["options"] = dict(builder._options)
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


def _choose(heap: str = "8g", collector: str = "Parallel", **conf: str):
    return session._class_archive({"spark.driver.memory": heap, **conf}, collector)


def test_templates_only_conf_dir_gets_archive_and_empty_conf(fake_install):
    _, cache = fake_install
    opts, conf = _choose()
    archive = _flag_path(opts, "-XX:ArchiveClassesAtExit")
    assert os.path.dirname(archive) == str(cache) and archive.endswith(".jsa")
    assert "-Xlog:cds*=off" in opts.split()
    assert os.path.dirname(conf) == str(cache) and os.listdir(conf) == []


def _assert_launches_as_spark_would(monkeypatch, **extra_conf: str) -> None:
    """No archive option and no conf-dir swap; the collector is still set."""
    seen = _fake_launch(monkeypatch)
    session.get_spark(cpus=2, extra_conf=extra_conf)
    assert seen["options"]["spark.driver.defaultJavaOptions"] == PARALLEL
    assert seen["conf_dir"] == os.environ.get("SPARK_CONF_DIR")


def test_real_conf_file_starts_jvm_as_spark_would(fake_install, monkeypatch):
    spark_home, _ = fake_install
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert _choose() is None
    _assert_launches_as_spark_would(monkeypatch)
    assert "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize("name", session._CLASSPATH_ENV)
def test_launcher_classpath_env_starts_jvm_as_spark_would(
    fake_install, monkeypatch, tmp_path, name
):
    extra = tmp_path / "hadoop-conf"
    extra.mkdir()
    (extra / "core-site.xml").write_text("<configuration/>\n")
    monkeypatch.setenv(name, str(extra))
    assert _choose() is None
    _assert_launches_as_spark_would(monkeypatch)


@pytest.mark.parametrize("key", session._CLASSPATH_CONF)
def test_driver_class_path_setting_starts_jvm_as_spark_would(
    fake_install, monkeypatch, key
):
    assert _choose(**{key: "/srv/extra-classes"}) is None
    _assert_launches_as_spark_would(monkeypatch, **{key: "/srv/extra-classes"})


@pytest.mark.parametrize(
    "args",
    ["--driver-class-path /srv/x pyspark-shell", "--properties-file /srv/p pyspark-shell"],
)
def test_submit_args_class_path_starts_jvm_as_spark_would(fake_install, monkeypatch, args):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", args)
    assert _choose() is None
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--master local[2] pyspark-shell")
    assert _choose() is not None


def test_cache_that_cannot_be_made_starts_jvm_as_spark_would(
    fake_install, monkeypatch, tmp_path
):
    # a path under a regular file cannot be made, even by root
    (tmp_path / "not-a-dir").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not-a-dir" / "cache"))
    assert _choose() is None
    _assert_launches_as_spark_would(monkeypatch)
    assert "SPARK_CONF_DIR" not in os.environ


def test_launch_swaps_conf_dir_only_for_the_launch(fake_install, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(fake_install[0] / "conf"))
    seen = _fake_launch(monkeypatch)
    session.get_spark(cpus=2)
    opts, conf = _choose()
    assert seen["options"]["spark.driver.defaultJavaOptions"] == f"{PARALLEL} {opts}"
    assert seen["conf_dir"] == conf
    assert os.environ["SPARK_CONF_DIR"] == str(fake_install[0] / "conf")


def test_missing_or_unfinished_archive_records(fake_install):
    opts, _ = _choose()
    archive = _flag_path(opts, "-XX:ArchiveClassesAtExit")
    # a dump cut short before the JVM wrote the header
    with open(archive, "wb") as f:
        f.write(b"\0" * 64)
    assert _choose()[0] == opts


def _finish(archive: str) -> None:
    with open(archive, "wb") as f:
        f.write(session._ARCHIVE_MAGIC + b"\0" * 60)


def test_finished_archive_is_mapped(fake_install):
    archive = _flag_path(_choose()[0], "-XX:ArchiveClassesAtExit")
    _finish(archive)
    opts, _ = _choose()
    assert _flag_path(opts, "-XX:SharedArchiveFile") == archive
    assert "ArchiveClassesAtExit" not in opts


def test_heaps_share_an_archive_per_compressed_oops_mode(fake_install):
    """Alternating heaps below 32g map one archive; a heap of 32g or more
    records its own beside it, and neither deletes the other."""
    small = _flag_path(_choose("1g")[0], "-XX:ArchiveClassesAtExit")
    _finish(small)
    large = _flag_path(_choose("48g")[0], "-XX:ArchiveClassesAtExit")
    assert large != small and os.path.exists(small)
    _finish(large)
    for heap, archive in [("8g", small), ("32g", large), ("1024m", small), ("48g", large)]:
        assert _flag_path(_choose(heap)[0], "-XX:SharedArchiveFile") == archive, heap


def test_new_jar_mtime_is_a_new_key_and_drops_stale_archive(fake_install):
    spark_home, cache = fake_install
    old = _flag_path(_choose()[0], "-XX:ArchiveClassesAtExit")
    _finish(old)
    st = os.stat(spark_home / "jars" / "b.jar")
    os.utime(spark_home / "jars" / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = _flag_path(_choose()[0], "-XX:ArchiveClassesAtExit")
    assert new != old and not os.path.exists(old)


def test_unparsable_driver_memory_starts_jvm_as_spark_would(fake_install):
    assert _choose("8192") is None


def test_read_only_cache_maps_a_finished_archive_and_never_records(
    fake_install, monkeypatch
):
    archive = _flag_path(_choose()[0], "-XX:ArchiveClassesAtExit")
    monkeypatch.setattr(session.os, "access", lambda path, mode: False)
    assert _choose() is None
    _finish(archive)
    assert _flag_path(_choose()[0], "-XX:SharedArchiveFile") == archive


# -- the driver's collector (no JVM) ------------------------------------------


def _launch_options(monkeypatch, **extra_conf: str) -> str | None:
    seen = _fake_launch(monkeypatch)
    session.get_spark(cpus=2, extra_conf=extra_conf)
    return seen["options"].get("spark.driver.defaultJavaOptions")


def test_parallel_collector_rides_next_to_the_archive(fake_install, monkeypatch):
    """Driver options that name no collector (perfbench's, for one) get the
    Parallel collector in front of the archive options."""
    opts = _launch_options(
        monkeypatch, **{"spark.driver.extraJavaOptions": "-XX:-UsePerfData -Xss4m"}
    )
    assert opts == f"{PARALLEL} {_choose()[0]}"


@pytest.mark.parametrize("name", session._JAVA_OPTIONS_ENV)
def test_collector_named_in_env_wins(fake_install, monkeypatch, name):
    value = "-Xss4m -XX:+UseSerialGC"
    if name == "PYSPARK_SUBMIT_ARGS":
        value = f"--driver-java-options '{value}' pyspark-shell"
    monkeypatch.setenv(name, value)
    opts = _launch_options(monkeypatch)
    assert opts == _choose(collector="Serial")[0]
    assert "UseParallelGC" not in opts


def test_callers_default_java_options_are_kept_whole(fake_install, monkeypatch):
    """No collector, no archive and no conf-dir swap beside them."""
    seen = _fake_launch(monkeypatch)
    session.get_spark(cpus=2, extra_conf={"spark.driver.defaultJavaOptions": "-Xss4m"})
    assert seen["options"]["spark.driver.defaultJavaOptions"] == "-Xss4m"
    assert seen["conf_dir"] is None


@pytest.mark.parametrize(
    "line, want",
    [
        ("spark.driver.extraJavaOptions -Xss4m -XX:+UseG1GC\n", None),
        ("spark.driver.defaultJavaOptions -Xss4m\n", None),
        ("spark.driver.memory 4g\n", PARALLEL),
    ],
)
def test_spark_defaults_conf_collector_or_default_options_win(
    fake_install, monkeypatch, line, want
):
    """A real spark-defaults.conf starts the JVM without the archive; its
    collector or default Java options are never replaced."""
    spark_home, _ = fake_install
    (spark_home / "conf" / "spark-defaults.conf").write_text(line)
    assert _launch_options(monkeypatch) == want


def test_properties_file_keeps_its_java_options(fake_install, monkeypatch):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--properties-file /srv/p pyspark-shell")
    assert _launch_options(monkeypatch) is None


@pytest.mark.parametrize(
    "opts, collector",
    [
        ("-XX:+UseG1GC", "G1"),
        ("-XX:+UseParallelGC", "Parallel"),  # the caller's, not repeated
        ("-XX:-UseG1GC", None),
        ("-XX:+UseG1GC -XX:+UseSerialGC", None),
    ],
)
def test_collector_named_in_extra_java_options_wins(
    fake_install, monkeypatch, opts, collector
):
    """The caller's collector gets the archive of its own oops mode and no
    second collector; one only switched off, or two switched on, leave the
    launch to the caller: no collector and no archive."""
    launched = _launch_options(monkeypatch, **{"spark.driver.extraJavaOptions": opts})
    assert launched == (collector and _choose(collector=collector)[0])


@pytest.mark.parametrize(
    "source", ["extraJavaOptions", "spark-defaults.conf", *session._JAVA_OPTIONS_ENV]
)
def test_callers_oops_option_starts_jvm_without_archive(
    fake_install, monkeypatch, source
):
    """An option that changes the oops mode, named in any input of the
    driver's Java options, launches without the archive (whose name would
    misstate the mode it records); the collector is still added."""
    spark_home, cache = fake_install
    for flag in (
        "-XX:-UseCompressedOops",
        "-XX:-UseCompressedClassPointers",
        "-XX:ObjectAlignmentInBytes=16",
    ):
        extra_conf = {}
        if source == "extraJavaOptions":
            extra_conf["spark.driver.extraJavaOptions"] = f"-Xss4m {flag}"
        elif source == "spark-defaults.conf":
            (spark_home / "conf" / "spark-defaults.conf").write_text(
                f"spark.driver.extraJavaOptions {flag}\n"
            )
        elif source == "PYSPARK_SUBMIT_ARGS":
            monkeypatch.setenv(source, f"--driver-java-options '{flag}' pyspark-shell")
        else:
            monkeypatch.setenv(source, flag)
        _assert_launches_as_spark_would(monkeypatch, **extra_conf)
    assert not cache.exists()


# -- compressed-oops mode of the archive --------------------------------------


@pytest.mark.parametrize(
    "collector, coops, oops",
    [
        ("Parallel", "32766m", "32767m"),
        ("Serial", "33552384k", "33552385k"),
        ("G1", "32736m", "32737m"),
        ("Shenandoah", "33521664k", "33521665k"),
        ("Z", None, "1g"),
    ],
)
def test_archive_oops_mode_follows_the_collectors_edge(
    fake_install, collector, coops, oops
):
    if coops is not None:
        assert _choose(coops, collector)[0].endswith("-coops.jsa -Xlog:cds*=off")
    assert _choose(oops, collector)[0].endswith("-oops.jsa -Xlog:cds*=off")


def test_unknown_collector_starts_jvm_without_archive(fake_install):
    assert _choose(collector="Epsilon") is None


def _jvm_compressed_oops(collector: str, heap: str) -> bool:
    out = subprocess.run(
        ["java", f"-XX:+Use{collector}GC", f"-Xmx{heap}", "-XX:+PrintFlagsFinal", "-version"],
        capture_output=True, text=True, timeout=60, check=True,
    ).stdout
    (line,) = [x for x in out.splitlines() if x.split()[1:2] == ["UseCompressedOops"]]
    return line.split()[3] == "true"


@pytest.mark.skipif(shutil.which("java") is None, reason="no java on PATH")
@pytest.mark.parametrize("collector", sorted(session._COOPS_MAX_HEAP))
def test_oops_edges_match_the_jvm(collector):
    """The JVM itself agrees with the table at 1 KiB either side of each
    collector's edge (ZGC: at 1g and 32g), and at 32g - 1m."""
    edge = session._COOPS_MAX_HEAP[collector] >> 10
    heaps = ["1g", "32g"] if edge == 0 else [f"{edge}k", f"{edge + 1}k", "32767m"]
    for heap in heaps:
        want = session._heap_bytes(heap) <= session._COOPS_MAX_HEAP[collector]
        assert _jvm_compressed_oops(collector, heap) == want, (collector, heap)
