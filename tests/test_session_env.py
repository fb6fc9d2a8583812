"""Bad session env knobs fail in Python, naming the variable, before any
JVM starts (Spark would report them only as a gateway exit or an opaque
master-URL error), and the driver's class-data archive is chosen from the
install and the cache alone. No SparkSession is created here."""

from __future__ import annotations

import os
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


def _choose(heap: str = "8g", **conf: str):
    return session._class_archive({"spark.driver.memory": heap, **conf})


def test_templates_only_conf_dir_gets_archive_and_empty_conf(fake_install):
    _, cache = fake_install
    opts, conf = _choose()
    archive = _flag_path(opts, "-XX:ArchiveClassesAtExit")
    assert os.path.dirname(archive) == str(cache) and archive.endswith(".jsa")
    assert "-Xlog:cds*=off" in opts.split()
    assert os.path.dirname(conf) == str(cache) and os.listdir(conf) == []


def _assert_launches_as_spark_would(monkeypatch, **extra_conf: str) -> None:
    seen = _fake_launch(monkeypatch)
    session.get_spark(cpus=2, extra_conf=extra_conf)
    assert "spark.driver.defaultJavaOptions" not in seen["options"]
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
    assert seen["options"]["spark.driver.defaultJavaOptions"] == opts
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
