"""Bad session env knobs fail in Python, naming the variable, before any
JVM starts (Spark would report them only as a gateway exit or an opaque
master-URL error). No SparkSession is created here."""

from __future__ import annotations

import pytest

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
