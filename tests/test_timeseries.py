"""time_bucket_gapfill: dense grid synthesis, LOCF semantics, guard,
and plan shape (Timescale time_bucket_gapfill + locf analogue)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.operators.timeseries import time_bucket_gapfill


def _events(spark):
    rows = [
        # key 'a': buckets 0, 3 occupied -> gaps at 1, 2
        ("a", "2024-01-01 00:00:10", 5.0),
        ("a", "2024-01-01 00:00:50", 7.0),
        ("a", "2024-01-01 00:03:30", 1.0),
        # key 'b': single bucket -> no gaps
        ("b", "2024-01-01 00:02:05", 9.0),
    ]
    return spark.createDataFrame(rows, "k string, ts_s string, v double").select(
        "k", F.col("ts_s").cast("timestamp").alias("ts"), "v"
    )


def test_gapfill_hand_case(spark):
    out = time_bucket_gapfill(
        _events(spark),
        "ts",
        ["k"],
        bucket_seconds=60,
        aggs={
            "n": F.count("*").cast("long"),
            "v_last": F.max("v"),
        },
        locf_cols=["v_last"],
    ).collect()
    by = {(r.k, r.bucket_start.minute): r for r in out}
    # key a spans 4 buckets (minutes 0..3), key b exactly 1
    assert sum(1 for r in out if r.k == "a") == 4
    assert sum(1 for r in out if r.k == "b") == 1
    assert by[("a", 0)].n == 2 and by[("a", 0)].v_last == 7.0
    # gap buckets: n NULL (caller coalesces), v_last carried forward
    assert by[("a", 1)].n is None and by[("a", 1)].v_last == 7.0
    assert by[("a", 2)].n is None and by[("a", 2)].v_last == 7.0
    assert by[("a", 3)].n == 1 and by[("a", 3)].v_last == 1.0
    assert by[("b", 2)].n == 1 and by[("b", 2)].v_last == 9.0


def test_gapfill_validation_and_guard(spark):
    from pyspark.errors import PySparkException

    ev = _events(spark)
    with pytest.raises(ValueError, match="bucket_seconds"):
        time_bucket_gapfill(ev, "ts", ["k"], 0, {"n": F.count("*")})
    with pytest.raises(ValueError, match="aggs"):
        time_bucket_gapfill(ev, "ts", ["k"], 60, {})
    with pytest.raises(ValueError, match="locf_cols"):
        time_bucket_gapfill(
            ev, "ts", ["k"], 60, {"n": F.count("*")}, locf_cols=["ghost"]
        )
    with pytest.raises(PySparkException, match="buckets"):
        # key 'a' spans ~210s -> >100 one-second buckets with max 100
        time_bucket_gapfill(
            ev, "ts", ["k"], 1, {"n": F.count("*")}, max_buckets=100
        ).collect()


def test_time_bucket_primitive(spark):
    """Bucket starts floor the epoch second to the bucket width: one
    second either side of an hour boundary lands in adjacent buckets."""
    df = spark.createDataFrame(
        [("k", "2024-01-01 00:59:59"), ("k", "2024-01-01 01:00:00")],
        "k string, s string",
    ).select("k", F.col("s").cast("timestamp").alias("ts"))
    got = [
        (r.bucket_start.isoformat(), r.n)
        for r in time_bucket_gapfill(df, "ts", ["k"], 3600, {"n": F.count("*")})
        .orderBy("bucket_start")
        .collect()
    ]
    assert got == [("2024-01-01T00:00:00", 1), ("2024-01-01T01:00:00", 1)]


def test_gapfill_plan_shape(spark):
    """Three exchanges total — per-bucket agg, per-key span agg, LOCF
    window (the grid join rides the agg partitioning / broadcasts) —
    and no nested-loop anywhere."""
    out = time_bucket_gapfill(
        _events(spark), "ts", ["k"], 60,
        {"n": F.count("*").cast("long"), "v_last": F.max("v")},
        locf_cols=["v_last"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") == 1


def test_gapfill_null_timestamps_excluded(spark):
    """Null timestamps have no bucket: rows are excluded up front, and
    a key with ONLY null timestamps vanishes instead of tripping the
    span guard with a null bucket count."""
    rows = [
        ("a", "2024-01-01 00:00:10", 1.0),
        ("a", None, 99.0),
        ("z", None, 5.0),
    ]
    ev = spark.createDataFrame(rows, "k string, ts_s string, v double").select(
        "k", F.col("ts_s").cast("timestamp").alias("ts"), "v"
    )
    out = time_bucket_gapfill(
        ev, "ts", ["k"], 60, {"n": F.count("*").cast("long")}
    ).collect()
    assert [r.k for r in out] == ["a"]
    assert out[0].n == 1
