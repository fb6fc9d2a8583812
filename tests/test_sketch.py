"""Bloom membership: no false negatives ever, join/broadcast path
equality, null/guard behavior. HLL store: merge-equals-rebuild,
partition invariance, estimate sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.operators import sketch


def _docs(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)], "id long, text string"
    )


def test_bloom_no_false_negatives(spark):
    """Every inserted key probes positive, for several (m, k) shapes —
    including a tiny saturated filter."""
    keys = [f"key-{i}" for i in range(40)]
    df = _docs(spark, keys)
    for m, k in [(64, 1), (256, 2), (4096, 4)]:
        pos = sketch.bloom_build(df, "text", m, k)
        out = sketch.bloom_probe_join(df, pos, "text", m, k)
        assert out.filter(~F.col("bloom_hit")).count() == 0, (m, k)


def test_bloom_rejects_most_nonmembers_when_sized(spark):
    """A properly sized filter (fp ≈ 0.2%) rejects all 200 probes of a
    disjoint key set here."""
    members = _docs(spark, [f"in-{i}" for i in range(50)])
    others = _docs(spark, [f"out-{i}" for i in range(200)])
    m, k = 4096, 4
    pos = sketch.bloom_build(members, "text", m, k)
    out = sketch.bloom_probe_join(others, pos, "text", m, k)
    assert out.filter(F.col("bloom_hit")).count() == 0


def test_bloom_paths_identical(spark):
    """bloom_probe_join and bloom_probe_broadcast agree key-for-key on a
    tight filter WITH false positives — the dual-path contract."""
    members = _docs(spark, [f"m{i}" for i in range(30)])
    probes = _docs(spark, [f"m{i}" for i in range(15)] + [f"x{i}" for i in range(120)])
    m, k = 128, 2
    pos = sketch.bloom_build(members, "text", m, k)
    a = {
        r["id"]: r["bloom_hit"]
        for r in sketch.bloom_probe_join(probes, pos, "text", m, k).collect()
    }
    b = {
        r["id"]: r["bloom_hit"]
        for r in sketch.bloom_probe_broadcast(probes, pos, "text", m, k).collect()
    }
    assert a == b
    assert all(a[i] for i in range(15))  # members all hit
    assert not all(a[i] for i in range(15, 135))  # non-members mostly miss


def test_bloom_param_guards(spark):
    df = _docs(spark, ["a"])
    with pytest.raises(ValueError, match="m_bits"):
        sketch.bloom_build(df, "text", 1, 2)
    with pytest.raises(ValueError, match="k_hashes"):
        sketch.bloom_build(df, "text", 64, 0)
    pos = sketch.bloom_build(df, "text", 64, 2)
    with pytest.raises(ValueError, match="MAX_BROADCAST_BITS"):
        sketch.bloom_probe_broadcast(
            df, pos, "text", sketch.MAX_BROADCAST_BITS * 2, 2
        )


def test_hll_merge_equals_rebuild(spark):
    """Sketch(batch1) ∪ Sketch(batch2) estimates what
    Sketch(batch1 + batch2) does to within the sketch's error bounds —
    NOT exactly: union promotes sparse-mode sketches to dense at a
    point that depends on batching (documented store contract)."""
    b1 = spark.createDataFrame(
        [("g1", f"v{i}") for i in range(300)] + [("g2", f"v{i}") for i in range(40)],
        "g string, v string",
    )
    b2 = spark.createDataFrame(
        [("g1", f"v{i}") for i in range(150, 450)] + [("g2", f"w{i}") for i in range(25)],
        "g string, v string",
    )
    s1 = sketch.hll_group_sketches(b1, "g", "v")
    s2 = sketch.hll_group_sketches(b2, "g", "v")
    merged = sketch.hll_merge_stores(s1, s2, "g")
    rebuilt = sketch.hll_group_sketches(b1.unionByName(b2), "g", "v")
    got = {
        r["g"]: r["approx_distinct"]
        for r in sketch.hll_estimates(merged, "g").collect()
    }
    want = {
        r["g"]: r["approx_distinct"]
        for r in sketch.hll_estimates(rebuilt, "g").collect()
    }
    # merged vs rebuilt agree within the sketch's error envelope
    for g in ("g1", "g2"):
        assert abs(got[g] - want[g]) <= max(3, int(0.05 * want[g])), (got, want)
    # estimate sanity: true distincts are 450 (g1) and 65 (g2); HLL at
    # lg_k=12 has ~1.6% relative error — allow 10%
    assert abs(got["g1"] - 450) <= 45
    assert abs(got["g2"] - 65) <= 7
    # merge order can shift the estimate a count or two (HIP vs
    # composite estimator) — but stays inside the same envelope
    swapped = sketch.hll_merge_stores(s2, s1, "g")
    got_swapped = {
        r["g"]: r["approx_distinct"]
        for r in sketch.hll_estimates(swapped, "g").collect()
    }
    for g in ("g1", "g2"):
        assert abs(got_swapped[g] - got[g]) <= max(3, int(0.05 * got[g]))


def test_hll_estimates_track_truth_across_layouts(spark):
    """Raw-data partition layout may move the estimate (sparse→dense
    promotion points differ), but every layout's answer stays inside
    the error envelope around the true distinct count."""
    df = spark.createDataFrame(
        [("g", f"v{i % 500}") for i in range(2000)], "g string, v string"
    )
    for layout in (df.repartition(1), df.repartition(17, "v")):
        est = sketch.hll_estimates(
            sketch.hll_group_sketches(layout, "g", "v"), "g"
        ).collect()[0]["approx_distinct"]
        assert abs(est - 500) <= 50


def test_bloom_merge_stores_is_incremental_build(spark):
    """Building on two batches then merging == building once on the
    union — exact, any order (bit-OR of position sets)."""
    b1 = _docs(spark, [f"a{i}" for i in range(25)])
    b2 = _docs(spark, [f"b{i}" for i in range(25)], start=100)
    m, k = 1024, 3
    merged = sketch.bloom_merge_stores(
        sketch.bloom_build(b1, "text", m, k),
        sketch.bloom_build(b2, "text", m, k),
    )
    rebuilt = sketch.bloom_build(b1.unionByName(b2), "text", m, k)
    assert sorted(r["pos"] for r in merged.collect()) == sorted(
        r["pos"] for r in rebuilt.collect()
    )


def test_countmin_never_underestimates(spark):
    """est >= true count for every key, with a width tight enough to
    force collisions; absent keys estimate >= 0 (possibly > 0 — the
    documented overestimate)."""
    rows = [(f"k{i % 37}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "w string")
    sk = sketch.countmin_build(df, "w", 32, 3)  # 37 keys into 32 buckets
    truth = {}
    for (w,) in rows:
        truth[w] = truth.get(w, 0) + 1
    probes = spark.createDataFrame([(k,) for k in truth], "w string")
    est = {
        r["w"]: r["est"]
        for r in sketch.countmin_estimate(probes, sk, "w", 32, 3).collect()
    }
    assert all(est[k] >= c for k, c in truth.items())
    # total cell mass per row equals the stream length exactly
    per_row = {
        r["row"]: r["s"]
        for r in sk.groupBy("row").agg(F.sum("cnt").alias("s")).collect()
    }
    assert per_row == {0: 1000, 1: 1000, 2: 1000}


def test_countmin_merge_is_exact(spark):
    """Merging two batch sketches == sketching the concatenation,
    cell-for-cell (integer mass commutes — unlike the HLL store)."""
    b1 = spark.createDataFrame([(f"a{i % 11}",) for i in range(200)], "w string")
    b2 = spark.createDataFrame([(f"a{i % 7}",) for i in range(150)], "w string")
    merged = sketch.countmin_merge(
        sketch.countmin_build(b1, "w", 64, 2),
        sketch.countmin_build(b2, "w", 64, 2),
    )
    rebuilt = sketch.countmin_build(b1.unionByName(b2), "w", 64, 2)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_countmin_weighted_and_guards(spark):
    df = spark.createDataFrame([("x", 5), ("x", 7), ("y", 1)], "w string, n long")
    sk = sketch.countmin_build(df, "w", 1024, 4, weight_col="n")
    probes = spark.createDataFrame([("x",), ("y",)], "w string")
    est = {
        r["w"]: r["est"]
        for r in sketch.countmin_estimate(probes, sk, "w", 1024, 4).collect()
    }
    # wide sketch, 2 keys: no collisions — estimates are exact sums
    assert est == {"x": 12, "y": 1}
    with pytest.raises(ValueError, match="width"):
        sketch.countmin_positions(F.col("w"), 1, 2)
    with pytest.raises(ValueError, match="depth"):
        sketch.countmin_positions(F.col("w"), 64, 0)


def test_bloom_null_keys_set_no_bits_and_both_paths_agree(spark):
    """A NULL key in the build input sets no bits (review-confirmed
    crash: the NULL position used to reach the broadcast bitset as
    INT64_MIN); NULL probe keys come back NULL on both paths."""
    members = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, text string"
    )
    m, k = 256, 2
    pos = sketch.bloom_build(members, "text", m, k)
    assert pos.filter(F.col("pos").isNull()).count() == 0
    probes = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "zzz")], "id long, text string"
    )
    a = {r["id"]: r["bloom_hit"]
         for r in sketch.bloom_probe_join(probes, pos, "text", m, k).collect()}
    b = {r["id"]: r["bloom_hit"]
         for r in sketch.bloom_probe_broadcast(probes, pos, "text", m, k).collect()}
    assert a == b
    assert a[1] is True and a[2] is None


def test_bloom_store_param_mismatch_raises(spark):
    """Probing (or having merged) a store built under different (m, k)
    fails loudly instead of silently producing false negatives."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    df = _docs(spark, ["x", "y"])
    pos_small = sketch.bloom_build(df, "text", 64, 2)
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="mismatch"):
        sketch.bloom_probe_join(df, pos_small, "text", 128, 2).collect()
    merged = sketch.bloom_merge_stores(
        pos_small, sketch.bloom_build(df, "text", 128, 2)
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="mismatch"):
        sketch.bloom_probe_join(df, merged, "text", 128, 2).collect()
    # a bare hand-built (pos) table without metadata is accepted as-is
    bare = pos_small.select("pos")
    out = sketch.bloom_probe_join(df, bare, "text", 64, 2)
    assert out.filter(~F.col("bloom_hit")).count() == 0


def test_countmin_estimate_passes_rows_through(spark):
    """Probe rows keep their columns and multiplicity; NULL keys get
    est NULL instead of vanishing."""
    df = spark.createDataFrame([("x",), ("x",)], "w string")
    sk = sketch.countmin_build(df, "w", 64, 2)
    probes = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None)], "id long, w string"
    )
    rows = sketch.countmin_estimate(probes, sk, "w", 64, 2).collect()
    assert len(rows) == 3
    by_id = {r["id"]: r["est"] for r in rows}
    assert by_id[1] == 2 and by_id[2] == 2 and by_id[3] is None


def test_countmin_build_has_partial_aggregation(spark):
    """The cell aggregation must map-side combine (partial_sum before
    the exchange) — the property that keeps the shuffle bounded by
    depth x width instead of the token stream."""
    df = spark.createDataFrame([(f"k{i}",) for i in range(50)], "w string")
    sk = sketch.countmin_build(df, "w", 128, 3)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan


def test_sketch_stores_roundtrip_parquet(spark, tmp_path):
    """The persistence claim, exercised: Bloom position tables (with
    their parameter metadata) and Count-Min cell tables round-trip
    through parquet and keep working; HLL sketch binaries survive the
    write/read and estimate identically."""
    docs = _docs(spark, [f"d{i}" for i in range(40)])
    m, k = 512, 3

    bpath = str(tmp_path / "bloom_store")
    sketch.bloom_build(docs, "text", m, k).write.parquet(bpath)
    bloom_back = spark.read.parquet(bpath)
    out = sketch.bloom_probe_join(docs, bloom_back, "text", m, k)
    assert out.filter(~F.col("bloom_hit")).count() == 0

    cpath = str(tmp_path / "cm_store")
    sketch.countmin_build(docs, "text", 64, 3).write.parquet(cpath)
    cm_back = spark.read.parquet(cpath)
    est = sketch.countmin_estimate(docs, cm_back, "text", 64, 3)
    assert est.filter(F.col("est") < 1).count() == 0

    hpath = str(tmp_path / "hll_store")
    g = docs.withColumn("g", F.lit("all"))
    sketch.hll_group_sketches(g, "g", "text").write.parquet(hpath)
    before = sketch.hll_estimates(
        sketch.hll_group_sketches(g, "g", "text"), "g"
    ).collect()[0]["approx_distinct"]
    after = sketch.hll_estimates(spark.read.parquet(hpath), "g").collect()[0][
        "approx_distinct"
    ]
    assert before == after


# ---------------------------------------------------------------------------
# quantile-histogram store
# ---------------------------------------------------------------------------


def test_qhist_merge_equals_whole_build(spark, tmp_path):
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators import sketch as S

    df = spark.range(0, 2000).select(
        (F.col("id") * 37 % 9973).alias("v"), "id"
    )
    whole = S.qhist_build(df, F.col("v"), 0, 10_000, 64)
    a = S.qhist_build(df.filter(F.col("id") % 3 == 0), F.col("v"), 0, 10_000, 64)
    b = S.qhist_build(df.filter(F.col("id") % 3 != 0), F.col("v"), 0, 10_000, 64)
    merged = S.qhist_merge(a, b)
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, merged.collect())
    )
    # store survives a parquet round trip (the persistence contract)
    path = str(tmp_path / "qhist")
    merged.write.parquet(path)
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, merged.collect())
    )
    # store size is bounded by the grid, never the corpus
    assert merged.count() <= 64


def test_qhist_quantiles_within_one_bin_of_exact(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators import sketch as S

    vals = [(i * 37 % 9973) for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    store = S.qhist_build(df, F.col("v"), 0, 10_000, 64)
    out = {
        (r["q_num"], r["q_den"]): r
        for r in S.qhist_quantiles(
            store, [(1, 2), (9, 10)], 0, 10_000, 64
        ).collect()
    }
    arr = np.sort(np.array(vals))
    for (num, den), r in out.items():
        # rank-exact target: the ceil(total*q)-th smallest value must
        # lie inside the reported bin's bounds
        target = -(-len(arr) * num // den)  # ceil
        v = arr[target - 1]
        assert r["bound_lo"] <= v < r["bound_hi"], (num, den, v, dict(r.asDict()))


def test_qhist_clamps_and_guards(spark):
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.operators import sketch as S

    df = spark.createDataFrame([(-50,), (0,), (99,), (100,), (10_000,)], "v long")
    bins = [
        r["bin"]
        for r in df.select(S.qhist_bin(F.col("v"), 0, 100, 10).alias("bin"))
        .collect()
    ]
    assert bins == [0, 0, 9, 9, 9]  # below clamps to 0, at/above hi to last
    import pytest as _pytest

    with _pytest.raises(ValueError):
        S.qhist_build(df, F.col("v"), 100, 100, 10)
    with _pytest.raises(TypeError):
        S.qhist_build(df, F.col("v"), 0.5, 100, 10)
    with _pytest.raises(ValueError):
        S.qhist_quantiles(df, [(0, 10)], 0, 100, 10)
    with _pytest.raises(ValueError):
        S.qhist_quantiles(df, [(11, 10)], 0, 100, 10)
