"""Structured Streaming extension: every streaming query must agree with the
same transformation run in batch over the same finite input (the
batch-equivalence rule from SURVEY §7.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMALL
from vlm_data_pipeline_spark import streaming


def run_stream(df, tmp_path, name: str, output_mode: str = "complete"):
    """Drain a finite stream through a memory sink with availableNow."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return df.sparkSession.table(name)


def as_sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def events_stream(spark):
    return lambda: streaming.stream_events(spark, SF_DIR_SMALL)


@pytest.fixture(scope="module")
def events_batch(spark):
    return streaming.batch_events(spark, SF_DIR_SMALL)


def test_tumbling_batch_equivalence(spark, tmp_path, events_stream, events_batch):
    got = run_stream(
        streaming.tumbling_event_stats(events_stream()), tmp_path, "tumbling"
    )
    want = streaming.tumbling_event_stats(events_batch)
    assert as_sorted_rows(got) == as_sorted_rows(want)
    assert got.count() > 0


def test_sliding_batch_equivalence(spark, tmp_path, events_stream, events_batch):
    got = run_stream(
        streaming.sliding_event_stats(events_stream()), tmp_path, "sliding"
    )
    want = streaming.sliding_event_stats(events_batch)
    assert as_sorted_rows(got) == as_sorted_rows(want)
    # sliding windows overlap: strictly more windows than events span / slide
    assert got.count() > streaming.tumbling_event_stats(events_batch).count() / 2


def test_session_window_batch_equivalence(spark, tmp_path, events_stream, events_batch):
    got = run_stream(
        streaming.session_window_stats(events_stream()), tmp_path, "sessions"
    )
    want = streaming.session_window_stats(events_batch)
    assert as_sorted_rows(got) == as_sorted_rows(want)
    # agrees with the batch sessionization on total session count
    n_sessions = got.count()
    assert n_sessions >= events_batch.select("user_id").distinct().count()


def test_streaming_dedupe(spark, tmp_path, events_stream, events_batch):
    got = run_stream(
        streaming.dedupe_events(events_stream()).select("event_id"),
        tmp_path,
        "dedup",
        output_mode="append",
    )
    assert got.count() == events_batch.select("event_id").distinct().count()


def test_running_user_totals_stateful(spark, tmp_path, events_stream, events_batch):
    got = run_stream(
        streaming.running_user_totals(events_stream()),
        tmp_path,
        "running",
        output_mode="update",
    )
    # update mode: keep the last emitted row per user (the final totals)
    final = (
        got.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("value_total").alias("value_total"),
        )
        .withColumn("value_total", F.round("value_total", 2))
    )
    want = streaming.running_user_totals(events_batch).withColumn(
        "value_total", F.round("value_total", 2)
    )
    assert as_sorted_rows(final) == as_sorted_rows(want)


def test_qa_pipeline_streams_unchanged(spark, tmp_path):
    """The zero-shuffle QA tasks run UNCHANGED on a readStream: write the
    fixture frames to parquet, stream them through generate_all in append
    mode, and assert the output equals the batch run row-for-row. (A
    groupBy/window/dropDuplicates in any task would break append mode —
    this is the streaming payoff of the in-row rewrite.)"""
    from tests.fixtures import fixture_frames
    from vlm_data_pipeline_spark.qa import generate_all

    frames = fixture_frames(spark)
    src = str(tmp_path / "frames_src")
    frames.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    tasks = ["object_count", "object_3d_size", "cam_obj_rel_dist"]
    stream_in = spark.readStream.schema(schema).parquet(src)
    out = run_stream(
        generate_all(stream_in, tasks=tasks),
        tmp_path,
        "qa_stream",
        output_mode="append",
    )
    batch = generate_all(spark.read.parquet(src), tasks=tasks)
    assert as_sorted_rows(out) == as_sorted_rows(batch)
    assert out.count() > 0


def test_curation_ops_stream_unchanged(spark, tmp_path):
    """The LLM curation surface is stateless per-row (quality rules,
    repetition signals, PII scrub), so the SAME functions run unchanged
    on a readStream in append mode — stream/batch outputs equal
    row-for-row. Sampling/dedup (windows, joins, iteration) are the
    deliberate batch-side exceptions."""
    from vlm_data_pipeline_spark.functions.text import repetition_features
    from vlm_data_pipeline_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "the data pipeline reads the parquet files quickly today"),
            (2, "hi"),
            (3, "spam spam spam spam spam spam spam"),
            (4, "mail jo@corp.io or https://ex.com now the end is here ok"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def transform(df):
        feats = repetition_features(F.col("text"))
        return curation.quality_filter(df).select(
            "doc_id",
            curation.scrub_pii(F.col("text")).alias("clean"),
            feats["dup_line_fraction"].alias("dlf"),
        )

    out = run_stream(
        transform(spark.readStream.schema(schema).parquet(src)),
        tmp_path,
        "curation_stream",
        output_mode="append",
    )
    batch = transform(spark.read.parquet(src))
    assert as_sorted_rows(out) == as_sorted_rows(batch)
    assert out.count() == 2  # docs 1 and 4 pass the rules
    assert {r.clean for r in out.collect() if r.doc_id == 4} == {
        "mail <EMAIL> or <URL> now the end is here ok"
    }


def test_chunk_documents_streams_unchanged(spark, tmp_path):
    """chunk_documents is a per-row transform+explode, so it runs
    unchanged on a readStream in append mode with row-identical output.
    (filter_blocked_domains semi/anti-joins an id set derived from the
    input — like mixing and paragraph dedup, a deliberate batch-side
    exception: streaming-on-right anti-joins are unsupported.)"""
    from vlm_data_pipeline_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),
            (2, "a b c"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "chunk_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def transform(df):
        return curation.chunk_documents(df, max_tokens=4, overlap=1)

    out = run_stream(
        transform(spark.readStream.schema(schema).parquet(src)),
        tmp_path,
        "chunk_stream",
        output_mode="append",
    )
    batch = transform(spark.read.parquet(src))
    assert as_sorted_rows(out) == as_sorted_rows(batch)
    assert sorted({r.doc_id for r in out.collect()}) == [1, 2]  # empty doc: none


def test_modality_stages_stream_unchanged(spark, tmp_path):
    """The three modality feature stages are stateless mapInPandas over
    payload rows, so they run UNCHANGED on a readStream in append mode —
    image decode, audio loudness, and per-frame video hashes all equal
    their batch runs row-for-row."""
    from tests.test_png_codec import encode_png
    from vlm_data_pipeline_spark.sources.multimodal import (
        audio_features,
        decode_images,
        video_frame_hashes,
    )
    from vlm_data_pipeline_spark.sources.wav_codec import encode_wav
    from vlm_data_pipeline_spark.sources.y4m_codec import encode_y4m

    import numpy as np

    png = encode_png([[10, 20, 30, 40, 50, 60]], color_type=2)  # 2x1 RGB
    wav = encode_wav(0.5 * np.sin(np.linspace(0, 20, 800)), 8000)
    y4m = encode_y4m(
        [[[(x * 3 + y) % 256 for x in range(16)] for y in range(16)]]
    )
    imgs = spark.createDataFrame(
        [("i1", bytearray(png))], "asset_id string, payload binary"
    )
    auds = spark.createDataFrame(
        [("a1", bytearray(wav))], "asset_id string, payload binary"
    )
    vids = spark.createDataFrame(
        [("v1", bytearray(y4m))], "asset_id string, payload binary"
    )
    for name, df, stage in (
        ("imgs", imgs, decode_images),
        ("auds", auds, audio_features),
        ("vids", vids, video_frame_hashes),
    ):
        src = str(tmp_path / f"{name}_src")
        df.write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        out = run_stream(
            stage(spark.readStream.schema(schema).parquet(src)),
            tmp_path,
            f"{name}_stream",
            output_mode="append",
        )
        batch = stage(spark.read.parquet(src))
        assert as_sorted_rows(out) == as_sorted_rows(batch)
        assert out.count() >= 1


def test_round5_stateless_ops_stream_unchanged(spark, tmp_path):
    """The round-5 scoring/normalization operators are pure in-row
    programs (map-literal models, regex/array ops), so each runs
    UNCHANGED on a readStream in append mode: classifier scoring, DSIR
    scoring, URL canonicalization, winnowing fingerprint selection, and
    the resize pixel stage all equal their batch runs row-for-row.
    (Training/ratio fitting, span-removal's corpus-wide window, and
    pair joins are deliberate batch-side steps — models train offline,
    scoring streams.)"""
    from pyspark.sql import functions as F

    from tests.test_png_codec import encode_png
    from vlm_data_pipeline_spark.functions.text import (
        tokens,
        winnow_fingerprints,
    )
    from vlm_data_pipeline_spark.operators import curation
    from vlm_data_pipeline_spark.operators.dedup import canonical_url
    from vlm_data_pipeline_spark.sources.multimodal import resize_images

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma delta words flow", "https://www.X.com/a/?utm_source=f&b=1"),
            (2, "spam spam spam buy now", "HTTP://Y.com:80/p/"),
            (3, "", "https://z.com/q?z=2&a=1#frag"),
        ],
        "doc_id long, text string, url string",
    )
    src = str(tmp_path / "r5_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    weights = [(7 * b) % 100 - 50 for b in range(32)]
    ratios_rows = [(b, (b % 5 - 2) * 0.25) for b in range(16)]

    def single(df, op):
        return op(df)

    ops = {
        "clf": lambda df: curation.quality_classifier_scores(
            df, [w * 10**10 for w in weights]
        ),
        "dsir": lambda df: curation.dsir_scores(
            df,
            spark.createDataFrame(ratios_rows, "bucket long, log_ratio double"),
            n_buckets=16,
        ),
        "urlwin": lambda df: df.select(
            "doc_id",
            canonical_url(F.col("url")).alias("canon"),
            F.size(winnow_fingerprints(tokens(F.col("text")))).alias("n_fp"),
        ),
    }
    for name, op in ops.items():
        out = run_stream(
            single(spark.readStream.schema(schema).parquet(src), op),
            tmp_path,
            f"r5_{name}_stream",
            output_mode="append",
        )
        batch = single(spark.read.parquet(src), op)
        assert as_sorted_rows(out) == as_sorted_rows(batch), name

    # resize: payload-bearing stateless mapInPandas stage
    png = encode_png([[10, 20], [30, 40]], bit_depth=8, color_type=0)
    assets = spark.createDataFrame(
        [("a", bytearray(png))], "asset_id string, payload binary"
    )
    asrc = str(tmp_path / "r5_assets")
    assets.write.mode("overwrite").parquet(asrc)
    aschema = spark.read.parquet(asrc).schema
    out = run_stream(
        resize_images(
            spark.readStream.schema(aschema).parquet(asrc), max_side=1
        ),
        tmp_path,
        "r5_resize_stream",
        output_mode="append",
    )
    batch = resize_images(spark.read.parquet(asrc), max_side=1)
    assert as_sorted_rows(out) == as_sorted_rows(batch)


def test_incremental_minhash_streaming_ingestion(spark, tmp_path):
    """The batch-append near-dup loop end-to-end under Structured
    Streaming: each micro-batch probes the persistent signature store
    via minhash_incremental_pairs inside foreachBatch, then appends its
    own signatures (store := store ∪ batch sigs — the documented loop
    invariant). Whatever the micro-batch split, the UNORDERED pair set
    and estimates must equal the single-shot batch run: same-micro-batch
    pairs surface as 'batch', cross-micro-batch ones as 'store', never
    lost, never duplicated."""
    from vlm_data_pipeline_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = []
    for i in range(12):
        # three near-dup clusters of 4 (ids 0-3, 4-7, 8-11), distinct
        # across clusters
        cluster = i // 4
        word = f"tail{i % 4}"
        rows.append((i, f"{base} c{cluster} c{cluster} {word}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store0_docs = docs.filter(F.col("doc_id") % 4 == 0)
    stream_docs = docs.filter(F.col("doc_id") % 4 != 0)

    store_path = str(tmp_path / "sig_store")
    dedup.minhash_signatures(store0_docs).write.mode("overwrite").parquet(
        store_path
    )
    src = str(tmp_path / "incoming")
    stream_docs.repartition(3).write.mode("overwrite").parquet(src)

    got = []

    def process(bdf, _bid):
        store = bdf.sparkSession.read.parquet(store_path)
        got.extend(
            dedup.minhash_incremental_pairs(
                bdf, store, threshold=0.5
            ).collect()
        )
        dedup.minhash_signatures(bdf).write.mode("append").parquet(store_path)

    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_inc_minhash"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    single = dedup.minhash_incremental_pairs(
        stream_docs, dedup.minhash_signatures(store0_docs), threshold=0.5
    ).collect()

    def pairs(rs):
        return {
            frozenset((r.id_a, r.id_b)): round(r.est_jaccard, 9) for r in rs
        }

    assert len(pairs(got)) == len(got), "no pair reported twice"
    assert pairs(got) == pairs(single)
    # non-vacuous: clusters straddle the store/stream and micro-batch
    # splits, so both sources must have fired
    assert {r.source for r in got} == {"batch", "store"}
    assert len(got) >= 12


def test_point_in_interval_join_stream_static(spark, tmp_path):
    """The binned point-in-interval join runs UNCHANGED as a
    stream-static join: the streaming point side lands in exactly one
    bin (a narrow withColumn, no stateful op), the static interval side
    replicates as in batch, and the equi-join on the bin id is a
    supported stream-static inner join in append mode. Stream output ==
    batch output row-for-row."""
    from vlm_data_pipeline_spark.operators.intervals import (
        point_in_interval_join,
    )

    points = spark.createDataFrame(
        [(i, float(i % 40)) for i in range(200)], "pid long, p double"
    )
    ivals = spark.createDataFrame(
        [(j, float(j * 3), float(j * 3 + 5)) for j in range(12)],
        "iid long, s double, e double",
    )
    src = str(tmp_path / "points_src")
    points.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    stream_points = spark.readStream.schema(schema).parquet(src)
    got = run_stream(
        point_in_interval_join(stream_points, ivals, "p", "s", "e", 4.0),
        tmp_path,
        "interval_stream",
        output_mode="append",
    )
    want = point_in_interval_join(
        spark.read.parquet(src), ivals, "p", "s", "e", 4.0
    )
    assert as_sorted_rows(got) == as_sorted_rows(want)
    assert got.count() > 0


def test_bloom_gate_streams_unchanged(spark, tmp_path):
    """The Bloom seen-set gate is a stateless map (broadcast bitset +
    pandas UDF), so it runs UNCHANGED on a readStream in append mode —
    the streaming face of decontamination: build the filter offline,
    gate the ingest stream. Stream output == batch output row-for-row."""
    from vlm_data_pipeline_spark.operators import sketch

    seen = spark.createDataFrame(
        [(i, f"seen-{i}") for i in range(20)], "id long, text string"
    )
    m, k = 512, 3
    positions = sketch.bloom_build(seen, "text", m, k)

    probe_rows = [(i, f"seen-{i}") for i in range(0, 20, 2)] + [
        (100 + i, f"new-{i}") for i in range(30)
    ]
    src = str(tmp_path / "bloom_probe_src")
    probes = spark.createDataFrame(probe_rows, "id long, text string")
    probes.write.parquet(src)
    schema = probes.schema

    def gate(df):
        return sketch.bloom_probe_broadcast(df, positions, "text", m, k)

    out = run_stream(
        gate(spark.readStream.schema(schema).parquet(src)),
        tmp_path,
        "bloom_gate_stream",
        output_mode="append",
    )
    batch = gate(spark.read.parquet(src))
    assert as_sorted_rows(out) == as_sorted_rows(batch)
    got = {r.id: r.bloom_hit for r in out.collect()}
    assert all(got[i] for i in range(0, 20, 2))  # members always hit
    # with fp(512, 3, 20) ≈ 0.1% the 30 fresh keys all pass the gate
    assert sum(got[100 + i] for i in range(30)) == 0


def test_countmin_incremental_ingest_stream(spark, tmp_path):
    """Count-Min cells build per micro-batch and merge into a store via
    foreachBatch — after draining, the store equals the single-shot
    sketch of all batches cell-for-cell (CM merge is exact integer
    mass, so the streaming loop loses nothing)."""
    from vlm_data_pipeline_spark.operators import sketch

    batches = [
        [(f"k{i % 13}",) for i in range(120)],
        [(f"k{i % 7}",) for i in range(90)],
        [(f"q{i % 5}",) for i in range(40)],
    ]
    src = str(tmp_path / "cm_src")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "w string").write.parquet(f"{src}/b{i}")
    schema = spark.createDataFrame(batches[0], "w string").schema

    store = {"df": None}

    def process(batch_df, _bid):
        cells = sketch.countmin_build(batch_df, "w", 64, 3)
        merged = (
            cells if store["df"] is None
            else sketch.countmin_merge(store["df"], cells)
        )
        # pin the store like a persisted table would
        store["df"] = spark.createDataFrame(
            merged.collect(), "row int, bucket long, cnt long"
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "cm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    rebuilt = sketch.countmin_build(
        spark.createDataFrame(all_rows, "w string"), "w", 64, 3
    )
    assert sorted(map(tuple, store["df"].collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_compression_gate_streams_unchanged(spark, tmp_path):
    """compression_gate is a stateless per-row Arrow kernel, so it runs
    unchanged on a readStream in append mode — the round-8 quality
    signal composes into the streaming ingestion funnel like the other
    in-row curation ops."""
    from vlm_data_pipeline_spark.operators import curation

    docs = spark.createDataFrame(
        [
            (1, "spam " * 300),
            (2, "a perfectly ordinary sentence about data pipelines "
                "followed by different unrelated words entirely"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "cgate_src")
    docs.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def transform(df):
        return curation.compression_gate(df).select(
            "doc_id", "compression_ppm", "compression_flag"
        )

    out = run_stream(
        transform(spark.readStream.schema(schema).parquet(src)),
        tmp_path,
        "cgate_stream",
        output_mode="append",
    )
    batch = transform(spark.read.parquet(src))
    assert as_sorted_rows(out) == as_sorted_rows(batch)
    flags = {r.doc_id: r.compression_flag for r in out.collect()}
    assert flags == {1: "too_repetitive", 2: "ok", 3: "null_text"}
