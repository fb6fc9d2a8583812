"""CLI entry points (__main__.py): every subcommand end-to-end over
fixture data — the switch-from-the-reference usability surface."""

from __future__ import annotations

import pytest

from tests.fixtures import fixture_frames
from vlm_data_pipeline_spark.__main__ import main


def test_cli_qa_and_summary(spark, tmp_path):
    src = str(tmp_path / "frames")
    fixture_frames(spark).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "qa_out")
    assert main(["qa", "--frames", src, "--out", out, "--cpus", "4",
                 "--tasks", "object_count", "cam_obj_distance"]) == 0
    pairs = spark.read.json(f"{out}/pairs")
    assert pairs.count() > 0
    assert set(pairs.select("task").distinct().toPandas()["task"]) == {
        "object_count", "cam_obj_distance",
    }
    assert main(["summary", "--frames", src, "--cpus", "4"]) == 0


def test_cli_enrich_codebook_sink(spark, tmp_path):
    """The enrich subcommand writes its codebook through
    enrich.write_codebook: the read-back equals build_codebook on the
    same frames."""
    from pyspark.sql import functions as F

    from vlm_data_pipeline_spark.enrich import build_codebook, read_codebook

    frames = fixture_frames(spark).withColumn(
        "bounding_boxes_3d",
        F.transform(
            "bounding_boxes_3d",
            lambda b, i: F.when(
                i == 0, b.withField("category", F.lit("object_7"))
            ).otherwise(b),
        ),
    )
    src = str(tmp_path / "frames")
    frames.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "enrich_out")
    assert main(["enrich", "--frames", src, "--out", out, "--cpus", "4"]) == 0
    got = sorted(read_codebook(spark, f"{out}/codebook").collect())
    want = sorted(build_codebook(spark.read.parquet(src)).collect())
    assert got == want
    assert [r.instance_id for r in got] == [7]


def test_cli_clean(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "the data pipeline reads the parquet files quickly today ok"),
            (2, "hi"),  # quality-filtered
            (3, "the data pipeline reads the parquet files quickly today ok"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "clean_out")
    assert main(["clean", "--docs", src, "--out", out, "--cpus", "4",
                 "--jaccard", "0.8", "--scrub-pii"]) == 0
    kept = spark.read.parquet(f"{out}/clean")
    # doc 2 fails quality; docs 1/3 are near-dups -> min id survives
    assert sorted(r.doc_id for r in kept.collect()) == [1]


def test_cli_eval(spark, tmp_path):
    """Hand-computed AP through the eval subcommand (the Objectron
    eval.py analogue): greedy matching then VOC AP per category."""
    dets = spark.createDataFrame(
        [
            # chair, image A: two dets on one GT (second is a dup -> FP),
            # one det on the other GT
            ("A", "chair", 0.9, 0.0, 0.0, 10.0, 10.0),
            ("A", "chair", 0.8, 0.0, 0.0, 10.0, 10.0),
            ("A", "chair", 0.7, 20.0, 20.0, 30.0, 30.0),
            # table: a det with NO ground truth anywhere -> pure FP
            ("A", "table", 0.6, 0.0, 0.0, 5.0, 5.0),
        ],
        "image_id string, category string, score double, "
        "x_min double, y_min double, x_max double, y_max double",
    )
    gts = spark.createDataFrame(
        [
            ("A", "chair", 0.0, 0.0, 10.0, 10.0),
            ("A", "chair", 20.0, 20.0, 30.0, 30.0),
            # chair in an image with NO detections: a false negative that
            # must lower recall's denominator
            ("B", "chair", 0.0, 0.0, 10.0, 10.0),
            # category with ground truth but zero detections -> AP 0 row
            ("B", "plant", 5.0, 5.0, 8.0, 8.0),
        ],
        "image_id string, category string, "
        "x_min double, y_min double, x_max double, y_max double",
    )
    d_src, g_src = str(tmp_path / "dets"), str(tmp_path / "gts")
    dets.write.mode("overwrite").parquet(d_src)
    gts.write.mode("overwrite").parquet(g_src)
    out = str(tmp_path / "eval_out")
    assert main(["eval", "--detections", d_src, "--groundtruth", g_src,
                 "--out", out, "--cpus", "4"]) == 0
    rows = {r.category: r for r in spark.read.json(f"{out}/ap").collect()}
    # chair: hits in score order 1, 0, 1 over n_true=3 (one GT missed) ->
    # recall 1/3,1/3,2/3; precision 1,.5,2/3; p_mono 1,2/3,2/3;
    # AP = (1/3)*1 + 0 + (1/3)*(2/3) = 5/9 — the missed box COSTS recall
    assert rows["chair"].ap == pytest.approx(5 / 9, abs=1e-6)
    assert rows["chair"].n_true == 3
    # detections but no ground truth -> AP undefined (NULL), never fake 0/1
    assert rows["table"].ap is None
    # ground truth but no detections -> explicit AP-0 row
    assert rows["plant"].ap == 0.0
    assert rows["plant"].n_true == 1 and rows["plant"].n_detections == 0


def test_cli_eval_3d(spark, tmp_path):
    """3D mode: greedy matching with the axis-aligned closed-form IoU over
    center/extent boxes (the Objectron protocol's fast path)."""
    # GT: unit cube at origin. Det A overlaps 0.5^3 shifted -> IoU
    # = 0.125/(1+1-0.125) = 1/15 < 0.5 -> miss; det B is exact -> hit.
    dets = spark.createDataFrame(
        [
            ("A", "chair", 0.9, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0),   # exact: hit
            ("A", "chair", 0.8, 0.5, 0.5, 0.5, 1.0, 1.0, 1.0),   # IoU 1/15: miss
        ],
        "image_id string, category string, score double, "
        "x double, y double, z double, xl double, yl double, zl double",
    )
    gts = spark.createDataFrame(
        [("A", "chair", 0.0, 0.0, 0.0, 1.0, 1.0, 1.0)],
        "image_id string, category string, "
        "x double, y double, z double, xl double, yl double, zl double",
    )
    d_src, g_src = str(tmp_path / "d3"), str(tmp_path / "g3")
    dets.write.mode("overwrite").parquet(d_src)
    gts.write.mode("overwrite").parquet(g_src)
    out = str(tmp_path / "eval3d_out")
    assert main(["eval", "--detections", d_src, "--groundtruth", g_src,
                 "--mode", "3d", "--out", out, "--cpus", "4"]) == 0
    row = spark.read.json(f"{out}/ap").collect()[0]
    # hits: 1, 0 -> recall 1, 1; precision 1, .5; AP = 1*1 + 0*.5 = 1.0
    assert row.category == "chair" and row.ap == pytest.approx(1.0)
    assert row.n_true == 1 and row.n_detections == 2


def test_cli_mix(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, "tok " * 5, "en" if i % 2 else "fr") for i in range(20)],
        "doc_id long, text string, lang string",
    )
    src = str(tmp_path / "mixdocs")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "mix_out")
    assert main(["mix", "--docs", src, "--weights", "en=0.5,fr=0.5",
                 "--budget", "200", "--out", out, "--cpus", "4"]) == 0
    plan = {r.lang: r for r in spark.read.json(f"{out}/plan").collect()}
    # each lang: 10 docs x 5 tokens = 50 avail, target 100 -> 2 epochs
    assert plan["en"].epochs == 2 and plan["en"].residual_tokens == 0
    mixed = spark.read.parquet(f"{out}/mixed")
    assert mixed.count() == 40  # every doc exactly twice, nothing sampled


def test_cli_clean_jsonl_input(spark, tmp_path):
    """LLM corpora ship as JSONL(.gz); --format jsonl reads them
    natively through the same cleaning pipeline."""
    import gzip, json

    src = tmp_path / "docs_jsonl"
    src.mkdir()
    rows = [
        {"doc_id": 1,
         "text": "the data pipeline reads the parquet files quickly today ok"},
        {"doc_id": 2, "text": "hi"},
        {"doc_id": 3,
         "text": "the data pipeline reads the parquet files quickly today ok"},
    ]
    with gzip.open(src / "part-0.jsonl.gz", "wt") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    out = str(tmp_path / "clean_jsonl_out")
    assert main(["clean", "--docs", str(src), "--format", "jsonl",
                 "--out", out, "--cpus", "4"]) == 0
    kept = spark.read.parquet(f"{out}/clean")
    assert sorted(r.doc_id for r in kept.collect()) == [1]


def test_cli_mix_orc_input(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, "tok tok", "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    src = str(tmp_path / "docs_orc")
    docs.write.mode("overwrite").orc(src)
    out = str(tmp_path / "mix_orc_out")
    assert main(["mix", "--docs", src, "--format", "orc", "--weights",
                 "en=1.0", "--budget", "16", "--out", out, "--cpus", "4"]) == 0
    assert spark.read.parquet(f"{out}/mixed").count() == 8  # 2 epochs x 4


def test_cli_select(spark, tmp_path):
    """DSIR selection end-to-end: raw docs resembling the target corpus
    are preferentially selected."""
    target = spark.createDataFrame(
        [(100 + i, "clean prose flows nicely here") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(i, "clean prose flows nicely here") for i in range(10)]
        + [(10 + i, "junk spam words entirely different tokens") for i in range(10)],
        "doc_id long, text string",
    )
    tdir, rdir = str(tmp_path / "target"), str(tmp_path / "raw")
    target.write.mode("overwrite").parquet(tdir)
    raw.write.mode("overwrite").parquet(rdir)
    out = str(tmp_path / "sel_out")
    assert main(["select", "--docs", rdir, "--target", tdir, "--n", "8",
                 "--buckets", "64", "--out", out, "--cpus", "4"]) == 0
    picked = spark.read.parquet(f"{out}/selected")
    ids = sorted(r.doc_id for r in picked.collect())
    assert len(ids) == 8
    # target-like docs (ids 0-9) dominate the selection
    assert sum(1 for i in ids if i < 10) >= 6
    assert "text" in picked.columns  # selection joins the full docs back


def test_cli_dedup_spans_token_and_sentence(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f. Second sentence here. Third one now."),
            (2, "Extra lead! a b c d e f. Second sentence here. Third one now."),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs2")
    docs.write.mode("overwrite").parquet(src)
    out_t = str(tmp_path / "tok_out")
    assert main(["dedup-spans", "--docs", src, "--unit", "token", "--k", "5",
                 "--out", out_t, "--cpus", "4"]) == 0
    tok = {r.doc_id: r for r in spark.read.parquet(f"{out_t}/deduped").collect()}
    assert tok[1].n_removed == 0 and tok[2].n_removed > 0

    out_s = str(tmp_path / "sent_out")
    assert main(["dedup-spans", "--docs", src, "--unit", "sentence",
                 "--out", out_s, "--cpus", "4"]) == 0
    sent = {r.doc_id: r for r in spark.read.parquet(f"{out_s}/deduped").collect()}
    assert sent[1].n_removed == 0 and sent[2].n_removed == 3
    assert sent[2].text == "Extra lead!"


def test_cli_retrieve_single_and_batch(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "spark window join spark"),
            (2, "window only here"),
            (3, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs3")
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "ret_out")
    assert main(["retrieve", "--docs", src, "--terms", "spark,join",
                 "--k", "2", "--out", out, "--cpus", "4"]) == 0
    got = spark.read.parquet(f"{out}/retrieved")
    assert [r.doc_id for r in got.collect()] == [1]  # only doc 1 matches both

    qdir = str(tmp_path / "queries")
    spark.createDataFrame(
        [("q1", ["spark"]), ("q2", ["window"])],
        "query_id string, terms array<string>",
    ).write.mode("overwrite").parquet(qdir)
    pdir = str(tmp_path / "pos")
    spark.createDataFrame(
        [("q2", 2)], "query_id string, doc_id long"
    ).write.mode("overwrite").parquet(pdir)
    out2 = str(tmp_path / "neg_out")
    assert main(["retrieve", "--docs", src, "--queries", qdir,
                 "--positives", pdir, "--negatives", "2", "--k", "3",
                 "--out", out2, "--cpus", "4"]) == 0
    neg = spark.read.parquet(f"{out2}/retrieved").collect()
    # q2's positive (doc 2) must be excluded from its negatives
    assert not any(r.query_id == "q2" and r.doc_id == 2 for r in neg)

    import pytest as _pt

    with _pt.raises(SystemExit):
        main(["retrieve", "--docs", src, "--cpus", "4"])


def test_cli_render(spark, tmp_path):
    """The render subcommand writes one decodable PNG per sampled frame
    (visualize_enhanced_results.py analogue)."""
    import os

    from vlm_data_pipeline_spark.sources.png_codec import decode_png

    src = str(tmp_path / "frames")
    fixture_frames(spark).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "render_out")
    assert main(["render", "--frames", src, "--out", out, "--cpus", "4",
                 "--max-frames", "3", "--sort"]) == 0
    files = sorted(os.listdir(out))
    assert files == ["f1.png", "f2.png", "f3.png"]  # --sort: by image_id
    for f in files:
        with open(os.path.join(out, f), "rb") as fh:
            img = decode_png(fh.read())
        assert img.width == 640 and img.height == 480


def test_cli_tokenize_all_algos(spark, tmp_path):
    """tokenize trains+saves, reloads, and encodes with each of the
    three subword families; outputs append a tokens column (bpe/
    wordpiece) or project (id, tokens, n_pieces) for unigram."""
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "banana bandana nab")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "tok_docs")
    docs.write.mode("overwrite").parquet(src)
    for algo in ("bpe", "unigram", "wordpiece"):
        out = str(tmp_path / f"tok_out_{algo}")
        model = str(tmp_path / f"tok_model_{algo}")
        assert main(["tokenize", "--docs", src, "--out", out,
                     "--algo", algo, "--vocab-size", "24",
                     "--save-model", model, "--cpus", "4"]) == 0
        enc = spark.read.parquet(out)
        assert enc.count() == 2
        assert "tokens" in enc.columns
        # reload path: same artifact re-encodes without retraining
        out2 = str(tmp_path / f"tok_out2_{algo}")
        assert main(["tokenize", "--docs", src, "--out", out2,
                     "--algo", algo, "--model", model, "--cpus", "4"]) == 0
        a = sorted(map(tuple, enc.select("tokens").collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(out2).select("tokens").collect()))
        assert a == b
