"""JSON source/sink round-trip, audits, the star-schema frames synthesizer,
and the codebook enrichment stage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.fixtures import box3, fixture_frames, frame
from vlm_data_pipeline_spark import enrich
from vlm_data_pipeline_spark.qa import generate_all
from vlm_data_pipeline_spark.schemas import FRAME
from vlm_data_pipeline_spark.sources import json_frames, star_frames


def test_json_roundtrip_and_audit(spark, tmp_path):
    frames = fixture_frames(spark)
    out = str(tmp_path / "bronze")
    json_frames.write_frames(frames, out)
    back = spark.read.parquet(out)
    assert back.count() == frames.count()
    # partitioned layout → partition pruning on dataset=
    assert (tmp_path / "bronze" / "dataset=sunrgbd").exists()

    # JSON read path with schema + summary exclusion + limit
    jdir = tmp_path / "json" / "sunrgbd" / "train"
    jdir.mkdir(parents=True)
    rows = frames.toJSON().collect()
    for i, r in enumerate(rows):
        (jdir / f"img_{i}.json").write_text(r)
    (jdir / "summary.json").write_text('{"dataset": "sunrgbd"}')
    loaded = json_frames.read_frames(spark, str(tmp_path / "json"))
    assert loaded.count() == len(rows)  # summary.json excluded
    assert loaded.filter(F.col("_source_file").contains("summary")).count() == 0
    assert json_frames.read_frames(spark, str(tmp_path / "json"), limit=2).count() == 2

    summary = {((r.dataset, r.split)): r for r in json_frames.dataset_summary(frames).collect()}
    assert summary[("ALL", "ALL")].n_frames == 6
    assert summary[("sunrgbd", "train")].n_boxes_3d == 7

    audit = {r.dataset: r for r in json_frames.parameter_audit(frames).collect()}
    assert audit["coco"].with_extrinsics == 0
    assert audit["sunrgbd"].with_camera == audit["sunrgbd"].n_files


def test_star_frames_shape(spark, sf_dir):
    frames = star_frames.synthetic_frames(spark, sf_dir)
    sample = frames.limit(50).collect()
    assert sample
    for r in sample:
        assert r.image_id.startswith("ord_")
        assert len(r.bounding_boxes_3d) >= 1
        # extrinsics present iff even order key
        key = int(r.image_id.split("_")[1])
        assert (r.camera.extrinsics is not None) == (key % 2 == 0)
    # QA pipeline runs end-to-end on the synthesized frames
    qa = generate_all(frames.limit(200))
    assert qa.count() > 0


def test_codebook_enrichment(spark):
    frames = fixture_frames(spark).unionByName(
        fixture_frames(spark)
        .sparkSession.createDataFrame(
            [
                frame(
                    "f7",
                    b3=[
                        box3(0.0, 0.0, 2.0, cat="object_11"),
                        box3(1.0, 0.0, 2.0, cat="object_12"),
                        box3(2.0, 0.0, 2.0, cat="object_11"),
                        box3(3.0, 0.0, 2.0, cat="keep_me"),
                    ],
                )
            ],
            schema=FRAME,
        )
    )
    inst = enrich.extract_unlabeled_instances(frames)
    assert inst.count() == 3  # two object_11 occurrences + one object_12
    reps = enrich.representative_per_instance(inst)
    assert reps.count() == 2  # deduped before "inference"

    cb = enrich.build_codebook(frames)
    rows = {r.instance_id: r for r in cb.collect()}
    assert set(rows) == {11, 12}
    assert all(r.label in enrich.codebook.LABEL_VOCAB for r in rows.values())

    labeled = enrich.apply_codebook(frames, cb, labeled_only=True)
    f7 = labeled.filter(F.col("image_id") == "f7").first()
    cats = [b.category for b in f7.bounding_boxes_3d]
    assert all(c.startswith("pseudo_") or c == "keep_me" for c in cats)
    assert len(cats) == 4  # all matched here (stub labels everything)

    hist = enrich.label_histogram(cb)
    assert hist.agg(F.sum("n_instances")).first()[0] == 2

    # determinism: same codebook twice
    cb2 = {(r.instance_id, r.label) for r in enrich.build_codebook(frames).collect()}
    assert cb2 == {(r.instance_id, r.label) for r in cb.collect()}


def test_apply_codebook_zero_shuffle(spark):
    """The snapshot rewrite is a per-row array program over a collected
    map literal — its plan must contain NO Exchange (the join+groupBy
    form reassembled the whole corpus through one)."""
    from tests.fixtures import fixture_frames

    frames = fixture_frames(spark)
    cb = spark.createDataFrame(
        [(7, "mug", 0.9, "A")],
        "instance_id int, label string, confidence double, stage string",
    )
    out = enrich.apply_codebook(frames, cb, labeled_only=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    # and row-for-row: every input frame survives (no groupBy merge)
    assert out.count() == frames.count()


# ---------------------------------------------------------------------------
# M2/M3 with a REAL numeric model: the tiny-MLP proves the inference seam
# (executor-singleton load, Arrow-batch featurize, vectorized forward,
# artifact round-trip) with actual weights — not the deterministic stub.
# ---------------------------------------------------------------------------


def _mlp_frames(spark, n=40):
    from tests.fixtures import FRAME, box3, frame

    boxes = [
        box3(float(i % 7), float(i % 5), 2.0, cat=f"object_{i}") for i in range(n)
    ]
    rows = [
        frame(f"m{j}", b3=boxes[j * 10 : (j + 1) * 10]) for j in range(n // 10)
    ]
    return spark.createDataFrame(rows, schema=FRAME)


def _expected_mlp(reps_rows, weights, vocab):
    """Driver-side reference forward pass over the representative rows —
    the same numpy ops the workers run; outputs must agree to the bit."""
    import pandas as pd

    from tests import tinymlp

    pdf = pd.DataFrame(
        {
            "instance_id": [r.instance_id for r in reps_rows],
            "rgb_path": [r.rgb_path for r in reps_rows],
            "pos": [r.pos for r in reps_rows],
        }
    )
    probs = tinymlp._forward(
        tinymlp._featurize(pdf, weights["W1"].shape[0]), weights
    )
    top = probs.argmax(axis=1)
    import numpy as np

    return {
        int(i): (vocab[t], float(p))
        for i, t, p in zip(
            pdf["instance_id"], top, probs[np.arange(len(pdf)), top]
        )
    }


def test_mlp_classifier_through_build_codebook(spark):
    from tests import tinymlp
    from vlm_data_pipeline_spark.enrich.codebook import LABEL_VOCAB

    frames = _mlp_frames(spark)
    w = tinymlp.make_fixture_weights()
    cb = enrich.build_codebook(
        frames, classifier=tinymlp.mlp_classifier(weights=w), min_confidence=0.0
    )
    got = {r.instance_id: (r.label, r.confidence) for r in cb.collect()}
    reps = enrich.representative_per_instance(
        enrich.extract_unlabeled_instances(frames)
    ).collect()
    assert len(got) == 40
    expected = _expected_mlp(reps, w, LABEL_VOCAB)
    assert got == expected  # labels AND float confidences, exact


def test_mlp_two_stage_cascade_real_weights(spark):
    """Stage A (seed-0 MLP) accepts above tau_high; only its failures hit
    Stage B (seed-1 MLP, a genuinely different model). Accept sets must
    match the driver-side reference decision for every instance."""
    from tests import tinymlp
    from vlm_data_pipeline_spark.enrich.codebook import LABEL_VOCAB

    frames = _mlp_frames(spark)
    wa = tinymlp.make_fixture_weights(seed=0)
    wb = tinymlp.make_fixture_weights(seed=1)
    tau_high = 0.20
    out = enrich.two_stage_cascade(
        frames,
        stage_a=tinymlp.mlp_classifier(weights=wa, stage="A"),
        stage_b=tinymlp.mlp_classifier(weights=wb, stage="B"),
        tau_high=tau_high,
        tau_mid=0.0,
    )
    got = {r.instance_id: (r.label, r.confidence, r.stage) for r in out.collect()}
    reps = enrich.representative_per_instance(
        enrich.extract_unlabeled_instances(frames)
    ).collect()
    ea = _expected_mlp(reps, wa, LABEL_VOCAB)
    eb = _expected_mlp(reps, wb, LABEL_VOCAB)
    expected = {}
    for iid in ea:
        la, ca = ea[iid]
        if ca >= tau_high:
            expected[iid] = (la, ca, "A")
        else:
            lb, cb_ = eb[iid]
            expected[iid] = (lb, cb_, "B")
    assert got == expected
    stages = {s for (_, _, s) in got.values()}
    assert stages == {"A", "B"}, "both cascade tiers must fire"
    spark.catalog.clearCache()  # cascade persists stage-A output


def test_mlp_weights_artifact_round_trip(spark, tmp_path):
    """save → load → identical arrays, and the weights_path production
    shape (lazy per-worker load) classifies identically to in-memory."""
    import numpy as np

    from tests import tinymlp

    w = tinymlp.make_fixture_weights(seed=3)
    p = str(tmp_path / "probe.npz")
    tinymlp.save_weights(w, p)
    back = tinymlp.load_weights(p)
    assert set(back) == set(w)
    assert all(np.array_equal(back[k], w[k]) for k in w)

    frames = _mlp_frames(spark, n=20)
    mem = enrich.build_codebook(
        frames, classifier=tinymlp.mlp_classifier(weights=w), min_confidence=0.0
    )
    disk = enrich.build_codebook(
        frames,
        classifier=tinymlp.mlp_classifier(weights_path=p),
        min_confidence=0.0,
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(mem) == as_set(disk)


def test_mlp_worker_singleton_loads_once():
    from tests import tinymlp

    calls = []

    def loader():
        calls.append(1)
        return tinymlp.make_fixture_weights(seed=9)

    a = tinymlp._cached_weights("test:once", loader)
    b = tinymlp._cached_weights("test:once", loader)
    assert a is b and calls == [1]


def test_mlp_classifier_arg_validation():
    import pytest as _pytest

    from tests import tinymlp

    with _pytest.raises(ValueError, match="exactly one"):
        tinymlp.mlp_classifier()
    with _pytest.raises(ValueError, match="exactly one"):
        tinymlp.mlp_classifier(
            weights=tinymlp.make_fixture_weights(), weights_path="x.npz"
        )


# ---------------------------------------------------------------------------
# M5 real pixel kernel
# ---------------------------------------------------------------------------


def _mask_png(h, w, boxes, speckles=()):
    """RGB mask PNG: white inside each (x0, y0, x1, y1) box + 1-px
    speckles — built with the engine's own encoder."""
    import numpy as np

    from vlm_data_pipeline_spark.functions.graphics import encode_png_rgb

    img = np.zeros((h, w, 3), dtype=np.uint8)
    for x0, y0, x1, y1 in boxes:
        img[y0:y1, x0:x1] = 255
    for x, y in speckles:
        img[y, x] = 255
    return encode_png_rgb(img)


def test_pixel_mask_refiner_tightens_and_denoises(spark):
    """A blob + speckle noise inside a loose prompt box: the open pass
    kills every speckle, the tight box is exactly the blob, the area is
    the blob's pixel count."""
    from vlm_data_pipeline_spark.enrich.codebook import refine_masks_from_pixels

    png = _mask_png(
        60, 80,
        boxes=[(30, 20, 50, 32)],
        speckles=[(10, 10), (70, 55), (33, 50)],
    )
    crops = spark.createDataFrame(
        [(1, 25, 15, 55, 40, bytearray(png))],
        "instance_id int, x_min int, y_min int, x_max int, y_max int, mask_png binary",
    )
    row = refine_masks_from_pixels(crops).collect()[0]
    assert (row.x_min, row.y_min, row.x_max, row.y_max) == (30, 20, 50, 32)
    assert row.mask_area == 20 * 12
    # refined ⊂ prompt: IoU = blob box / prompt box
    assert row.box_iou == round((20 * 12) / (30 * 25), 6)


def test_pixel_mask_refiner_keeps_largest_blob(spark):
    from vlm_data_pipeline_spark.enrich.codebook import refine_masks_from_pixels

    png = _mask_png(60, 80, boxes=[(5, 5, 15, 15), (30, 20, 60, 45)])
    crops = spark.createDataFrame(
        [(7, 0, 0, 80, 60, bytearray(png))],
        "instance_id int, x_min int, y_min int, x_max int, y_max int, mask_png binary",
    )
    row = refine_masks_from_pixels(crops).collect()[0]
    assert (row.x_min, row.y_min, row.x_max, row.y_max) == (30, 20, 60, 45)
    assert row.mask_area == 30 * 25


def test_pixel_mask_refiner_empty_mask_degrades_to_prompt(spark):
    """All-black mask (or one that erodes away): the stage emits the
    prompt box with area 0 / IoU 0.0 instead of dying — the documented
    'refinement failed' row."""
    from vlm_data_pipeline_spark.enrich.codebook import refine_masks_from_pixels

    png = _mask_png(40, 40, boxes=[], speckles=[(20, 20)])  # erodes away
    crops = spark.createDataFrame(
        [(9, 5, 5, 35, 35, bytearray(png))],
        "instance_id int, x_min int, y_min int, x_max int, y_max int, mask_png binary",
    )
    row = refine_masks_from_pixels(crops).collect()[0]
    assert (row.x_min, row.y_min, row.x_max, row.y_max) == (5, 5, 35, 35)
    assert row.mask_area == 0
    assert row.box_iou == 0.0


def test_pixel_mask_refiner_clips_outside_context(spark):
    """Mask pixels outside the context-expanded prompt box are ignored
    (the box PROMPT restricts the refinement, as with SAM)."""
    from vlm_data_pipeline_spark.enrich.codebook import refine_masks_from_pixels

    # blob partially outside the prompt+context window
    png = _mask_png(60, 80, boxes=[(0, 0, 40, 10)])
    crops = spark.createDataFrame(
        [(3, 20, 2, 36, 9, bytearray(png))],
        "instance_id int, x_min int, y_min int, x_max int, y_max int, mask_png binary",
    )
    row = refine_masks_from_pixels(crops, context_frac=0.0).collect()[0]
    # the open's erosion shaves the clip-window border, so the refined
    # box sits strictly inside the prompt window
    assert row.x_min >= 20 and row.x_max <= 36
    assert row.y_min >= 2 and row.y_max <= 9
    assert row.mask_area > 0
