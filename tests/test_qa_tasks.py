"""QA task generators on the analytic fixture: expected answers, filters,
dedupe, multiple-choice structure, and determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.fixtures import fixture_frames
from vlm_data_pipeline_spark.qa import TASKS, generate_all, qa_summary
from vlm_data_pipeline_spark.qa import tasks2d, tasks3d


@pytest.fixture(scope="module")
def frames(spark):
    df = fixture_frames(spark)
    df.cache().count()
    return df


def _by_image(rows):
    out = {}
    for r in rows:
        out.setdefault(r.metadata["image_id"], []).append(r)
    return out


def test_object_count_values(frames):
    rows = tasks3d.object_count(frames).collect()
    by_img = _by_image(rows)
    # f2: 3 chairs + 1 table → 4 objects total ≤ 10 → category-specific on
    # the modal category (chair, count 3)
    (f2,) = by_img["f2"]
    assert f2.question == "How many chairs are visible in this image?"
    assert f2.answer == "3"
    # f6: single lamp
    (f6,) = by_img["f6"]
    assert f6.answer == "1" and "lamp" in f6.question
    # f3 (no boxes) absent
    assert "f3" not in by_img


def test_object_3d_size_answer_structure(frames):
    rows = tasks3d.object_3d_size(frames).collect()
    by_img = _by_image(rows)
    # f2 has 2 categories → 2 questions (per-category dedupe)
    assert len(by_img["f2"]) == 2
    for r in rows:
        assert r.answer in ("A", "B", "C", "D")
        correct = r.metadata["answer_value"]
        assert correct in r.options
        # answer letter points at the correct value
        assert r.options[ord(r.answer) - 65] == correct
    # f2 table: max dim 2.4 m → 240.0 cm
    table = [r for r in by_img["f2"] if "table" in r.question][0]
    assert table.metadata["correct_size_cm"] == "240.0"


def test_cam_obj_distance_values(frames):
    rows = tasks3d.cam_obj_distance(frames).collect()
    by_img = _by_image(rows)
    # f6 lamp at (0.6, 0.8, 0) → distance exactly 1.0
    (f6,) = by_img["f6"]
    assert f6.answer == "1.0"
    # f1 chair at (0,0,2) → 2.0; table at (3,0,2) → sqrt(13)≈3.6
    f1 = {r.metadata["category"]: r.answer for r in by_img["f1"]}
    assert f1 == {"chair": "2.0", "table": "3.6"}


def test_obj_obj_distance_filters_and_value(frames):
    rows = tasks3d.obj_obj_distance(frames).collect()
    by_img = _by_image(rows)
    # f1: unit cubes 3 m apart → min vertex distance 2.0
    (f1,) = by_img["f1"]
    assert f1.answer == "2.0"
    # f4: gaps 0.05 (<0.2) and 28.5/27.45 (>20) all filtered
    assert "f4" not in by_img


def test_box_pairs_max_boxes_bound(spark, frames):
    """J8 pair bound (SURVEY §7.3; VERDICT r12 #2): a pathological
    heavy frame must not materialize an n² in-row pair array. With
    max_boxes=N a 3,000-box frame yields exactly N·(N−1)/2 pairs (the
    unbounded form would build ~4.5M structs in ONE array cell), the
    survivors are the N largest-volume boxes, and pair ids keep their
    ORIGINAL array positions."""
    from tests.fixtures import box3, frame as mk_frame
    from vlm_data_pipeline_spark.schemas import FRAME

    n_boxes, cap = 3000, 32
    # volumes descend with i → top-`cap` by volume = the first `cap`
    boxes = [
        box3(float(i % 50), float(i // 50) * 0.1, 2.0,
             xl=1.0 + (n_boxes - i) * 1e-3, cat=f"c{i}")
        for i in range(n_boxes)
    ]
    heavy = spark.createDataFrame([mk_frame("big", b3=boxes)], schema=FRAME)
    got = tasks3d._box_pairs(heavy, max_boxes=cap).collect()
    assert len(got) == cap * (cap - 1) // 2
    # survivors = largest volumes = original positions 0..cap-1,
    # enumerated i<j over ORIGINAL indices
    assert {(r.pos_a, r.pos_b) for r in got} == {
        (i, j) for i in range(cap) for j in range(i + 1, cap)
    }
    # under the cap the bounded path is row-identical to unbounded —
    # the default (None) stays exact reference parity
    base = tasks3d.obj_obj_distance(frames).collect()
    capped = tasks3d.obj_obj_distance(frames, max_boxes=64).collect()
    assert sorted(map(str, base)) == sorted(map(str, capped))
    rel_base = tasks3d.obj_obj_rel_pos(frames).collect()
    rel_capped = tasks3d.obj_obj_rel_pos(frames, max_boxes=64).collect()
    assert sorted(map(str, rel_base)) == sorted(map(str, rel_capped))


def test_obj_obj_rel_pos(frames):
    rows = tasks3d.obj_obj_rel_pos(frames).collect()
    by_img = _by_image(rows)
    # f4 has null extrinsics → excluded entirely
    assert "f4" not in by_img
    # f1 pair: A at x=0, B at x=3 → only horizontal aspect (left) available
    (f1,) = by_img["f1"]
    assert f1.answer == "left"
    assert f1.metadata["horizontal_relation"] == "Left"
    assert f1.metadata["depth_relation"] == "Same depth"


def test_cam_obj_rel_dist_consistency(frames):
    rows = tasks3d.cam_obj_rel_dist(frames).collect()
    assert rows
    for r in rows:
        d1, d2 = float(r.metadata["distance1"]), float(r.metadata["distance2"])
        closest = r.metadata["object1"] if d1 < d2 else r.metadata["object2"]
        farthest = r.metadata["object1"] if d1 > d2 else r.metadata["object2"]
        if r.metadata["variant"] == "v1_closest":
            assert r.answer == closest
        else:
            assert r.answer == farthest
    # null-extrinsics frame excluded
    assert all(r.metadata["image_id"] != "f4" for r in rows)


def test_2d_tasks(frames):
    # object_count_2d: only f5 has 2D boxes → 4 objects
    rows = tasks2d.object_count_2d(frames).collect()
    assert len(rows) == 1 and rows[0].answer == "4"
    # object_count_mc: chair appears 3× in f5 (class_3 parses to chair,
    # plus two literal chairs) → one MC question
    mc = tasks2d.object_count_mc(frames).collect()
    assert len(mc) == 1
    assert mc[0].metadata["correct_count"] == "3"
    assert mc[0].options[ord(mc[0].answer) - 65] == mc[0].metadata["answer_value"]
    # bbox_2d_size: tiny box (area 6) filtered; others ≥ 100 px² pass
    sizes = tasks2d.bbox_2d_size(frames).collect()
    cats = {r.metadata["category"] for r in sizes}
    assert "tiny" not in cats and "chair" in cats
    # object_2d_size: class_3 → chair via mapping; area/width/height answer
    s2 = tasks2d.object_2d_size(frames).collect()
    assert all(r.metadata["category"] != "tiny" for r in s2)


def test_class_category_parsing(frames):
    rows = tasks3d.cam_obj_distance(frames).collect()
    f5 = {r.metadata["category"]: r.metadata["readable_category"]
          for r in rows if r.metadata["image_id"] == "f5"}
    assert f5["class_3"] == "chair"
    assert f5["class_999"] == "object_999"


def test_generate_all_and_summary(frames):
    all_qa = generate_all(frames)
    summary = {r.task: r.n_questions for r in qa_summary(all_qa).collect()}
    assert set(summary) == set(TASKS)
    assert all(n > 0 for n in summary.values())


def test_generate_all_routes_by_probed_modality(spark, sf_dir, tmp_path):
    """generate_all's one modality check is a limit-1 probe on the
    persisted frames. After a parquet round-trip the synthetic corpus's
    absent 2D boxes are data, not a literal NULL: the union is exactly the
    six 3D tasks over the 3D-routed frames, and with both box columns NULL
    it is empty with the QA_PAIR columns plus task."""
    from vlm_data_pipeline_spark.qa.runner import TASKS_3D
    from vlm_data_pipeline_spark.schemas import QA_PAIR
    from vlm_data_pipeline_spark.sources.star_frames import synthetic_frames

    src = str(tmp_path / "frames")
    synthetic_frames(spark, sf_dir).write.parquet(src)
    frames = spark.read.parquet(src)

    got = sorted(
        (r.id, r.task, r.answer) for r in generate_all(frames).collect()
    )
    assert {t for _, t, _ in got} == TASKS_3D
    fr3 = frames.filter(F.size("bounding_boxes_3d") > 0)
    want = sorted(
        (r.id, t, r.answer) for t in TASKS_3D for r in TASKS[t](fr3).collect()
    )
    assert got == want

    no_boxes = frames
    for c in ("bounding_boxes_3d", "bounding_boxes_2d"):
        no_boxes = no_boxes.withColumn(
            c, F.lit(None).cast(frames.schema[c].dataType)
        )
    empty = generate_all(no_boxes)
    assert empty.columns == [*QA_PAIR.fieldNames(), "task"]
    assert empty.count() == 0


def test_determinism(frames):
    """Hash-seeded draws: identical output across runs and partitionings."""
    a = sorted(
        (r.id, r.question, r.answer, tuple(r.options or []))
        for r in tasks3d.object_3d_size(frames).collect()
    )
    b = sorted(
        (r.id, r.question, r.answer, tuple(r.options or []))
        for r in tasks3d.object_3d_size(frames.repartition(7)).collect()
    )
    assert a == b


def test_all_tasks_zero_shuffle(frames):
    """The 100 TB property: every QA task is scan → per-row array math →
    project, with NO exchange (shuffle) anywhere — per-frame histograms,
    first-per-category dedupe, pair generation, and content-derived ids
    are all in-row. If a window or groupBy sneaks back in, this fails."""
    for name, fn in TASKS.items():
        plan = fn(frames)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:1500]}"
        assert "Window" not in plan, f"{name} uses a window:\n{plan[:1500]}"


def test_first_box_per_category_null_category(spark):
    """A NULL box category is a legitimate group: the in-row dedupe must
    keep it (like the window form did), not emit an all-null (pos, box)
    row."""
    from tests.fixtures import frame, box3
    from vlm_data_pipeline_spark.qa.base import first_box_per_category
    from vlm_data_pipeline_spark.schemas import FRAME

    b_null = box3(1.0, 0.0, 2.0, cat="chair")
    b_null["category"] = None
    fr = spark.createDataFrame(
        [frame("fnull", b3=[box3(0.0, 0.0, 2.0, cat="chair"), b_null,
                            dict(b_null, x=5.0)])],
        FRAME,
    )
    out = first_box_per_category(fr).collect()
    by_cat = {r.box.category: r for r in out}
    assert set(by_cat) == {"chair", None}
    # the null-category winner is the FIRST null-category box (pos 1), and
    # its payload survives intact
    assert by_cat[None].pos == 1
    assert by_cat[None].box.x == 1.0


def test_parse_class_category_at_production_mapping_size(spark):
    """The lookup must stay correct AND codegen-safe at the ~300-entry
    production mapping size (class_mapping.py:8-66 scale; entries here are
    synthesized — semantics, not contents). A when-chain at this size
    forces interpreted fallback; the map literal must not."""
    from vlm_data_pipeline_spark.qa.base import CLASS_NAMES, parse_class_category

    big = dict(CLASS_NAMES)
    big.update({1000 + i: f"category_{i}" for i in range(300)})
    df = spark.createDataFrame(
        [("class_3",), ("class_1299",), ("class_999999",), ("chair",), ("",)],
        "cat string",
    )
    out = df.select(parse_class_category(F.col("cat"), big).alias("r"))
    assert [r.r for r in out.collect()] == [
        "chair",          # CLASS_NAMES[3]
        "category_299",   # big[1299]
        "object_999999",  # unknown id fallback
        "chair",          # pass-through
        "",               # pass-through
    ]
    # single-expression plan: the projection must not blow up into a
    # 300-branch conditional (symptom: plan string grows with the mapping)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("CASE WHEN") <= 2, plan[:2000]


def test_task_yield_report_diagnoses_empty_tasks(frames):
    """The debug_empty_tasks analogue over the analytic fixture: a task
    starved by ROUTING (2D task on a mostly-3D corpus) and a task
    starved by its own PREDICATES (f4's pairs all fail the distance
    range; f6 has one box) must both be legible from the report."""
    from vlm_data_pipeline_spark.qa.runner import task_yield_report

    rep = {
        r.task: r
        for r in task_yield_report(
            frames, ["object_count", "object_count_2d", "obj_obj_distance"]
        ).collect()
    }
    assert set(rep) == {"object_count", "object_count_2d", "obj_obj_distance"}
    # corpus totals are task-independent
    assert all(r.n_frames == 6 for r in rep.values())

    oc = rep["object_count"]  # one question per routed frame
    assert (oc.n_route_eligible, oc.n_questions, oc.n_images_with_questions,
            oc.n_eligible_no_questions) == (5, 5, 5, 0)

    oc2d = rep["object_count_2d"]  # routing starves it: only f5 has 2D
    assert oc2d.n_route_eligible == 1
    assert oc2d.n_questions == 1 and oc2d.n_eligible_no_questions == 0

    ood = rep["obj_obj_distance"]  # predicate-starved: f4 (all pairs
    # out of range) and f6 (single box) are eligible but silent
    assert ood.n_route_eligible == 5
    assert ood.n_images_with_questions == 3
    assert ood.n_eligible_no_questions == 2


def test_task_yield_report_zero_yield_task_still_rowed(spark):
    """A task whose output is EMPTY must still get a report row — the
    whole point of the diagnostic (a groupBy over the output alone
    would drop it)."""
    from tests.fixtures import frame
    from vlm_data_pipeline_spark.qa.runner import task_yield_report
    from vlm_data_pipeline_spark.schemas import FRAME

    # one frame, 3D-only corpus: every 2D task yields nothing
    df = spark.createDataFrame([frame("only")], schema=FRAME)
    rep = {r.task: r for r in task_yield_report(df).collect()}
    assert len(rep) == 10  # all registered tasks present
    assert rep["bbox_2d_size"].n_questions == 0
    assert rep["bbox_2d_size"].n_route_eligible == 0
