"""Task routing + union + summary (SURVEY §3.3, K3/E1/A9).

Mirrors generate_qa.py's per-dataset flow: route tasks by available box
modality (P1, generate_qa.py:110-122), union task outputs into the combined
set (E1), aggregate the summary (A9) — all as lazy lineages over one shared
frames scan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tasks2d, tasks3d

TASKS: dict[str, Callable[[DataFrame], DataFrame]] = {
    # 3D (config.py DATASETS task lists)
    "object_count": tasks3d.object_count,
    "object_3d_size": tasks3d.object_3d_size,
    "cam_obj_distance": tasks3d.cam_obj_distance,
    "obj_obj_distance": tasks3d.obj_obj_distance,
    "obj_obj_rel_pos": tasks3d.obj_obj_rel_pos,
    "cam_obj_rel_dist": tasks3d.cam_obj_rel_dist,
    # 2D
    "object_count_2d": tasks2d.object_count_2d,
    "object_count_mc": tasks2d.object_count_mc,
    "bbox_2d_size": tasks2d.bbox_2d_size,
    "object_2d_size": tasks2d.object_2d_size,
}

# Explicit modality routing (generate_qa.py:110-122 / config.py task
# lists). NOT a name heuristic: "bbox_2d_size"/"object_2d_size" end in
# "size", so endswith("2d") misrouted them to the 3D branch — where the
# 3D-box filter made them silently vacuous on every corpus.
TASKS_3D = {
    "object_count",
    "object_3d_size",
    "cam_obj_distance",
    "obj_obj_distance",
    "obj_obj_rel_pos",
    "cam_obj_rel_dist",
}


def generate_all(
    frames: DataFrame,
    tasks: list[str] | None = None,
) -> DataFrame:
    """Union of all task outputs over one frames lineage, with a task
    column (the all_qa_pairs.json analogue, generate_qa.py:134-144).

    A batch run of more than one task persists ``frames`` once
    (MEMORY_AND_DISK): each task branch prunes different columns, so
    their subtrees differ and Spark's exchange reuse never fires; without
    the persist every task re-executes the frames scan and assembly.

    On the persisted frames, one limit-1 probe per box column decides
    whether the corpus carries that modality at all, and tasks of an
    absent modality are dropped before any task work is planned — the
    reference's per-dataset scheduling (generate_qa.py:110-122). A
    present modality costs about one cache partition, which the union
    job then reuses; proving a modality absent over real rows costs a
    full cache build. With neither modality present the result is an
    empty frame with the task output's columns plus ``task``. The
    per-task routing filter (3D tasks need 3D boxes, 2D tasks 2D boxes)
    always applies and is what makes the pruning output-identical.

    Streaming input skips the persist and the probes (no action is
    allowed on a stream): every task is a per-row array program with no
    shuffle, so the same lineages run under readStream in append mode.
    """
    names = tasks or list(TASKS)
    if len(names) > 1 and not frames.isStreaming:
        from pyspark.storagelevel import StorageLevel

        frames = frames.persist(StorageLevel.MEMORY_AND_DISK)
        has_3d, has_2d = (
            bool(frames.filter(F.size(col) > 0).limit(1).take(1))
            for col in ("bounding_boxes_3d", "bounding_boxes_2d")
        )
        pruned = [
            n for n in names
            if (has_3d if n in TASKS_3D else has_2d)
        ]
        if not pruned:  # no modality present: provably-empty union
            fr = frames.filter(F.lit(False))
            return (
                TASKS[names[0]](fr)
                .withColumn("task", F.lit(names[0]))
            )
        names = pruned
    outs = []
    for name in names:
        fr = frames
        # bbox-availability routing (P1): 3D tasks need 3D boxes, 2D need 2D
        if name in TASKS_3D:
            fr = fr.filter(F.size("bounding_boxes_3d") > 0)
        else:
            fr = fr.filter(F.size("bounding_boxes_2d") > 0)
        outs.append(
            TASKS[name](fr).withColumn("task", F.lit(name))
        )
    combined = outs[0]
    for o in outs[1:]:
        combined = combined.unionByName(o)
    return combined


def write_qa_outputs(all_qa: DataFrame, path: str, dataset: str = "all") -> None:
    """K3: QA sink with the reference's envelope convention
    (qa_base.py:139-152, generate_qa.py:134-163).

    The reference writes one JSON file per task wrapping all pairs in an
    envelope dict {dataset, task_type, total_questions, generated_date,
    qa_pairs[]}. One giant array per task does not scale, so the layout is
    split the Spark way while keeping every envelope field queryable:

    - ``<path>/pairs/task=<t>/…``: the pairs themselves, partitioned by
      task (partition pruning = per-task file reads, the all_qa_pairs.json
      union is just the unpartitioned read);
    - ``<path>/envelopes/``: one small JSON row per task with the envelope
      metadata (counts + generated_date), the summary.json analogue.
    """
    all_qa.write.mode("overwrite").partitionBy("task").json(f"{path}/pairs")
    (
        all_qa.groupBy("task")
        .agg(F.count("*").alias("total_questions"))
        .select(
            F.lit(dataset).alias("dataset"),
            F.col("task").alias("task_type"),
            "total_questions",
            F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss").alias(
                "generated_date"
            ),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .json(f"{path}/envelopes")
    )


def qa_summary(all_qa: DataFrame) -> DataFrame:
    """Per-task question counts + answer-type mix (generate_qa.py:147-163,
    analyze_qa_improvements.py:50-98)."""
    return all_qa.groupBy("task").agg(
        F.count("*").alias("n_questions"),
        F.countDistinct(F.col("metadata")["image_id"]).alias("n_images"),
        F.sum(F.when(F.col("answer_type") == "multiple_choice", 1).otherwise(0)).alias(
            "n_multiple_choice"
        ),
        F.sum(F.when(F.col("answer_type") == "numerical", 1).otherwise(0)).alias(
            "n_numerical"
        ),
        F.sum(F.when(F.col("answer_type") == "text", 1).otherwise(0)).alias("n_text"),
    )


def task_yield_report(
    frames: DataFrame, tasks: list[str] | None = None
) -> DataFrame:
    """Per-task yield diagnostic — the engine's debug_empty_tasks.py
    analogue (QA_generation/debug_empty_tasks.py:15-84 hand-loads five
    sample files and prints why a task produced zero questions; here
    the same three numbers come from one aggregate over the whole
    corpus): how many frames exist, how many survive the task's
    modality routing (P1), and how many actually yield questions. A
    zero-question task reads directly off the report: routing starves
    it (n_route_eligible = 0 — e.g. a 2D task on a 3D-only corpus) or
    its own predicates do (n_route_eligible > 0, n_questions = 0).

    Scale shape: ONE map-side-combined aggregate over the frames scan
    (three counts), the per-task counts off the shared generate_all
    lineage, and a tasks dimension built from the TASK REGISTRY (not
    the data — a task that yields nothing must still get a row, which
    a groupBy over the output alone can never produce). Both joins are
    single-row/dimension-sized → broadcast. All columns BIGINT.
    """
    names = tasks or list(TASKS)
    stats = frames.agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum(
            F.when(F.size("bounding_boxes_3d") > 0, 1).otherwise(0)
        ).cast("long").alias("_n_3d"),
        F.sum(
            F.when(F.size("bounding_boxes_2d") > 0, 1).otherwise(0)
        ).cast("long").alias("_n_2d"),
    )
    per_task = (
        generate_all(frames, names)
        .groupBy("task")
        .agg(
            F.count("*").cast("long").alias("_nq"),
            F.countDistinct(F.col("metadata")["image_id"])
            .cast("long")
            .alias("_ni"),
        )
    )
    dim = frames.sparkSession.createDataFrame(
        [(n, n in TASKS_3D) for n in names], "task string, _is_3d boolean"
    )
    eligible = F.when(F.col("_is_3d"), F.col("_n_3d")).otherwise(F.col("_n_2d"))
    return (
        dim.crossJoin(F.broadcast(stats))
        .join(F.broadcast(per_task), "task", "left")
        .select(
            "task",
            "n_frames",
            eligible.alias("n_route_eligible"),
            F.coalesce(F.col("_nq"), F.lit(0)).cast("long").alias("n_questions"),
            F.coalesce(F.col("_ni"), F.lit(0))
            .cast("long")
            .alias("n_images_with_questions"),
            (eligible - F.coalesce(F.col("_ni"), F.lit(0)))
            .cast("long")
            .alias("n_eligible_no_questions"),
        )
    )
