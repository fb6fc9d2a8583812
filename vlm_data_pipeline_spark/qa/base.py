"""Shared pieces of the QA task generators (SURVEY §3.3).

The reference materializes every frame into a Python list and loops
(QA_generation/utils/data_loader.py:18-53 — its scalability wall); here each
task is a DataFrame expression tree over the shared ``frames``/``instances``
lineage, so Catalyst prunes columns per task and nothing materializes until
the sink.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Representative class-id → name dimension (QA_generation/utils/
# class_mapping.py:8-66 carries ~300 Matterport entries; deployments pass
# their full mapping — semantics, not contents, are what we reproduce).
CLASS_NAMES: dict[int, str] = {
    1: "wall", 2: "floor", 3: "chair", 4: "door", 5: "table",
    6: "picture", 7: "cabinet", 8: "cushion", 9: "window", 10: "sofa",
    11: "bed", 12: "curtain", 14: "plant", 15: "sink", 18: "toilet",
    19: "stool", 22: "tv_monitor", 24: "shower", 26: "bathtub",
    28: "counter", 33: "desk", 38: "lamp", 40: "mirror", 84: "shelving",
}


def parse_class_category(cat: Column, mapping: dict[int, str] | None = None) -> Column:
    """'class_X' → human name, unknown ids → 'object_X', other strings pass
    through (QA_generation/utils/class_mapping.py:87-103).

    The mapping is a single ``create_map`` LITERAL probed with
    ``element_at`` (missing key → NULL → the 'object_X' fallback via
    coalesce), not a per-entry ``when``-chain: the production mapping is
    ~300 entries, and a 300-branch chain is O(entries) string compares
    per lookup that gets re-expanded inside every HOF lambda referencing
    it — at that size whole-stage codegen falls back to interpreted
    evaluation. One literal map node stays O(1)-ish and codegen-safe at
    any mapping size."""
    mapping = mapping if mapping is not None else CLASS_NAMES
    suffix = F.regexp_extract(cat, r"^class_(\d+)$", 1)
    pairs: list[Column] = []
    for cid, name in sorted(mapping.items()):
        pairs.append(F.lit(str(cid)))
        pairs.append(F.lit(name))
    mapped = F.coalesce(
        F.element_at(F.create_map(*pairs), suffix),
        F.format_string("object_%s", suffix),
    )
    return F.when(suffix != "", mapped).otherwise(cat)


def category_count_entries(
    boxes: Column,
    mapping: dict[int, str] | None = None,
    drop_unknown: bool = False,
    min_count: int = 1,
) -> Column:
    """Per-row category histogram: array<struct<rcat string, cnt long>>.

    A frame is one row, so its histogram never needs a shuffle — this
    replaces the groupBy(frame×category) → groupBy(frame) double exchange
    with O(k²) array math over the ≤dozens of boxes per frame. ``let``
    binds the mapped-category array so HOF lambdas don't re-run the
    category mapping per element.
    """
    from ..functions.text import let

    cats = F.transform(
        F.coalesce(boxes, F.array()),
        lambda b: parse_class_category(b["category"], mapping),
    )
    src = F.filter(cats, lambda c: c != "unknown") if drop_unknown else cats
    return let(
        src,
        lambda cs: F.filter(
            F.transform(
                F.array_distinct(cs),
                lambda c: F.struct(
                    c.alias("rcat"),
                    F.size(F.filter(cs, lambda x: x == c)).cast("long").alias("cnt"),
                ),
            ),
            lambda e: e["cnt"] >= min_count,
        ),
    )


def first_box_per_category(
    frames: DataFrame,
    boxes_field: str = "bounding_boxes_3d",
    extra_cols: tuple[str, ...] = ("camera",),
) -> DataFrame:
    """W2 dedupe, in-row: one box per (frame, category), earliest in-frame
    position. The boxes array is already pos-ordered, so the first
    occurrence of each distinct category IS the winner — array program +
    explode, zero shuffle (replaces a per-(frame, category) row_number
    window whose sort was these tasks' only exchange)."""
    from ..functions.text import let

    withpos = F.transform(
        F.coalesce(F.col(boxes_field), F.array()),
        lambda b, i: F.struct(i.alias("pos"), b.alias("box")),
    )
    firsts = let(
        withpos,
        lambda wp: F.transform(
            F.array_distinct(F.transform(wp, lambda p: p["box"]["category"])),
            # null-safe equality: a NULL category is a legitimate group (the
            # window-based dedupe kept it); plain == would null out the
            # filter and emit an all-null (pos, box) row instead
            lambda c: F.element_at(
                F.filter(wp, lambda p: p["box"]["category"].eqNullSafe(c)), 1
            ),
        ),
    )
    keep = ["dataset", "split", "image_id", "scene_id", "frame_id", *extra_cols]
    return frames.select(*keep, F.explode(firsts).alias("fp")).select(
        *keep,
        F.col("fp.pos").alias("pos"),
        F.col("fp.box").alias("box"),
    )


def with_qa_ids(df: DataFrame, task: str, *order_cols: str) -> DataFrame:
    """Deterministic '{dataset}_{task}_{key}' ids (qa_base.py:55).

    The reference numbers rows with a mutable counter in visit order. Here
    the id derives from the row's own content key (md5 over
    dataset/task/order_cols): embarrassingly parallel, stable under
    repartitioning, and — unlike a per-dataset ``row_number`` window —
    never funnels a whole dataset's QA rows through one task's sort.
    """
    key = F.md5(
        F.concat_ws(
            "\u001f",  # unit separator keeps ("ab","c") != ("a","bc")
            F.col("dataset"),
            F.lit(task),
            *[F.col(c).cast("string") for c in order_cols],
        )
    )
    return df.withColumn(
        "id",
        F.format_string("%s_%s_%s", F.col("dataset"), F.lit(task), key),
    )


def meta(**kv: Column) -> Column:
    """metadata map<string,string> with stable key order."""
    pairs: list[Column] = []
    for k in sorted(kv):
        pairs.append(F.lit(k))
        pairs.append(kv[k].cast("string"))
    return F.create_map(*pairs)


def finalize(
    df: DataFrame,
    task: str,
    order_cols: list[str],
    question: Column,
    answer: Column,
    answer_type: str,
    metadata: Column,
    options: Column | None = None,
) -> DataFrame:
    """Project the canonical QA_PAIR columns (schemas.QA_PAIR)."""
    out = df.withColumn("question", question).withColumn(
        "answer", answer.cast("string")
    )
    out = with_qa_ids(out, task, *order_cols)
    opts = (
        options.cast("array<string>")
        if options is not None
        else F.lit(None).cast("array<string>")
    )
    return out.select(
        "id",
        "question",
        "answer",
        F.lit(answer_type).alias("answer_type"),
        opts.alias("options"),
        metadata.alias("metadata"),
    )
