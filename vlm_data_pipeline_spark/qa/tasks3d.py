"""The six 3D QA tasks as DataFrame transforms (SURVEY §2, tasks routed by
QA_generation/config.py:80-88; every task takes the canonical ``frames`` DF
and returns QA_PAIR rows).

Shuffle budget per task (the 100 TB view): ZERO, for every task. A frame
is one row, so per-frame histograms, first-per-category dedupe, pair
generation, sampling, distances, and ranking are all per-row array
programs; with content-derived QA ids (qa/base.py) the whole ten-task
pipeline is scan → compute → union with no exchange anywhere — it scales
with input splits, not with any grouping key's cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import detrandom as R
from ..functions import geometry as G
from ..functions.text import let
from .base import (
    category_count_entries,
    finalize,
    first_box_per_category,
    meta,
    parse_class_category,
)

# Parameters mirror QA_generation/config.py:90-137
P_COUNT = {"min_objects": 1, "max_objects_for_category_specific": 10}
P_SIZE = {"num_options": 4, "pct": (0.4, 1.8), "decimals": 1}
P_CAM = {"min_distance": 0.1, "decimals": 1}
P_OBJ = {"min_distance": 0.2, "max_distance": 20.0, "decimals": 1}
P_RELDIST = {"v1_samples": 2, "min_diff": 0.15}


def object_count(frames: DataFrame) -> DataFrame:
    """Per-frame category counts → one question per frame: category-specific
    (modal category) when few objects, else total count
    (tasks_3d/object_count_qa.py:46-100)."""
    entries = category_count_entries(
        F.col("bounding_boxes_3d"),
        drop_unknown=True,
        min_count=P_COUNT["min_objects"],
    )
    stage = frames.select(
        "dataset",
        "image_id",
        "scene_id",
        "frame_id",
        entries.alias("entries"),
    ).filter(F.size("entries") > 0)
    # modal category; ties → lexicographically-first (deterministic
    # stand-in for the reference's dict-order max)
    top = F.array_sort(
        F.transform(
            F.col("entries"),
            lambda e: F.struct(
                (-e["cnt"]).alias("neg"),
                e["rcat"].alias("rcat"),
                e["cnt"].alias("cnt"),
            ),
        )
    )[0]
    per_frame = stage.select(
        "dataset",
        "image_id",
        "scene_id",
        "frame_id",
        F.aggregate(
            F.col("entries"), F.lit(0).cast("long"), lambda a, e: a + e["cnt"]
        ).alias("total"),
        F.size("entries").cast("long").alias("n_cats"),
        top["rcat"].alias("top_cat"),
        top["cnt"].alias("top_cnt"),
        F.map_from_entries(
            F.array_sort(
                F.transform(
                    F.col("entries"),
                    lambda e: F.struct(e["rcat"].alias("rcat"), e["cnt"].alias("cnt")),
                )
            )
        ).alias("cat_counts"),
    )
    specific = (F.col("n_cats") == 1) | (
        F.col("total") <= P_COUNT["max_objects_for_category_specific"]
    )
    question = F.when(
        specific,
        F.format_string("How many %ss are visible in this image?", F.col("top_cat")),
    ).otherwise(F.lit("How many objects are visible in this image?"))
    answer = F.when(specific, F.col("top_cnt")).otherwise(F.col("total"))
    md = meta(
        image_id=F.col("image_id"),
        scene_id=F.coalesce(F.col("scene_id"), F.lit("")),
        frame_id=F.coalesce(F.col("frame_id"), F.lit("")),
        question_type=F.when(specific, "category_specific").otherwise("total_count"),
        target_category=F.when(specific, F.col("top_cat")).otherwise("all_objects"),
        total_objects=F.col("total"),
        category_counts=F.to_json(F.col("cat_counts")),
        unit=F.lit("count"),
    )
    return finalize(
        per_frame, "object_count", ["image_id"], question, answer, "numerical", md
    )


def _first_per_category(frames: DataFrame) -> DataFrame:
    """W2 dedupe: one box per (frame, category), earliest in-frame position
    (object_3d_size_qa.py:32-42 asked_categories set) — the in-row
    zero-shuffle form, see qa.base.first_box_per_category."""
    return first_box_per_category(frames, "bounding_boxes_3d", ("camera",))


def object_3d_size(frames: DataFrame) -> DataFrame:
    """Max-dimension multiple choice in cm, percent distractors 0.4–1.8×
    (tasks_3d/object_3d_size_qa.py:52-100)."""
    first = _first_per_category(frames)
    sized = first.withColumn(
        "max_dim_cm", G.max_dimension(F.col("box")) * 100
    ).withColumn("rcat", parse_class_category(F.col("box.category")))
    opts = R.percent_distractors(
        F.col("max_dim_cm"),
        P_SIZE["num_options"],
        *P_SIZE["pct"],
        P_SIZE["decimals"],
        F.col("image_id"),
        F.lit("object_3d_size"),
        F.col("box.category"),
    )
    mc = R.multiple_choice(opts, F.col("image_id"), F.lit("3dsize"), F.col("box.category"))
    withmc = sized.withColumn("mc", mc)
    md = meta(
        image_id=F.col("image_id"),
        scene_id=F.coalesce(F.col("scene_id"), F.lit("")),
        category=F.col("box.category"),
        readable_category=F.col("rcat"),
        correct_size_cm=F.round(F.col("max_dim_cm"), 1),
        answer_value=F.col("mc.answer_value"),
        unit=F.lit("centimeters"),
    )
    return finalize(
        withmc,
        "object_3d_size",
        ["image_id", "pos"],
        F.format_string(
            "What is the length of the longest dimension of the %s in centimeters?",
            F.col("rcat"),
        ),
        F.col("mc.answer"),
        "multiple_choice",
        md,
        options=F.col("mc.options"),
    )


def cam_obj_distance(frames: DataFrame) -> DataFrame:
    """Camera→object-center distance, numerical, ≥ 0.1 m, 1 decimal
    (tasks_3d/cam_obj_distance_qa.py:56-93; improved_distance uses ‖center‖
    since boxes are camera-space, geometry.py:401-421)."""
    first = _first_per_category(frames)
    d = first.withColumn("dist_m", G.center_distance(F.col("box"))).filter(
        F.col("dist_m") >= P_CAM["min_distance"]
    )
    d = d.withColumn("rcat", parse_class_category(F.col("box.category"))).withColumn(
        "dist_r", F.round("dist_m", P_CAM["decimals"])
    )
    md = meta(
        image_id=F.col("image_id"),
        scene_id=F.coalesce(F.col("scene_id"), F.lit("")),
        frame_id=F.coalesce(F.col("frame_id"), F.lit("")),
        category=F.col("box.category"),
        readable_category=F.col("rcat"),
        distance_meters=F.col("dist_r"),
        unit=F.lit("meters"),
        uses_extrinsics=G.uses_extrinsics(F.col("camera")),
    )
    return finalize(
        d,
        "cam_obj_distance",
        ["image_id", "pos"],
        F.format_string(
            "What is the approximate distance (in meters) between the camera and "
            "the nearest point of the %s?",
            F.col("rcat"),
        ),
        F.col("dist_r"),
        "numerical",
        md,
    )


def _capped_boxes(boxes: F.Column, max_boxes: int | None) -> F.Column:
    """boxes → array<struct<box, idx>> with the original array position
    attached, optionally capped to the ``max_boxes`` largest boxes.

    top-N by volume, ties → lowest original index; then back to
    index order so the i<j pair enumeration matches the unbounded
    path wherever the cap doesn't bite. Comparator returns are
    clamped to ±1 ints; volumes compared exactly (same doubles).
    """
    if max_boxes is None:
        return F.transform(
            boxes, lambda b, i: F.struct(b.alias("box"), i.alias("idx"))
        )
    indexed = F.transform(
        boxes, lambda b, i: F.struct(b.alias("box"), i.alias("idx"))
    )
    vol = lambda s: s["box"]["xl"] * s["box"]["yl"] * s["box"]["zl"]  # noqa: E731
    by_vol = F.array_sort(
        indexed,
        lambda a, b: F.when(vol(a) > vol(b), -1)
        .when(vol(a) < vol(b), 1)
        .otherwise(
            F.when(a["idx"] < b["idx"], -1)
            .when(a["idx"] > b["idx"], 1)
            .otherwise(0)
        )
        .cast("int"),
    )
    return F.array_sort(
        F.slice(by_vol, 1, max_boxes),
        lambda a, b: F.when(a["idx"] < b["idx"], -1)
        .when(a["idx"] > b["idx"], 1)
        .otherwise(0)
        .cast("int"),
    )


def _slim_verts_payload(kept: F.Column) -> F.Column:
    """array<struct<box, idx>> → array<struct<idx, cat, verts-flat24>>.

    Vertices computed AFTER the cap: survivors only pay the trig.
    The payload is SLIM — {idx, cat, verts}, not the full 15-field
    box struct: category is the only box field the distance task
    consumes downstream. box_vertices_flat_hof, not box_vertices:
    inside this interpreted transform lambda the flat unroll would
    re-evaluate its trig per coordinate (~290 SIN/COS per box; the
    let-bound form computes 6), and the flat 24-double layout is
    the one :func:`_pairdist_arrow_batches` reshapes to (n, 8, 3).
    Coordinates are the identical doubles of box_vertices (parity
    pinned in test_geometry).
    """
    return F.transform(
        kept,
        lambda s: F.struct(
            s["idx"].alias("idx"),
            s["box"]["category"].alias("cat"),
            G.box_vertices_flat_hof(s["box"]).alias("verts"),
        ),
    )


_PAIRDIST_SCHEMA = (
    "dataset string, image_id string, scene_id string, frame_id string, "
    "pos_a int, pos_b int, cat_a string, cat_b string, dist_m double"
)


def _pairdist_arrow_batches(batches):
    """mapInArrow body for :func:`_box_pair_distances`: per input frame
    row (keys + bv = array<struct<idx, cat, verts-flat24>>), emit one row
    per unordered box pair (i < j over array positions) carrying the min
    vertex-pair distance.

    The arithmetic runs on the JVM-computed vertex doubles (Arrow
    float64 transfer is exact): dx*dx + dy*dy + dz*dz left-associated
    per term (add.reduce over a length-3 axis is sequential), an exact
    min over the 64 terms, one correctly-rounded sqrt — bit parity with
    a plain-Python reference pinned in test_pairdist_arrow_bit_parity.
    NULLs follow ``least``'s null-skip: a term touching a NULL
    coordinate becomes NaN (Arrow nulls → NaN on to_numpy) and
    ``np.fmin.reduce`` skips it; a pair whose terms are ALL NULL emits
    ``dist_m`` NULL.

    Pair enumeration is vectorized by grouping frames of equal box count
    (np.triu_indices per distinct n), so there is no per-frame Python
    loop; distances are computed CHUNK pairs at a time, so temporaries
    stay a few MB whatever the batch's pair count.
    """
    import numpy as np
    import pyarrow as pa

    CHUNK = 1024

    out_schema = pa.schema(
        [
            ("dataset", pa.string()),
            ("image_id", pa.string()),
            ("scene_id", pa.string()),
            ("frame_id", pa.string()),
            ("pos_a", pa.int32()),
            ("pos_b", pa.int32()),
            ("cat_a", pa.string()),
            ("cat_b", pa.string()),
            ("dist_m", pa.float64()),
        ]
    )

    for batch in batches:
        if batch.num_rows == 0:
            continue
        names = batch.schema.names
        cols = {n: batch.column(i) for i, n in enumerate(names)}
        bv = cols["bv"]
        counts = bv.value_lengths().fill_null(0).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        boxes = bv.flatten()
        total = len(boxes)
        if total == 0:
            continue
        idx_np = boxes.field("idx").to_numpy(zero_copy_only=False).astype(
            np.int32
        )
        cat_arr = boxes.field("cat")
        vl = boxes.field("verts")
        lens = vl.value_lengths().fill_null(0).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        flat = vl.flatten().to_numpy(zero_copy_only=False)
        if (lens == 24).all():
            V = flat.reshape(total, 24)
        else:
            # a NULL verts array (box struct null upstream) pads as NaN:
            # every term touching it goes NaN and fmin skips it
            V = np.full((total, 24), np.nan)
            V[lens == 24] = flat.reshape(-1, 24)
        V = V.reshape(total, 8, 3)

        offsets = np.zeros(len(counts) + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])

        a_parts, b_parts, f_parts = [], [], []
        for n in np.unique(counts):
            if n < 2:
                continue
            sel = np.where(counts == n)[0]
            iu, ju = np.triu_indices(n, 1)
            starts = offsets[sel]
            a_parts.append((starts[:, None] + iu[None, :]).ravel())
            b_parts.append((starts[:, None] + ju[None, :]).ravel())
            f_parts.append(np.repeat(sel, len(iu)))
        if not a_parts:
            continue
        a_idx = np.concatenate(a_parts)
        b_idx = np.concatenate(b_parts)
        f_idx = np.concatenate(f_parts)

        P = len(a_idx)
        for s in range(0, P, CHUNK):
            e = min(s + CHUNK, P)
            d = V[a_idx[s:e]][:, :, None, :] - V[b_idx[s:e]][:, None, :, :]
            # add.reduce over the length-3 axis reduces left-to-right:
            # (dx*dx + dy*dy) + dz*dz
            sq = np.add.reduce(d * d, axis=3)
            with np.errstate(invalid="ignore"):
                dist = np.sqrt(np.fmin.reduce(sq.reshape(e - s, 64), axis=1))
            fr = pa.array(f_idx[s:e])
            pa_a = pa.array(a_idx[s:e])
            pa_b = pa.array(b_idx[s:e])
            yield pa.RecordBatch.from_arrays(
                [
                    cols["dataset"].take(fr),
                    cols["image_id"].take(fr),
                    cols["scene_id"].take(fr),
                    cols["frame_id"].take(fr),
                    pa.array(idx_np[a_idx[s:e]], pa.int32()),
                    pa.array(idx_np[b_idx[s:e]], pa.int32()),
                    cat_arr.take(pa_a),
                    cat_arr.take(pa_b),
                    pa.array(dist, pa.float64(), mask=np.isnan(dist)),
                ],
                schema=out_schema,
            )


def _box_pair_distances(
    frames: DataFrame, max_boxes: int | None = None
) -> DataFrame:
    """J8 pairs + min vertex-pair distance in ONE Arrow stage: frames go
    to the Python worker as n boxes × (idx, cat, 24 vertex doubles) and
    come back as n(n−1)/2 slim pair rows — the guide-§8 shape (move the
    small representation, materialize the quadratic intermediate where
    it is cheapest). The vertex trig stays in the JVM
    (`_slim_verts_payload`); only the 64-term min and the sqrt run in
    Python. The JVM kernels this replaced are compared in
    OPTIMIZATION_r14.md §1.
    """
    kept = _capped_boxes(F.col("bounding_boxes_3d"), max_boxes)
    inp = (
        frames
        # pairs need ≥2 boxes; checking the RAW array (cheap, no trig)
        # is equivalent: the cap never grows an array, and a frame whose
        # capped count < 2 yields zero pairs in the kernel anyway
        .filter(F.size("bounding_boxes_3d") >= 2)
        .select(
            "dataset",
            "image_id",
            "scene_id",
            "frame_id",
            _slim_verts_payload(kept).alias("bv"),
        )
    )
    return inp.mapInArrow(_pairdist_arrow_batches, _PAIRDIST_SCHEMA)


def _box_pairs(
    frames: DataFrame, max_boxes: int | None = None
) -> DataFrame:
    """J8: all unordered in-frame box pairs (i < j).

    The reference iterates box pairs inside one frame's record
    (obj_obj_distance_qa.py:38-47); a frame's boxes already live in one
    array cell here, so the pairs are generated IN PLACE with an array
    comprehension + one explode — no self-join, no shuffle at all. (The
    equi-join formulation — see plans/star_queries.py j8_pairwise_selfjoin
    — is the right shape when instances arrive as a flat table instead.)

    ``max_boxes`` — per-frame pair bound (SURVEY §7.3 hard-parts list;
    VERDICT r12 #2): the in-row comprehension materializes all n(n−1)/2
    pair structs in ONE array cell before the explode — right for the
    reference's ~23 boxes/frame, but a pathological 90K-box frame would
    build billions of structs in a single row. With a cap, each frame
    keeps only its ``max_boxes`` largest boxes (volume-descending,
    original array position breaking ties — deterministic on any
    engine) BEFORE pairing, so a row materializes at most
    max_boxes·(max_boxes−1)/2 structs regardless of corpus shape.
    Survivors keep their ORIGINAL array positions as pos_a/pos_b and
    pair in original order, so on every frame with ≤ max_boxes boxes
    the output is row-identical to the unbounded path (the default,
    None, which is exact reference parity).
    """
    kept = _capped_boxes(F.col("bounding_boxes_3d"), max_boxes)

    def mk_pairs(bv: F.Column) -> F.Column:
        n = F.size(bv)
        pair = lambda i, j: F.struct(  # noqa: E731
            # pos_a/pos_b report positions in the ORIGINAL box array so
            # pair identities survive the cap (== i/j when uncapped)
            F.element_at(bv, (i + 1).cast("int"))["idx"].alias("pos_a"),
            F.element_at(bv, (j + 1).cast("int"))["idx"].alias("pos_b"),
            F.element_at(bv, (i + 1).cast("int")).alias("a"),
            F.element_at(bv, (j + 1).cast("int")).alias("b"),
        )
        all_pairs = F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.transform(F.sequence(i + 1, n - 1), lambda j: pair(i, j)),
            )
        )
        return F.when(n >= 2, all_pairs).otherwise(F.array())

    pairs = frames.select(
        "dataset",
        "image_id",
        "scene_id",
        "frame_id",
        "camera",
        F.explode(let(kept, mk_pairs)).alias("p"),
    )
    return pairs.select(
        "dataset",
        "image_id",
        "scene_id",
        "frame_id",
        "camera",
        F.col("p.pos_a").alias("pos_a"),
        F.col("p.pos_b").alias("pos_b"),
        F.col("p.a.box").alias("box_a"),
        F.col("p.b.box").alias("box_b"),
    )


def obj_obj_distance(
    frames: DataFrame, max_boxes: int | None = None
) -> DataFrame:
    """Min vertex-pair distance per in-frame pair, 0.2–20 m, 1 decimal
    (tasks_3d/obj_obj_distance_qa.py:52-92, geometry.py:98-118).
    ``max_boxes`` bounds the per-frame pair expansion (see _box_pairs);
    default None = exact reference parity.

    The distance band is applied to the distance QUANTIZED to 6 dp, not
    the raw double: the raw value depends on the platform's last-ulp
    sin/cos behavior, so a pair sitting exactly on the band edge would
    make the output row-set hardware/library-dependent — the same
    reproducibility rule detrandom applies to draws, applied to float
    predicates (observed live: one exactly-0.2 pair flips between JVM
    and DuckDB trig)."""
    band = F.round(F.col("dist_m"), 6)
    d = (
        _box_pair_distances(frames, max_boxes=max_boxes)
        .filter(
            (band >= P_OBJ["min_distance"]) & (band <= P_OBJ["max_distance"])
        )
        .withColumn("dist_r", F.round("dist_m", P_OBJ["decimals"]))
    )
    md = meta(
        image_id=F.col("image_id"),
        scene_id=F.coalesce(F.col("scene_id"), F.lit("")),
        frame_id=F.coalesce(F.col("frame_id"), F.lit("")),
        object1_category=F.col("cat_a"),
        object2_category=F.col("cat_b"),
        distance_meters=F.col("dist_r"),
        unit=F.lit("meters"),
    )
    return finalize(
        d,
        "obj_obj_distance",
        ["image_id", "pos_a", "pos_b"],
        F.format_string(
            "What is the distance between the %s and the %s in meters?",
            F.col("cat_a"),
            F.col("cat_b"),
        ),
        F.col("dist_r"),
        "numerical",
        md,
    )


def obj_obj_rel_pos(
    frames: DataFrame,
    require_extrinsics: bool = True,
    max_boxes: int | None = None,
) -> DataFrame:
    """Center-diff spatial relation per pair; one aspect chosen by a
    hash-seeded draw among the non-'Same' aspects
    (tasks_3d/obj_obj_rel_pos_qa.py:55-140, geometry.py:424-495).
    ``max_boxes`` bounds the per-frame pair expansion (see _box_pairs);
    default None = exact reference parity."""
    pairs = _box_pairs(frames, max_boxes=max_boxes)
    if require_extrinsics:
        pairs = pairs.filter(G.uses_extrinsics(F.col("camera")))
    rel = pairs.withColumn(
        "rels", G.center_diff_relations(F.col("box_a"), F.col("box_b"))
    )
    rel = rel.withColumn(
        "rcat_a", parse_class_category(F.col("box_a.category"))
    ).withColumn("rcat_b", parse_class_category(F.col("box_b.category")))

    aspects = F.filter(
        F.array(
            F.struct(
                F.lit("depth").alias("aspect"),
                F.when(F.col("rels.depth_rel") == "Nearer", "nearer")
                .when(F.col("rels.depth_rel") == "Farther", "farther")
                .alias("ans"),
            ),
            F.struct(
                F.lit("horizontal").alias("aspect"),
                F.when(F.col("rels.horizontal_rel") == "Left", "left")
                .when(F.col("rels.horizontal_rel") == "Right", "right")
                .alias("ans"),
            ),
            F.struct(
                F.lit("vertical").alias("aspect"),
                F.when(F.col("rels.vertical_rel") == "Above", "above")
                .when(F.col("rels.vertical_rel") == "Below", "below")
                .alias("ans"),
            ),
        ),
        lambda s: s["ans"].isNotNull(),
    )
    picked = rel.withColumn("aspects", aspects).filter(F.size("aspects") > 0)
    idx = (
        R.randint(
            0, 2, F.col("image_id"), F.lit("relpos"), F.col("pos_a"), F.col("pos_b")
        )
        % F.size("aspects")
        + 1
    )
    picked = picked.withColumn("chosen", F.element_at(F.col("aspects"), idx))
    question = (
        F.when(
            F.col("chosen.aspect") == "depth",
            F.format_string(
                "Is the %s nearer or farther than the %s from the camera?",
                F.col("rcat_a"),
                F.col("rcat_b"),
            ),
        )
        .when(
            F.col("chosen.aspect") == "horizontal",
            F.format_string(
                "Is the %s to the left or right of the %s from the camera's "
                "perspective?",
                F.col("rcat_a"),
                F.col("rcat_b"),
            ),
        )
        .otherwise(
            F.format_string(
                "Is the %s above or below the %s from the camera's perspective?",
                F.col("rcat_a"),
                F.col("rcat_b"),
            )
        )
    )
    md = meta(
        image_id=F.col("image_id"),
        object1_category=F.col("box_a.category"),
        object2_category=F.col("box_b.category"),
        object1_readable_category=F.col("rcat_a"),
        object2_readable_category=F.col("rcat_b"),
        aspect=F.col("chosen.aspect"),
        depth_relation=F.col("rels.depth_rel"),
        horizontal_relation=F.col("rels.horizontal_rel"),
        vertical_relation=F.col("rels.vertical_rel"),
        center_distance=F.col("rels.center_distance"),
        uses_extrinsics=G.uses_extrinsics(F.col("camera")),
    )
    return finalize(
        picked,
        "obj_obj_rel_pos",
        ["image_id", "pos_a", "pos_b"],
        question,
        F.col("chosen.ans"),
        "text",
        md,
    )


def cam_obj_rel_dist(frames: DataFrame) -> DataFrame:
    """v1 closest/farthest pair questions — a per-row array program, zero
    shuffles (tasks_3d/cam_obj_rel_dist_qa.py:61-113): per frame, sample
    2 distinct boxes with hash-seeded draws, compare camera vertex-min
    distances. Requires extrinsics like the reference (camera position)."""
    boxed = frames.filter(
        G.uses_extrinsics(F.col("camera")) & (F.size("bounding_boxes_3d") >= 2)
    )
    # distances: vertex-min to the camera position from extrinsics
    cam = G.camera_position(F.col("camera.extrinsics"))
    dists = F.transform(
        F.col("bounding_boxes_3d"),
        lambda b: F.array_min(
            F.transform(
                # flat unroll, NOT a let-bound variant: measured at sf1
                # (min-of-4 interleaved, round 13) the let-bound form is
                # ~10% SLOWER here — the two extra nested HOF layers per
                # box cost more than the repeated interpreted trig saves
                # on this one-vertex-array-per-box shape
                G.box_vertices(b),
                lambda v: F.sqrt(
                    (v[0] - cam[0]) ** 2 + (v[1] - cam[1]) ** 2 + (v[2] - cam[2]) ** 2
                ),
            )
        ),
    )
    n = F.size("bounding_boxes_3d")
    samples = []
    for s in range(P_RELDIST["v1_samples"]):
        i1 = R.randint(0, 10**6, F.col("image_id"), F.lit(f"rd{s}a")) % n
        i2 = (
            i1 + 1 + R.randint(0, 10**6, F.col("image_id"), F.lit(f"rd{s}b")) % (n - 1)
        ) % n
        samples.append(F.struct(i1.alias("i1"), i2.alias("i2")))
    # duplicate draws collapse IN-ROW (array_distinct before the explode) —
    # a dropDuplicates here would be the task's only shuffle
    sampled = (
        boxed.withColumn("dists", dists)
        .withColumn("samp", F.explode(F.array_distinct(F.array(*samples))))
        .withColumn("b1", F.element_at(F.col("bounding_boxes_3d"), F.col("samp.i1") + 1))
        .withColumn("b2", F.element_at(F.col("bounding_boxes_3d"), F.col("samp.i2") + 1))
        .withColumn("d1", F.element_at(F.col("dists"), F.col("samp.i1") + 1))
        .withColumn("d2", F.element_at(F.col("dists"), F.col("samp.i2") + 1))
    )
    # closest + farthest variants, exploded into two rows per sample
    variants = F.explode(
        F.array(
            F.struct(
                F.lit("v1_closest").alias("variant"),
                F.format_string(
                    "Which object is closest to the camera, %s or %s?",
                    F.col("b1.category"),
                    F.col("b2.category"),
                ).alias("question"),
                F.when(F.col("d1") < F.col("d2"), F.col("b1.category"))
                .otherwise(F.col("b2.category"))
                .alias("answer"),
            ),
            F.struct(
                F.lit("v1_farthest").alias("variant"),
                F.format_string(
                    "Which object is farthest from the camera, %s or %s?",
                    F.col("b1.category"),
                    F.col("b2.category"),
                ).alias("question"),
                F.when(F.col("d1") > F.col("d2"), F.col("b1.category"))
                .otherwise(F.col("b2.category"))
                .alias("answer"),
            ),
        )
    )
    v = sampled.withColumn("qa", variants)
    md = meta(
        image_id=F.col("image_id"),
        variant=F.col("qa.variant"),
        object1=F.col("b1.category"),
        object2=F.col("b2.category"),
        distance1=F.round(F.col("d1"), 2),
        distance2=F.round(F.col("d2"), 2),
    )
    return finalize(
        v,
        "cam_obj_rel_dist",
        ["image_id", "samp.i1", "samp.i2", "qa.variant"],
        F.col("qa.question"),
        F.col("qa.answer"),
        "text",
        md,
    )
