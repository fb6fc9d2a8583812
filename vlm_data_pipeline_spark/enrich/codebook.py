"""Codebook enrichment stage (SURVEY §3.2): label unlabeled instances via a
pluggable classifier, then broadcast-join the codebook back over the corpus.

Reference flow re-expressed (never copied):
- scan for ``object_N`` instances (build_label_codebook_fast.py:40-85, S2/P3)
- ONE representative occurrence per instance before expensive inference
  (J7, :382-385 — the dedupe-before-expensive-op pattern; at 100 TB this is
  the difference between classifying 253 crops and 86K)
- classifier = mapInPandas stage with a per-executor model singleton
  (M2/M3); tests use the deterministic stub so the relational engine never
  needs torch (§7.3 hard part #5)
- apply = broadcast equi-join + category rewrite with ``pseudo_`` prefix +
  provenance struct; labeled-only copy keeps only matched boxes
  (J6/K6, create_labeled_dataset.py:72-199). Immutable snapshot — the
  reference's in-place rewrite (:311-348) becomes a new write.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The 69-class vocabulary concept (build_enhanced_codebook.py:89-120);
# a representative subset — deployments pass their own.
LABEL_VOCAB = (
    "chair", "table", "sofa", "bed", "lamp", "desk", "cabinet", "shelf",
    "monitor", "plant", "pillow", "sink", "toilet", "mirror", "window",
)


def extract_unlabeled_instances(frames: DataFrame) -> DataFrame:
    """S2/P3: (instance_id, image_id, pos) triples for ``object_N`` boxes."""
    inst = frames.select(
        "dataset",
        "image_id",
        F.col("rgb_path"),
        F.posexplode("bounding_boxes_3d").alias("pos", "box"),
    )
    return inst.filter(F.col("box.category").startswith("object_")).select(
        "dataset",
        "image_id",
        "rgb_path",
        "pos",
        F.nullif(
            F.regexp_extract(F.col("box.category"), r"^object_(\d+)$", 1), F.lit("")
        )
        .cast("int")
        .alias("instance_id"),
    ).filter(F.col("instance_id").isNotNull())


def representative_per_instance(instances: DataFrame) -> DataFrame:
    """J7/A7: first occurrence of each instance across the corpus (ordered
    by image_id, pos) — the only rows the classifier ever sees."""
    return instances.groupBy("instance_id").agg(
        F.min_by(
            F.struct("dataset", "image_id", "rgb_path", "pos"),
            F.struct("image_id", "pos"),
        ).alias("rep")
    ).select("instance_id", "rep.dataset", "rep.image_id", "rep.rgb_path", "rep.pos")


def stub_classifier() -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Deterministic stand-in for the CLIP/SAM/DINO stage (M2/M3).

    Real deployment: replace the body with a lazily-initialized
    per-executor model (load weights once per python worker, batch crops
    through the GPU, Arrow batch size tuned via
    spark.sql.execution.arrow.maxRecordsPerBatch). The stub derives
    (label, confidence, stage) from a hash of instance_id so tests are
    reproducible without torch; raises nothing — genuinely undecidable
    inputs in the real path map to confidence below the Stage-B floor and
    are discarded by the caller, mirroring the reference's τ thresholds
    (build_enhanced_codebook.py:375-419).
    """
    import hashlib

    def classify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            h = pdf["instance_id"].map(
                lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            )
            labels = h.map(lambda v: LABEL_VOCAB[v % len(LABEL_VOCAB)])
            conf = (h % 1000) / 1000.0
            stage = h.map(lambda v: "A" if v % 4 != 0 else "B")
            yield pd.DataFrame(
                {
                    "instance_id": pdf["instance_id"],
                    "label": labels,
                    "confidence": conf,
                    "stage": stage,
                }
            )

    return classify


def build_codebook(
    frames: DataFrame,
    classifier: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]] | None = None,
    min_confidence: float = 0.01,
) -> DataFrame:
    """Scan → representative dedupe → mapInPandas inference → codebook DF
    (instance_id, label, confidence, stage), thresholded like the two-stage
    acceptance (τ discard)."""
    reps = representative_per_instance(extract_unlabeled_instances(frames))
    fn = classifier or stub_classifier()
    out = reps.select("instance_id", "image_id", "rgb_path", "pos").mapInPandas(
        fn, schema="instance_id int, label string, confidence double, stage string"
    )
    return out.filter(F.col("confidence") >= min_confidence)


def two_stage_cascade(
    frames: DataFrame,
    stage_a: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]] | None = None,
    stage_b: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]] | None = None,
    tau_high: float = 0.015,
    tau_mid: float = 0.010,
) -> DataFrame:
    """M3/M4: the two-tier model cascade as a filter-split + union.

    Reference semantics (build_enhanced_codebook.py:375-419): Stage A (the
    cheap model) classifies every representative; accept where confidence ≥
    τ_high. Only the failures go to Stage B (the expensive model: SAM mask
    + CLIP-L/14); accept ≥ τ_mid; the rest are discarded. SURVEY §4 notes
    Catalyst has no analogue — this is pipeline design: the split is a
    filter, the second stage runs over the (small) failure set only, and
    the result is a union tagged with the deciding stage.

    At scale: Stage A touches N rows; Stage B touches only the failures —
    exactly the cost-cascade a 100 TB labeling run needs.
    """
    reps = representative_per_instance(extract_unlabeled_instances(frames))
    cols = ["instance_id", "image_id", "rgb_path", "pos"]
    schema = "instance_id int, label string, confidence double, stage string"

    # a_out feeds BOTH the accept branch and the failure join: without a
    # persist the Stage-A mapInPandas executes once per branch — invisible
    # with the stub, but doubling the expensive model's cost in production.
    # Cache lifecycle: the returned DataFrame's lineage references this
    # cached block, so it cannot be unpersisted here — the CALLER owns it
    # (unpersist after the final action, or spark.catalog.clearCache()
    # between repeated invocations in one session).
    from pyspark.storagelevel import StorageLevel

    a_out = reps.select(*cols).mapInPandas(
        stage_a or stub_classifier(), schema=schema
    ).persist(StorageLevel.MEMORY_AND_DISK)
    accepted_a = a_out.filter(F.col("confidence") >= tau_high).withColumn(
        "stage", F.lit("A")
    )
    failures = reps.join(
        a_out.filter(F.col("confidence") < tau_high).select("instance_id"),
        "instance_id",
        "inner",
    )
    b_out = failures.select(*cols).mapInPandas(
        stage_b or stub_classifier(), schema=schema
    )
    accepted_b = b_out.filter(F.col("confidence") >= tau_mid).withColumn(
        "stage", F.lit("B")
    )
    return accepted_a.unionByName(accepted_b)


# ---------------------------------------------------------------------------
# M4: hierarchical coarse→fine classification with A/B agreement
# (build_enhanced_codebook_v2.py:113-420)
# ---------------------------------------------------------------------------

# Super-category → fine classes (build_enhanced_codebook_v2.py:113-144);
# representative subset — deployments pass their full hierarchy.
SUPER_CATEGORIES: dict[str, tuple[str, ...]] = {
    "structure": ("door", "window", "stairs", "column", "beam"),
    "furniture": ("chair", "sofa", "bench", "stool", "table", "cabinet", "bed"),
    "kitchen_bathroom": ("sink", "toilet", "bathtub", "shower", "mirror"),
    "electronics": ("tv", "monitor", "computer", "printer", "speaker"),
    "decor": ("lamp", "curtain", "rug", "picture", "plant", "vase", "clock"),
    "small_items": ("box", "bag", "basket", "bottle", "cup", "book"),
}

# Margin thresholds (build_enhanced_codebook_v2.py:152-155)
MARGIN_THRESH_COARSE = 0.001
MARGIN_THRESH_FINE = 0.0005
MARGIN_THRESH_FINE_B = 0.0005

HIER_SCHEMA = (
    "instance_id int, grp string, grp_margin double, pred string, margin double"
)


def stub_hierarchical_classifier(
    stage: str,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Deterministic stand-in for one hierarchical CLIP stage (M4).

    Real deployment: per-executor model singleton; coarse pass scores the 6
    super-category prompts, fine pass scores the group's classes + the three
    null prompts, margin = top1−top2 (build_enhanced_codebook_v2.py:249-312).
    The stub derives (grp, grp_margin, pred, margin) from md5(stage ‖ id):
    mostly stage-independent (so A/B usually agree) with deliberate
    stage-dependent slices so disagreement/null/low-margin paths occur.
    """
    import hashlib

    groups = sorted(SUPER_CATEGORIES)

    def one(iid: int) -> tuple[str, float, str | None, float]:
        base = int(hashlib.md5(str(iid).encode()).hexdigest()[:8], 16)
        mix = int(hashlib.md5(f"{stage}:{iid}".encode()).hexdigest()[:8], 16)
        grp = groups[base % len(groups)]
        fines = SUPER_CATEGORIES[grp]
        # stage-dependent twists exercising every rejection path:
        if base % 17 == 0:
            grp = groups[mix % len(groups)]  # A/B group disagreement slice
        grp_margin = 0.002 if base % 11 != 0 else 0.0001  # coarse-margin fail
        pred: str | None = fines[base % len(fines)]
        if base % 13 == 0:
            pred = None  # null prompt wins
        elif base % 19 == 0:
            pred = fines[mix % len(fines)]  # fine-class disagreement slice
        margin = 0.001 if mix % 7 != 0 else 0.0002  # fine-margin fail slice
        return grp, grp_margin, pred, margin

    def classify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [one(int(i)) for i in pdf["instance_id"]]
            yield pd.DataFrame(
                {
                    "instance_id": pdf["instance_id"],
                    "grp": [v[0] for v in vals],
                    "grp_margin": [v[1] for v in vals],
                    "pred": [v[2] for v in vals],
                    "margin": [v[3] for v in vals],
                }
            )

    return classify


def hierarchical_codebook_v2(
    frames: DataFrame,
    stage_a: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]] | None = None,
    stage_b: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]] | None = None,
) -> DataFrame:
    """M4: coarse→fine hierarchical classify with margin acceptance and
    Stage A/B agreement (build_enhanced_codebook_v2.py:330-420).

    Reference control flow, re-expressed relationally:
    - Stage A (fast model) runs on every representative; instances whose
      coarse margin < τ_coarse or whose fine pick is a null prompt are
      rejected immediately — Stage B never sees them.
    - Stage B (SAM-masked strong model) runs ONLY on Stage-A survivors
      (a semi-join), then applies the same coarse/null gates plus its own
      fine margin.
    - Final accept = equi-join on instance_id requiring group agreement,
      fine-class agreement, and both fine margins above threshold
      (:406-420). Everything else is dropped, matching the reference's
      None returns.

    Scale shape: two mapInPandas stages, the second over the (smaller)
    survivor set; the agreement check is a broadcast-sized equi-join on
    instance_id. ``a_ok`` is persisted — it feeds both the Stage-B input
    semi-join and the agreement join, and without the persist the Stage-A
    model would run twice (the same defect fixed in two_stage_cascade).
    The CALLER owns the cached block's lifecycle (the returned lineage
    references it): unpersist after the final action or clearCache()
    between repeated invocations.
    """
    from pyspark.storagelevel import StorageLevel

    reps = representative_per_instance(extract_unlabeled_instances(frames))
    cols = ["instance_id", "image_id", "rgb_path", "pos"]

    a_out = reps.select(*cols).mapInPandas(
        stage_a or stub_hierarchical_classifier("A"), schema=HIER_SCHEMA
    )
    a_ok = a_out.filter(
        (F.col("grp_margin") >= MARGIN_THRESH_COARSE) & F.col("pred").isNotNull()
    ).persist(StorageLevel.MEMORY_AND_DISK)

    b_in = reps.join(a_ok.select("instance_id"), "instance_id", "semi")
    b_out = b_in.select(*cols).mapInPandas(
        stage_b or stub_hierarchical_classifier("B"), schema=HIER_SCHEMA
    )
    b_ok = b_out.filter(
        (F.col("grp_margin") >= MARGIN_THRESH_COARSE)
        & F.col("pred").isNotNull()
        & (F.col("margin") >= MARGIN_THRESH_FINE_B)
    )

    a = a_ok.select(
        "instance_id",
        F.col("grp").alias("grp_a"),
        F.col("pred").alias("pred_a"),
        F.col("margin").alias("margin_a"),
    )
    b = b_ok.select(
        "instance_id",
        F.col("grp").alias("grp_b"),
        F.col("pred").alias("pred_b"),
        F.col("margin").alias("margin_b"),
    )
    return (
        a.join(b, "instance_id")
        .filter(
            (F.col("grp_a") == F.col("grp_b"))
            & (F.col("pred_a") == F.col("pred_b"))
            & (F.col("margin_a") >= MARGIN_THRESH_FINE)
        )
        .select(
            "instance_id",
            F.col("pred_a").alias("label"),
            F.col("grp_a").alias("grp"),
            F.round("margin_a", 6).alias("margin_a"),
            F.round("margin_b", 6).alias("margin_b"),
        )
    )


# ---------------------------------------------------------------------------
# K4: codebook sink/load round-trip (build_label_codebook_fast.py:425-428)
# ---------------------------------------------------------------------------


def write_codebook(codebook: DataFrame, path: str) -> None:
    """K4 sink: the codebook as a single JSON artifact (the reference dumps
    {instance_id: label} to label_codebook.json; we keep the full row —
    label, confidence, stage — and coalesce(1) because a codebook is
    dimension-sized by construction)."""
    codebook.coalesce(1).write.mode("overwrite").json(path)


def read_codebook(spark, path: str) -> DataFrame:
    """K4 load: explicit schema (never inferSchema in production paths)."""
    return spark.read.schema(
        "instance_id int, label string, confidence double, stage string"
    ).json(path)


_CB_MAP_TYPE = "map<int,struct<label:string,confidence:double>>"


def apply_codebook(frames: DataFrame, codebook: DataFrame, labeled_only: bool = True) -> DataFrame:
    """J6/K6: rewrite ``object_N`` → ``pseudo_<label>``, attach provenance,
    optionally drop unmatched boxes (the labeled-only snapshot).

    MAP-SIDE: the codebook is dimension-sized by construction (the
    reference holds it as one in-memory dict and rewrites files in place,
    build_label_codebook_fast.py:311-348), so it is collected into a
    single map LITERAL and every frame rewrites its own boxes array with
    a per-row ``transform`` — zero shuffle, scan-out scaling. The
    previous form (posexplode → broadcast join → groupBy over every
    frame column → collect_list) reassembled the ENTIRE corpus through
    one exchange to rebuild an array each row already had, and merged
    fully-identical frame rows as a side effect; this keeps rows 1:1.

    Duplicate codebook ids keep the highest-confidence entry (then label
    for determinism) — ``create_map`` rejects duplicate keys."""
    entries = sorted(
        codebook.select("instance_id", "label", "confidence").collect(),
        key=lambda r: (
            r.instance_id is None,
            r.instance_id or 0,
            -(r.confidence if r.confidence is not None else float("-inf")),
            r.label or "",
        ),
    )
    pairs: list[Column] = []
    seen: set[int] = set()
    for r in entries:
        if r.instance_id is None or r.instance_id in seen:
            continue
        seen.add(r.instance_id)
        pairs.append(F.lit(int(r.instance_id)))
        pairs.append(
            F.struct(
                F.lit(r.label).cast("string").alias("label"),
                F.lit(r.confidence).cast("double").alias("confidence"),
            )
        )
    cb_map = (
        F.create_map(*pairs) if pairs else F.lit(None).cast(_CB_MAP_TYPE)
    )

    def rewrite(b: Column) -> Column:
        iid = F.nullif(
            F.regexp_extract(b["category"], r"^object_(\d+)$", 1), F.lit("")
        ).cast("int")
        ent = F.element_at(cb_map, iid)  # null iid / missing key -> null
        return F.when(
            ent["label"].isNotNull(),
            b.withField("category", F.format_string("pseudo_%s", ent["label"]))
            .withField("method", F.lit("codebook"))
            .withField("confidence", ent["confidence"]),
        ).otherwise(b)

    def keep(b: Column) -> Column:
        if not labeled_only:
            return F.lit(True)
        iid = F.nullif(
            F.regexp_extract(b["category"], r"^object_(\d+)$", 1), F.lit("")
        ).cast("int")
        return iid.isNull() | F.element_at(cb_map, iid)["label"].isNotNull()

    return frames.withColumn(
        "bounding_boxes_3d",
        F.transform(F.filter(F.col("bounding_boxes_3d"), keep), rewrite),
    )


def label_histogram(codebook: DataFrame) -> DataFrame:
    """K6 summary: per-label counts (create_labeled_dataset.py:183)."""
    return codebook.groupBy("label").agg(
        F.count("*").alias("n_instances"),
        F.round(F.avg("confidence"), 3).alias("avg_confidence"),
    )


# ---------------------------------------------------------------------------
# M5: mask refinement stage (build_enhanced_codebook_v2.py:314-336 get_sam_mask)
# ---------------------------------------------------------------------------

MASK_REFINE_SCHEMA = (
    "instance_id int, x_min int, y_min int, x_max int, y_max int, "
    "mask_area long, box_iou double"
)


def stub_mask_refiner() -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Deterministic stand-in for the SAM mask-refinement stage (M5).

    Real deployment: per-executor SamPredictor singleton; set_image once
    per frame, predict with the box prompt, emit the mask's tight bbox +
    area (build_enhanced_codebook_v2.py:314-336). The stub tightens each
    box by 15% per side and reports the implied area/IoU — stable
    values that let downstream logic (crop selection, agreement joins) be
    tested without torch.
    """

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["x_max"] - pdf["x_min"]
            h = pdf["y_max"] - pdf["y_min"]
            dx = (w * 0.15).astype(int)
            dy = (h * 0.15).astype(int)
            nx0 = pdf["x_min"] + dx
            ny0 = pdf["y_min"] + dy
            nx1 = (pdf["x_max"] - dx).clip(lower=nx0 + 1)
            ny1 = (pdf["y_max"] - dy).clip(lower=ny0 + 1)
            area = ((nx1 - nx0) * (ny1 - ny0)).astype("int64")
            box_area = (w * h).clip(lower=1)
            yield pd.DataFrame(
                {
                    "instance_id": pdf["instance_id"],
                    "x_min": nx0,
                    "y_min": ny0,
                    "x_max": nx1,
                    "y_max": ny1,
                    "mask_area": area,
                    "box_iou": (area / box_area).round(6),
                }
            )

    return refine


def pixel_mask_refiner(
    mask_col: str = "mask_png",
    context_frac: float = 0.1,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """REAL mask-refinement kernel — the non-stub face of M5, same
    output contract as :func:`stub_mask_refiner` (and as a SAM
    deployment), but computing on actual pixels via the engine's own
    PNG decoder: binarize (any channel > 0), clip to the prompt box
    expanded by ``context_frac`` per side, 3×3 morphological OPEN
    (erode-then-dilate — kills speckle noise the way SAM's mask head
    smooths ragged prompts), keep the LARGEST 4-connected component,
    emit its tight bbox + pixel area + box-IoU vs the prompt box.

    Connected components use vectorized min-label sweeps (the in-batch
    twin of dedup.neardup_components' hash-to-min scheme): converges in
    O(component diameter) full-array passes — crop-sized masks have
    diameters in the hundreds, so this stays numpy-bound without
    scipy.ndimage (not in this container). A mask that opens to empty
    degrades to the prompt box with mask_area 0 / box_iou 0.0, the
    explicit "refinement failed, keep the prompt" row downstream
    agreement joins can filter on.

    Ref: build_enhanced_codebook_v2.py:314-336 (get_sam_mask) — box
    prompt in, tight mask stats out.
    """
    import numpy as np

    from ..sources.png_codec import decode_png

    def _open3(m: "np.ndarray") -> "np.ndarray":
        def shifts(x, reduce_all):
            # outside-of-frame is EMPTY for both passes: erosion shaves
            # the border (conservative), dilation never invents pixels
            p = np.pad(x, 1, constant_values=False)
            acc = None
            for dy in (0, 1, 2):
                for dx in (0, 1, 2):
                    s = p[dy : dy + x.shape[0], dx : dx + x.shape[1]]
                    acc = s if acc is None else (
                        (acc & s) if reduce_all else (acc | s)
                    )
            return acc

        return shifts(shifts(m, True), False)

    def _largest_component(m: "np.ndarray") -> "np.ndarray":
        h, w = m.shape
        big = h * w
        lbl = np.where(m, np.arange(big).reshape(h, w), big)
        while True:
            p = np.pad(lbl, 1, constant_values=big)
            nxt = lbl
            for dy, dx in ((0, 1), (2, 1), (1, 0), (1, 2)):  # 4-conn
                nxt = np.minimum(nxt, p[dy : dy + h, dx : dx + w])
            nxt = np.where(m, nxt, big)
            if np.array_equal(nxt, lbl):
                break
            lbl = nxt
        flat = lbl[m]
        if flat.size == 0:
            return np.zeros_like(m)
        roots, counts = np.unique(flat, return_counts=True)
        return lbl == roots[np.argmax(counts)]

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                x0, y0, x1, y1 = (
                    int(row.x_min), int(row.y_min),
                    int(row.x_max), int(row.y_max),
                )
                img = decode_png(bytes(getattr(row, mask_col)))
                arr = np.asarray(img.rows, dtype=np.int64)
                if img.channels > 1:
                    arr = arr.reshape(img.height, img.width, img.channels)
                    mask = (arr > 0).any(axis=2)
                else:
                    mask = arr.reshape(img.height, img.width) > 0
                dx = int((x1 - x0) * context_frac)
                dy = int((y1 - y0) * context_frac)
                cx0 = max(0, x0 - dx)
                cy0 = max(0, y0 - dy)
                cx1 = min(img.width, x1 + dx)
                cy1 = min(img.height, y1 + dy)
                clipped = np.zeros_like(mask)
                clipped[cy0:cy1, cx0:cx1] = mask[cy0:cy1, cx0:cx1]
                blob = _largest_component(_open3(clipped))
                ys, xs = np.nonzero(blob)
                if ys.size == 0:
                    out.append((row.instance_id, x0, y0, x1, y1, 0, 0.0))
                    continue
                nx0, nx1 = int(xs.min()), int(xs.max()) + 1
                ny0, ny1 = int(ys.min()), int(ys.max()) + 1
                inter = max(0, min(nx1, x1) - max(nx0, x0)) * max(
                    0, min(ny1, y1) - max(ny0, y0)
                )
                union = (
                    (nx1 - nx0) * (ny1 - ny0) + (x1 - x0) * (y1 - y0) - inter
                )
                out.append(
                    (
                        row.instance_id, nx0, ny0, nx1, ny1,
                        int(ys.size),
                        round(inter / union, 6) if union > 0 else 0.0,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "instance_id", "x_min", "y_min", "x_max", "y_max",
                    "mask_area", "box_iou",
                ],
            )

    return refine


def refine_masks_from_pixels(
    crops: DataFrame,
    mask_col: str = "mask_png",
    context_frac: float = 0.1,
) -> DataFrame:
    """M5 with the real pixel kernel: crop rows carrying their mask PNG
    bytes → refined tight boxes. Same Arrow-batched mapInPandas seam as
    :func:`refine_masks`; pixels stay inside the stage, only the skinny
    stats cross the shuffle boundary (the taskonomy F7 rule). SURVEY
    §2.10 M5 (mask refinement), "a REAL pixel kernel behind the M5
    mask-refinement seam"."""
    return crops.select(
        "instance_id", "x_min", "y_min", "x_max", "y_max", mask_col
    ).mapInPandas(
        pixel_mask_refiner(mask_col, context_frac), schema=MASK_REFINE_SCHEMA
    )


def refine_masks(
    crops: DataFrame,
    refiner: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]] | None = None,
) -> DataFrame:
    """M5 as a first-class stage: (instance_id, x_min, y_min, x_max, y_max)
    crop rows → refined tight boxes via an Arrow-batched mapInPandas
    refiner (SAM in production, deterministic stub here). Output joins
    back on instance_id — the refined crops feed the Stage-B classifier
    (two_stage_cascade / hierarchical_codebook_v2). SURVEY §2.10 M5 (SAM
    mask refinement)."""
    fn = refiner or stub_mask_refiner()
    return crops.select(
        "instance_id", "x_min", "y_min", "x_max", "y_max"
    ).mapInPandas(fn, schema=MASK_REFINE_SCHEMA)
