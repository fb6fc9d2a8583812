"""Deduplication operators for LLM-corpus pipelines (scale extensions per
SURVEY §7.1 step 7; the reference's only dedupe is first-per-group J7/W2).

Scale design (the point of each operator):

- **exact**: one md5 per doc, one groupBy — the cheap first pass. At 100 TB
  the shuffle carries (fingerprint, id) only, never the text.
- **MinHash + LSH**: signatures are per-row column math (no shuffle);
  banding explodes k/r rows per doc; the bucket join only pairs docs that
  collide in ≥1 band → candidate count ≈ O(near-dups), not O(n²). Exact
  Jaccard verifies candidates. This is the standard web-dedup pipeline
  (Broder '97 resemblance / MMDS ch.3) expressed as DataFrame ops.
- **SimHash**: in-row bit-vote fold over the token-hash array — zero
  shuffle (a doc's fingerprint depends only on its own tokens);
  fingerprint closeness (hamming) finds near-dups.
- **n-gram Jaccard**: the verify kernel as a standalone blocked operator.
- **embedding cosine**: blocked exact pairing on integer-scaled dot
  products (unit vectors → dot = cosine).

Every operator takes/returns DataFrames and composes with any source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    doc_fingerprint,
    hash32,
    hash60,
    let,
    tokens,
    word_shingles,
)
from .similarity import _block_cosine_pairs, _int_vec

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group by canonical fingerprint; keep min-id winner per group.

    Returns (fingerprint, keep_id, n_dups) for groups of size > 1 —
    the delete-list of a dedup pass.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
        .select("fp", "keep_id", (F.col("group_size") - 1).alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Affine-permutation constants: one cryptographic-ish base hash per shingle,
# then k cheap (a·h + b) mod P permutations — 1 md5 per shingle instead of k
# (k× less hashing; md5 is the hot cost at corpus scale). P is the Mersenne
# prime 2^61−1; a·h < 2^24·2^32 keeps every product inside int64 in Spark
# AND DuckDB (which errors on overflow rather than wrapping).
MINHASH_P = (1 << 61) - 1


def _perm_coeffs(k: int) -> list[tuple[int, int]]:
    return [(1_000_003 * j + 777_767, 999_983 * j + 37) for j in range(k)]


def minhash_signature_from_hashes(shingle_hashes: Column, k: int = 12) -> Column:
    """Signature from pre-hashed shingles.

    let-bound: the hash array is referenced k times (once per permutation);
    without the binding an inlined md5 transform recomputes k times.
    """

    def perm(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % MINHASH_P

    return let(
        shingle_hashes,
        lambda hs: F.array(
            *[F.array_min(F.transform(hs, perm(a, b))) for a, b in _perm_coeffs(k)]
        ),
    )


def _inrow_id_pairs(members: Column) -> Column:
    """All i<j pairs of a SORTED member-id array as struct(a, b) — the
    winnow_pairs in-row expansion specialized to plain ids: bounded by
    the caller's group-size cap, so at most cap²/2 structs materialize
    per row, and (a < b) holds because the input is ascending."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(members) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(members).cast("long")),
                lambda j: F.struct(
                    F.element_at(members, i.cast("int")).alias("a"),
                    F.element_at(members, j.cast("int")).alias("b"),
                ),
            ),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    Pipeline: shingle → k-minhash → split signature into ``bands`` bands of
    r = k/bands rows → md5(band) bucket key → per-(band, bucket) member
    list → in-row i<j pair expansion → distinct candidate pairs → verify
    with exact Jaccard ≥ threshold.

    With k=12, b=4, r=3 the S-curve midpoint is (1/4)^(1/3) ≈ 0.63, so
    0.8-similar pairs collide with ~97% probability while <0.3 pairs
    almost never do: candidate volume stays O(near-dups) at corpus scale
    — EXCEPT for mass-duplicated content: m byte-identical copies of one
    viral page share one signature, so they land in ONE bucket in EVERY
    band and would emit O(m²·bands) candidates. ``max_bucket`` is the
    winnow_pairs max_df guard ported to LSH: (band, bucket) groups larger
    than it are dropped before pairing. Near-dup semantics tolerate the
    cull — r of 12 minhashes colliding across >max_bucket docs means
    exact-dup-level similarity, which the cheaper exact fingerprint pass
    (:func:`exact_dedup_groups`, the documented pipeline stage BEFORE
    MinHash) owns. Pair generation is collect_list + in-row expansion
    (the winnow_pairs shape), bounding in-flight pairs at max_bucket²/2
    per group and saving the self-join's second exchange.
    """
    r = k // bands
    assert bands * r == k, "k must divide into equal bands"
    if max_bucket < 2:
        raise ValueError("max_bucket must be >= 2")

    # Stage the column pipeline through real projections: a higher-order
    # lambda re-evaluates its input subexpression per element, so tokens
    # must be a materialized column before shingling, and shingle hashes
    # before the k permutations — otherwise the split/md5 work multiplies
    # by shingle count / k (measured 4-5× on the documents corpus).
    sh = (
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t"))
        .select("doc_id", word_shingles(F.col("t"), n).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    sig = sh.withColumn("hs", F.transform(F.col("sh"), hash32)).withColumn(
        "sig", minhash_signature_from_hashes(F.col("hs"), k)
    )

    # band index b → bucket key = md5 of that signature slice, via the
    # ONE shared banding expression (banded_signatures — incremental LSH
    # and the DuckDB oracles must stay bucket-compatible with this path).
    # The banded table is SKINNY (doc_id, band, bucket) — the O(candidates)
    # pair expansion never touches shingle arrays; those re-attach
    # afterwards to only the surviving candidate pairs (two narrow hash
    # joins). At corpus scale this is the difference between shuffling
    # ids and shuffling the corpus.
    banded = banded_signatures(sig.select("doc_id", "sig"), k, bands).drop("sig")

    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket))
    )
    cand_ids = (
        grouped.select(F.explode(_inrow_id_pairs(F.col("members"))).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # The shingle re-attach joins are ALWAYS shuffle-side (merge hint):
    # the sh relation is O(corpus) rows of fat token-shingle arrays, so
    # broadcasting it is never right at scale — yet the static planner
    # does exactly that when the corpus parquet compresses under
    # autoBroadcastJoinThreshold (size estimates cannot see the ~50×
    # text-decompression + shingle-expansion amplification). Proven at
    # the sf10 (factor-100) spot check: curation_clean_pipeline's
    # composed build DIED with "Could not execute broadcast in 300 secs"
    # materializing this exact subtree — the broadcast build re-runs
    # the whole tokenize/shingle pipeline into one driver-side
    # collection. Same hazard class and fix as the fuzzy-join blocking
    # equi-join (operators/fuzzyjoin.py): SMJ is spillable on both
    # sides and AQE-skew-splittable, and sorting by id is noise next to
    # the Jaccard verify.
    cands = cand_ids.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
        .hint("merge"),
        "id_a",
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
        .hint("merge"),
        "id_b",
    )

    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        cands.withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_column(token_hashes: Column, bits: int = 32) -> Column:
    """SimHash fingerprint of one document's token-hash array as a pure
    column expression: each token votes ±1 on each bit of its hash, the
    sign pattern is the fingerprint. ``bits`` folds over the array, all
    in-row — a document's SimHash depends only on its own tokens, so no
    grouping is ever needed. let-bound: the hash array is referenced once
    per bit."""

    def fp(hs: Column) -> Column:
        out: Column = F.lit(0).cast("long")
        for j in range(bits):
            vote = F.aggregate(
                hs,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, j).bitwiseAND(1) == 1, 1).otherwise(-1),
            )
            out = out + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return out

    return let(token_hashes, fp)


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Per-doc SimHash fingerprint (Charikar '02): tokens vote ±1 on each
    bit of their hash; the sign pattern is the fingerprint.

    ZERO shuffle: the bit votes are an in-row fold over the token-hash
    array (``simhash_column``) — at corpus scale this replaces an
    exchange carrying one row per TOKEN with none at all. Docs with no
    tokens are dropped, matching the previous explode+groupBy form (an
    empty doc has no votes, hence no fingerprint). Tokenization is staged
    through a real projection so the HOF lambdas don't re-run the split
    per element."""
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") > 0)
    hashed = toked.select("doc_id", F.transform(F.col("t"), hash32).alias("hs"))
    return hashed.select("doc_id", simhash_column(F.col("hs"), bits).alias("simhash"))


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard within blocking-key groups.

    The blocking key bounds the quadratic term: pairs only form inside a
    block (here e.g. (lang, source)), so cost is Σ|block|², not |corpus|².
    For unblockable corpora use minhash_lsh_pairs instead.
    """
    # The verify kernel intersects 64-bit shingle HASHES, not strings: set
    # sizes are identical (collisions over a doc pair's union are ~2⁻⁶⁰
    # likely) and integer set-intersection is ~25× cheaper than string —
    # this kernel runs once per candidate pair, i.e. Σ|block|² times.
    sh = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("doc_id"),
        word_shingles(tokens(F.col(text_col)), n).alias("sh"),
    ).select(
        *block_cols,
        "doc_id",
        F.array_sort(F.array_distinct(F.transform(F.col("sh"), hash60))).alias("hs"),
    ).filter(F.size("hs") > 0)
    sh = sh.withColumn("n", F.size("hs"))
    # Salted self-join: a blocking key with few distinct values (5 langs)
    # would put each block's quadratic pair generation on ONE task. Side A
    # takes salt = hash(id) mod S; side B is replicated S ways — every
    # (x < y) pair still forms exactly once (at salt(x)), but each block's
    # work spreads across S·|blocks| tasks. B's shuffle grows S×, which is
    # the standard price of skew-splitting a self-join.
    salt = 32
    # Repartition the probe side on the salt: when the build side broadcasts
    # (small corpus / dimension-sized blocks), join parallelism equals the
    # PROBE side's partition count — a small parquet file arrives as 1-2
    # input splits and would serialize the whole quadratic verify onto one
    # or two tasks regardless of salting.
    a = (
        sh.withColumn("_salt", F.pmod(F.hash("doc_id"), F.lit(salt)))
        .repartition(salt, "_salt")
        .alias("a")
    )
    b = sh.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id")) & (
        F.col("a._salt") == F.col("b._salt")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # Lossless length prefilter: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a
    # pair can only reach the threshold when the smaller set is ≥ t·larger
    # — an integer compare that prunes most of the Σ|block|² pairs before
    # the set intersection ever runs.
    cond = cond & (
        F.least(F.col("a.n"), F.col("b.n")).cast("double")
        >= F.lit(threshold) * F.greatest(F.col("a.n"), F.col("b.n")).cast("double")
    )
    inter = F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs")))
    union = F.size(F.array_union(F.col("a.hs"), F.col("b.hs")))
    # Merge hint: the replicated side is 32× an O(corpus) table of fat
    # shingle-hash arrays — statically broadcast whenever the corpus
    # parquet compresses under the threshold (estimates see neither the
    # text amplification nor the ×32 explode), which is the sf10-proven
    # fuzzy/minhash hazard class. SMJ on the (salt, block) equi-keys
    # keeps both sides spillable; the within-key quadratic verify —
    # the real cost — is unchanged, and the salting still spreads it.
    return (
        a.join(b.hint("merge"), cond)
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Near-identical embedding pairs by cosine within a blocking key.

    Components are scaled to integers so the dot product is exact BIGINT
    arithmetic (deterministic under any partitioning; also how a fixed-point
    SIMD kernel would do it). Unit-norm inputs → dot == cosine.

    The pair join is SemDeDup's (``similarity.semantic_dedup_pairs``),
    salted 32 ways so a blocking key with few distinct values (a handful of
    labels) does not serialize each block's quadratic verify onto one task.
    """
    v = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        _int_vec(F.col(vec_col)).alias("iv"),
    )
    return _block_cosine_pairs(v, threshold)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-3-style n-gram decontamination: flag corpus documents sharing
    any word n-gram with a held-out benchmark set (the standard 13-gram
    rule; parameterized for short corpora).

    Scale shape: the benchmark's distinct n-gram set is dimension-sized by
    construction (eval sets are thousands of documents, not billions), so
    it BROADCASTS; the corpus explodes its shingles map-side and the hit
    check is a broadcast inner join + per-doc count — the corpus is
    scanned once, nothing corpus-sized ever shuffles. 64-bit shingle
    hashes cross the wire, not strings.

    Returns (id_col, n_hits) for contaminated documents only — the drop
    list a cleaning pass anti-joins against.
    """
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(tokens(F.col(text_col)), n)).alias("g")
        )
        .select(hash60(F.col("g")).alias("h"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col).alias("__decon_id"),
        F.explode(word_shingles(tokens(F.col(text_col)), n)).alias("g"),
    ).select("__decon_id", hash60(F.col("g")).alias("h"))
    return (
        corpus_grams.join(F.broadcast(bench_grams), "h")
        .groupBy("__decon_id")
        .agg(F.countDistinct("h").alias("n_hits"))
        .withColumnRenamed("__decon_id", id_col)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Transitive closure of near-dup pairs → (doc_id, component_id),
    component_id = the MINIMUM doc id in the component (the canonical
    keeper a cleaning pass retains; everything else drops).

    Pair detectors (MinHash/LSH, SimHash, embedding cosine) emit EDGES;
    dedup policy needs COMPONENTS — A~B and B~C must collapse to one
    cluster even though (A, C) never collided.

    Algorithm: iterative min-label propagation (the hash-to-min scheme of
    Rastogi et al.'s CC-MR / the GraphX default): every vertex starts at
    min(self, neighbors) and repeatedly takes the min over its
    neighborhood until fixpoint, converging in O(diameter) rounds —
    near-dup clusters are shallow (dup families, not social graphs), so
    this is 2-4 rounds in practice. Genuinely iterative (driver loop,
    one distributed join per round, localCheckpoint to cut lineage) —
    like KMeans this cannot be one SQL expression, but the FIXPOINT is
    SQL-checkable via a recursive CTE, so the driver value-checks it.

    Ids keep their NATIVE type (min/least are total orders on integrals
    and strings alike); a silent cast-to-long would NULL out string/UUID
    ids and empty the pair graph. Raises if the fixpoint is not reached
    within ``max_iter`` rounds — an unconverged labeling is WRONG (some
    vertices still carry a non-minimal label), never a best-effort.
    """
    from pyspark.sql.types import IntegerType, LongType, ShortType, StringType

    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    t_a, t_b = pairs.schema[id_a].dataType, pairs.schema[id_b].dataType
    ok_types = (IntegerType, LongType, ShortType, StringType)
    if not (isinstance(t_a, ok_types) and isinstance(t_b, ok_types)):
        raise TypeError(
            f"neardup_components needs integral or string id columns, got "
            f"{id_a}:{t_a.simpleString()}, {id_b}:{t_b.simpleString()}"
        )
    if t_a.simpleString() != t_b.simpleString():
        raise TypeError(
            f"id column types differ: {id_a}:{t_a.simpleString()} vs "
            f"{id_b}:{t_b.simpleString()} — min-label order would be ambiguous"
        )
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )

    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(
            F.col("src").alias("v"),
            F.least(F.col("src"), F.col("nmin")).alias("label"),
        )
        .localCheckpoint()
    )
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges["dst"] == labels["v"])
            .select(F.col("src").alias("v"), "label")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"neardup_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — the component graph is "
            f"deeper than expected; raise max_iter (propagation needs "
            f"O(component diameter) rounds)"
        )
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component_id"))


def dedup_keep_filter(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Retention pass: drop every doc whose component id differs from its
    own id (the min-id doc per near-dup cluster survives; docs in no
    cluster pass through untouched).

    No forced broadcast: the drop list is dup-population-sized, and web
    corpora run 30-50% duplicates — at 100 TB that is billions of ids,
    far past broadcastable. Left as a plain anti-join so AQE broadcasts
    it when it measures small (localRelationThreshold /
    autoBroadcastJoinThreshold) and shuffles it when it isn't — same
    output either way."""
    drops = components.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias("__drop_id")
    )
    return docs.join(drops, docs[id_col] == F.col("__drop_id"), "left_anti")


# ---------------------------------------------------------------------------
# Sub-document (paragraph-level) exact dedup
# ---------------------------------------------------------------------------


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Exact duplicate-PARAGRAPH removal across the whole corpus — the
    sub-document granularity of MassiveText/Gopher's repetition removal
    (Rae et al. 2021 §A1.2): boilerplate headers, license blocks, and
    navigation chrome repeat across documents that are NOT near-dups, so
    document-level dedup never catches them.

    Semantics: split on ``sep``, drop empty paragraphs; each distinct
    paragraph string keeps its globally-FIRST occurrence (min (doc id,
    position) — deterministic, engine-independent); every later
    occurrence is dropped; documents are rebuilt from their surviving
    paragraphs in original order. Documents with no surviving paragraph
    drop out.

    Scale shape: one shuffle keyed on the paragraph string for the
    winner window — Spark's WindowGroupLimit pushes the rank-1 limit
    map-side, so a paragraph duplicated a million times ships ONE
    candidate row per input partition, not a million (the same partial
    top-n that makes stratified_sample scale); then one groupBy(doc) to
    reconstruct. Returns (``id_col``, ``text_col``) of rebuilt docs.
    """
    from pyspark.sql import Window as W

    # F.split takes a REGEX; quote the separator (\Q…\E) so sep='.'
    # or '||' splits literally instead of on every character
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(quoted))).alias("pos", "para"),
    ).filter(F.col("para") != "")
    w = W.partitionBy("para").orderBy(id_col, "pos")
    kept = (
        paras.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias(text_col)
    )


# ---------------------------------------------------------------------------
# Incremental (cross-batch) exact dedup
# ---------------------------------------------------------------------------


def dedup_incremental(
    new_docs: DataFrame,
    seen: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fp_col: str = "fp",
) -> DataFrame:
    """Exact dedup for BATCH-APPEND ingestion: drop new documents whose
    canonical fingerprint already exists in the ``seen`` store (all
    fingerprints from prior batches) or duplicates another new document
    (min-id winner within the batch — the ``exact_dedup_groups`` rule).
    Returns the surviving rows WITH their ``fp_col`` so the caller can
    append exactly ``survivors.select(fp_col)`` to the store for the
    next batch: store ∪ batchᵢ fingerprints is the loop invariant.

    ``seen`` may be None/empty for the first batch (everything within-
    batch-deduped only).

    Scale shape: the fingerprint is in-row; the within-batch winner is
    one groupBy-min on the skinny (fp, id) projection re-joined as a
    semi-join; the store check is an anti-join that shuffles ONLY
    fingerprint columns (the store is corpus-sized, so no broadcast hint
    — AQE picks broadcast only while the store is genuinely small; at
    100 TB both sides hash-partition on fp, and a production deployment
    would bucket the store by fp to make the anti-join zero-shuffle on
    the store side).

    Skew story: fingerprints of mass-duplicated content are themselves
    hot keys — m copies of one viral page put m batch rows under ONE fp
    in the anti-join shuffle (the store side stays unskewed: it is
    ``.distinct()``-ed, one row per fp). That is exactly the shape AQE's
    skew-join handling splits — the batch side of a sort-merge LEFT ANTI
    is splittable (the store side duplicates into each split), so AQE's
    skew handling (default on) re-plans the hot partition into parallel
    splits at runtime; no salting needed on top. Plan-proven in
    tests/test_dedup_similarity.py::
    test_dedup_incremental_store_antijoin_aqe_skew_split — which is why
    the store side must stay a bare projection (see the in-code note:
    an aggregate between shuffle stage and join defeats the skew rule).
    The winner semi-join needs no story at all: it keys on (fp, id), and
    the id component spreads a hot fingerprint uniformly.
    """
    from ..functions.text import doc_fingerprint

    fp = doc_fingerprint(F.col(text_col)).alias(fp_col)
    withfp = new_docs.withColumn(fp_col, fp)
    if seen is not None:
        # NO .distinct() on the store side: the loop invariant already
        # makes store fps unique (only survivor fingerprints append), an
        # anti-join never multiplies rows off duplicates anyway, and —
        # decisive at scale — a final-aggregate node between the shuffle
        # stage and the join breaks AQE's skew-join pattern match
        # (OptimizeSkewedJoin rewrites SMJ(Sort(stage), Sort(stage))
        # only), which would leave the hot-fingerprint partition
        # unsplittable. Plan-proven by the skew test below.
        store = seen.select(F.col(fp_col).alias("__seen_fp"))
        withfp = withfp.join(
            store, F.col(fp_col) == F.col("__seen_fp"), "left_anti"
        )
    # Null-fingerprint rows (null/undecodable text) PASS THROUGH: they
    # can't be deduped against anything and must not be lost — a plain
    # equality semi-join would evaluate NULL == NULL to NULL and silently
    # delete the whole group (they also sail through the store anti-join
    # above for the same reason, which is the correct keep behavior).
    nullfp = withfp.filter(F.col(fp_col).isNull())
    keyed = withfp.filter(F.col(fp_col).isNotNull())
    winners = (
        keyed.select(F.col(fp_col).alias("__keep_fp"), F.col(id_col))
        .groupBy("__keep_fp")
        .agg(F.min(id_col).alias("__keep_id"))
    )
    kept = keyed.join(
        winners,
        (F.col(fp_col) == F.col("__keep_fp"))
        & (F.col(id_col) == F.col("__keep_id")),
        "left_semi",
    )
    return kept.unionByName(nullfp)


# ---------------------------------------------------------------------------
# Incremental (cross-batch) MinHash near-dup
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    n: int = 3,
) -> DataFrame:
    """(``id_col``, sig) rows — the signature STORE format for
    incremental near-dup: signatures are k longs per doc (text never
    persists in the store), computed with the same staged projections as
    :func:`minhash_lsh_pairs`. The id keeps the caller's column name so
    the store round-trips through :func:`minhash_incremental_pairs`
    under any ``id_col``."""
    return (
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t"))
        .select("doc_id", word_shingles(F.col("t"), n).alias("sh"))
        .filter(F.size("sh") > 0)
        .withColumn("hs", F.transform(F.col("sh"), hash32))
        .select(
            F.col("doc_id").alias(id_col),
            minhash_signature_from_hashes(F.col("hs"), k).alias("sig"),
        )
    )


def banded_signatures(
    sigs: DataFrame, k: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig, band, bucket) rows — the BANDED store format. This is
    the ONE banding expression for batch LSH, incremental LSH, and the
    DuckDB oracles' bucket SQL (drift between copies would silently make
    their buckets incompatible). Persist the store in THIS form bucketed
    on (band, bucket) and the per-batch probe joins on stored columns —
    zero re-banding, zero store-side shuffle (plan-proven in
    tests/test_bronze_bucketing.py).
    """
    r = k // bands
    return sigs.select(
        F.col(id_col),
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(
                            F.slice(F.col("sig"), b * r + 1, r).cast("array<string>"),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        F.col(id_col),
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-duplicate pairs for BATCH-APPEND ingestion — the MinHash
    sibling of :func:`dedup_incremental`: the new batch's signatures are
    banded and joined against (a) the prior-batches signature ``store``
    (cross-batch pairs, ``source='store'``) and (b) themselves
    (within-batch pairs, ``source='batch'``). Verification uses the
    SIGNATURE Jaccard estimator — fraction of equal minhash components
    (unbiased, granularity 1/k; the store holds k longs per doc, never
    the text, which is what makes the store corpus-scale persistable).
    Returns (id_a, id_b, est_jaccard, source); id_a is always the new
    doc in cross pairs; cross self-pairs (the same id on both sides —
    a re-ingested doc) are excluded, matching the exact sibling's
    anti-join semantics. Ids must be unique WITHIN a batch (standard
    ingestion contract; two rows sharing an id are never compared).
    Caller appends ``minhash_signatures(new_batch)`` survivors to the
    store — same loop invariant as the exact pass.

    ``store`` accepts EITHER format: raw (``id_col``, sig) rows — banded
    on the fly — or the pre-banded :func:`banded_signatures` form
    (``id_col``, sig, band, bucket), which a persisted store should use:
    banding the raw form costs O(store) md5s + a shuffle on derived keys
    EVERY batch, while the banded form persisted bucketed on
    (band, bucket) probes with zero store-side shuffle (plan-proven in
    tests/test_bronze_bucketing.py).

    Scale shape: both banded sides are skinny (id, band, bucket, k-long
    sig); bucket keys are md5 of signature slices, so ORGANIC bucket
    cardinality is high — but mass-duplicated content defeats it:
    m byte-identical copies share one signature and land in ONE bucket
    in EVERY band, turning the join into O(m²·bands) (within-batch) or
    O(m_new·m_store·bands) (cross). ``max_bucket`` is the winnow_pairs
    max_df guard: each SIDE drops its (band, bucket) groups holding more
    than ``max_bucket`` members before any join — over-full buckets mean
    exact-dup-level similarity, which the exact fingerprint pass
    (:func:`dedup_incremental`, the documented stage before MinHash in
    the ingestion loop) owns. The store-side count is a window over
    (band, bucket): on a store PERSISTED BUCKETED on those keys the scan
    satisfies the window's required distribution, so the guard costs one
    local sort and still zero store-side exchange (plan-proven in
    tests/test_bronze_bucketing.py).
    """
    if k // bands * bands != k:
        raise ValueError("k must divide into equal bands")
    if max_bucket < 2:
        raise ValueError("max_bucket must be >= 2")
    from pyspark.sql import Window

    def cap(banded: DataFrame) -> DataFrame:
        w = Window.partitionBy("band", "bucket")
        return (
            banded.withColumn("_bn", F.count("*").over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )

    sig_new = minhash_signatures(new_docs, id_col, text_col, k, n)
    nb = cap(
        banded_signatures(sig_new, k, bands, id_col).withColumnRenamed(
            id_col, "doc_id"
        )
    )

    def est(sig_a: Column, sig_b: Column) -> Column:
        eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
        return (
            F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double")
            / float(k)
        )

    def verify(cands: DataFrame, source: str) -> DataFrame:
        return (
            cands.withColumn("est_jaccard", est(F.col("sig_a"), F.col("sig_b")))
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard", F.lit(source).alias("source"))
        )

    a, b = nb.alias("a"), nb.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    out = verify(within, "batch")
    if store is not None:
        if "band" in store.columns and "bucket" in store.columns:
            sb = cap(
                store.select(F.col(id_col).alias("doc_id"), "sig", "band", "bucket")
            ).alias("s")
        else:
            sb = cap(
                banded_signatures(
                    store.select(F.col(id_col).alias("doc_id"), "sig"), k, bands
                )
            ).alias("s")
        cross = (
            nb.alias("n")
            .join(
                sb,
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.bucket") == F.col("s.bucket"))
                & (F.col("n.doc_id") != F.col("s.doc_id")),
            )
            .select(
                F.col("n.doc_id").alias("id_a"),
                F.col("s.doc_id").alias("id_b"),
                F.col("n.sig").alias("sig_a"),
                F.col("s.sig").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        out = out.unionByName(verify(cross, "store"))
    return out


# ---------------------------------------------------------------------------
# Exact-substring (span-level) dedup — Lee et al. 2021
# ---------------------------------------------------------------------------

_SPAN_SEP = "\x1f"  # window-serialization separator (see _unit_enc)


def _unit_enc(u: Column) -> Column:
    """Length-prefixed unit encoding for window serialization: 'len:unit'.
    Joining raw units with a separator is NOT injective (a unit may
    itself contain the separator — \x1f is not whitespace, and sentence
    units are arbitrary prose), so ['a\x1fb','c'] and ['a','b\x1fc']
    would collide and dedup as false duplicates. The length prefix makes
    the serialization decodable, hence collision-free up to md5."""
    return F.concat(F.length(u).cast("string"), F.lit(":"), u)


def span_fingerprints(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    units=None,
) -> DataFrame:
    """(doc_id, pos, fp) — one row per k-UNIT sliding window (1-based
    unit position; units default to whitespace tokens, pass
    ``units=functions.text.sentences`` for sentence windows). The
    ExactSubstr representation (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): the paper's suffix
    array finds verbatim repeated spans; at cluster scale the
    equivalent join-able form is a fingerprint per fixed-length window.
    Generation is in-row (generate + explode, zero shuffle); downstream
    shuffles carry (fp, doc_id, pos) triples only — O(corpus units)
    skinny rows, never the text."""
    units = units or tokens

    def mk(t: Column) -> Column:
        wins = F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                hash60(
                    F.concat_ws(
                        _SPAN_SEP,
                        *[
                            _unit_enc(F.element_at(t, (i + off).cast("int")))
                            for off in range(k)
                        ],
                    )
                ).alias("fp"),
            ),
        )
        return F.when(F.size(t) >= k, wins).otherwise(
            F.array().cast("array<struct<pos:long,fp:long>>")
        )

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(let(units(F.col(text_col)), mk)).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp"))


def duplicated_span_positions(
    fps: DataFrame, min_count: int = 2
) -> DataFrame:
    """(doc_id, pos) occurrences of duplicated window fingerprints, OWNER
    EXCLUDED: for each fp seen >= min_count times corpus-wide (across or
    within docs), the lexicographically-minimal (doc_id, pos) occurrence
    is kept and every other occurrence is marked for removal. ONE
    exchange: count + min-owner are computed with an unordered window
    over the fp hash partition (vs groupBy + join back = two)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    marked = fps.select(
        "doc_id",
        "pos",
        F.count("*").over(w).alias("n_occ"),
        F.min(F.struct("doc_id", "pos")).over(w).alias("owner"),
    )
    return marked.filter(
        (F.col("n_occ") >= min_count)
        & ~(
            (F.col("doc_id") == F.col("owner.doc_id"))
            & (F.col("pos") == F.col("owner.pos"))
        )
    ).select("doc_id", "pos")


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    units=None,
    joiner: str = " ",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021) as three skinny shuffles:
    window fingerprints -> duplicated-occurrence marking (fp-partitioned
    window) -> per-doc removal-position lists (groupBy doc_id, O(dup
    spans) rows) -> join back to the corpus and rebuild in-row. A token
    survives iff no removed window [pos, pos+k) covers it; overlapping
    removals are interval-merged with a sorted fold first, so the
    per-token test scans merged intervals, not raw positions (a 1000-
    token verbatim repeat is ~993 positions but ONE interval). Output
    text is whitespace-normalized (single-space joined) — the same
    canonicalization the fingerprint tokenizer applies.

    ``units``/``joiner`` generalize the pass to any unit array (see
    :func:`dedup_sentence_spans` for C4's three-sentence variant).
    Returns (doc_id, n_tokens, n_removed, text); docs with no duplicated
    span pass through with n_removed = 0."""
    units = units or tokens
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    rm = (
        duplicated_span_positions(
            span_fingerprints(base, k=k, units=units), min_count=min_count
        )
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("rm_pos"))
    )
    joined = base.join(rm, "doc_id", "left").select(
        "doc_id",
        "text",
        F.coalesce("rm_pos", F.array().cast("array<long>")).alias("rm_pos"),
    )

    empty_iv = F.array().cast("array<struct<s:long,e:long>>")

    def merge_step(acc: Column, p: Column) -> Column:
        last = F.element_at(acc, -1)
        return F.when(
            (F.size(acc) > 0) & (p <= last["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last["s"].alias("s"),
                        F.greatest(last["e"], p + k).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(p.alias("s"), (p + k).alias("e")))
            )
        )

    ivs = F.aggregate(F.array_sort("rm_pos"), empty_iv, merge_step)

    def rebuild(t: Column) -> Column:
        # guard the empty doc: sequence(1, 0) is the DESCENDING [1, 0]
        # and element_at(t, 0) then aborts the task — zero-unit docs are
        # routine in real corpora and must pass through untouched
        kept = F.when(
            F.size(t) > 0,
            F.filter(
                F.sequence(F.lit(1), F.size(t)),
                lambda i: ~F.exists(
                    F.col("_ivs"), lambda v: (i >= v["s"]) & (i < v["e"])
                ),
            ),
        ).otherwise(F.array().cast("array<int>"))
        return F.struct(
            F.size(t).cast("long").alias("n_tokens"),
            (F.size(t) - F.size(kept)).cast("long").alias("n_removed"),
            F.concat_ws(
                joiner, F.transform(kept, lambda i: F.element_at(t, i.cast("int")))
            ).alias("text"),
        )

    return (
        joined.withColumn("_ivs", ivs)
        .withColumn("_r", let(units(F.col("text")), rebuild))
        .select(
            "doc_id",
            F.col("_r.n_tokens").alias("n_tokens"),
            F.col("_r.n_removed").alias("n_removed"),
            F.col("_r.text").alias("text"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing overlap detection — Schleimer et al. 2003 (MOSS)
# ---------------------------------------------------------------------------


def winnow_pairs(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 64,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document-overlap candidates by shared winnowing fingerprints
    (Schleimer et al. 2003): per-doc fingerprint sets selected in-row
    (~2/(w+1) of k-gram hashes, any >= w+k-1-token verbatim match
    guaranteed to collide), exploded to skinny (fp, doc_id) rows, then
    paired within fp groups. Two guards keep the self-join O(overlaps)
    at corpus scale: fingerprints appearing in > ``max_df`` docs are
    dropped before pairing (boilerplate phrases pair quadratically and
    carry no plagiarism signal — the paper's "too common" cull), and
    pairs sharing < ``min_shared`` fingerprints are culled after
    counting. Returns (id_a, id_b, n_shared, n_a, n_b) with per-doc
    fingerprint totals attached for containment scoring.
    """
    from ..functions.text import winnow_fingerprints

    fps = (
        df.select(
            F.col(id_col).alias("doc_id"),
            winnow_fingerprints(tokens(F.col(text_col)), k=k, w=w).alias("sel"),
        )
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(F.col("sel"), lambda s: s["fp"])
            ).alias("fp_set"),
        )
    )
    # the per-doc total rides the exploded rows (+8 bytes/row) so the
    # expensive winnowing fold is computed ONCE — and stays once: pair
    # generation is a collect_list + IN-ROW i<j expansion per fp group
    # (bounded by max_df <= group size, so <= max_df^2/2 pairs in-row),
    # NOT a self-join whose two sides would each re-derive the fold
    # (static plans show no ReusedExchange under AQE). TWO exchanges
    # total: the (fp) groupBy and the final (pair) groupBy.
    flat = fps.select(
        "doc_id",
        F.size("fp_set").cast("long").alias("n_fp"),
        F.explode("fp_set").alias("fp"),
    )
    grouped = (
        flat.groupBy("fp")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "n_fp"))
            ).alias("members")
        )
        .filter((F.size("members") >= 2) & (F.size("members") <= max_df))
    )

    def pair_gen(m: Column) -> Column:
        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(m) - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, F.size(m).cast("long")),
                    lambda j: F.struct(
                        F.element_at(m, i.cast("int")).alias("a"),
                        F.element_at(m, j.cast("int")).alias("b"),
                    ),
                ),
            )
        )

    return (
        grouped.select(F.explode(let(F.col("members"), pair_gen)).alias("p"))
        .groupBy(
            F.col("p.a.doc_id").alias("id_a"),
            F.col("p.b.doc_id").alias("id_b"),
        )
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.first(F.col("p.a.n_fp")).alias("n_a"),
            F.first(F.col("p.b.n_fp")).alias("n_b"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .select("id_a", "id_b", "n_shared", "n_a", "n_b")
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (the CommonCrawl first pass)
# ---------------------------------------------------------------------------


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL for dedup keys — the normalization web-
    crawl pipelines (CCNet/C4 lineage) apply BEFORE any content dedup,
    since the same page is typically fetched under many spellings:

    - fragment stripped;
    - scheme+host lowercased (path/query case preserved), leading
      ``www.`` dropped, default ports (:80 http, :443 https) dropped;
    - trailing slashes on the path stripped;
    - tracking parameters removed (utm_*, gclid, fbclid, ref), remaining
      query params SORTED so param order never splits a group.

    Pure column expression (zero shuffle, codegen); scheme-less strings
    pass through with only fragment/query normalization. The regex set
    is RE2-safe so the DuckDB oracle reproduces it verbatim."""
    u = F.regexp_replace(url, r"#.*$", "")
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    hostpart = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/]*)", 1)
    path = base.substr(F.length(hostpart) + 1, F.length(base))
    hp = F.lower(hostpart)
    hp = F.regexp_replace(hp, r"^(https?://)www\.", "$1")
    hp = F.regexp_replace(hp, r"^(http://[^/]*):80$", "$1")
    hp = F.regexp_replace(hp, r"^(https://[^/]*):443$", "$1")
    path = F.regexp_replace(path, r"/+$", "")
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)(=.*)?$"),
        )
    )
    qtail = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.concat(hp, path, qtail)


def url_dedup_groups(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Group by canonical URL; (canon_url, keep_id, n_dups) for groups of
    size > 1 — the URL-level delete list. Same shuffle shape as
    :func:`exact_dedup_groups`: the exchange carries (canonical key, id)
    only, never the page content."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            canonical_url(F.col(url_col)).alias("canon_url"),
        )
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("group_size"))
        .filter(F.col("group_size") > 1)
        .select(
            "canon_url", "keep_id", (F.col("group_size") - 1).alias("n_dups")
        )
    )


def dedup_sentence_spans(
    df: DataFrame,
    n_sent: int = 3,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4's exact-dedup step (Raffel et al. 2020 §2.2: "we discard all
    but one of any three-sentence span occurring more than once"): the
    span machinery of :func:`remove_duplicate_spans` instantiated over
    SENTENCE units — sentence windows fingerprint in-row, duplicated
    occurrences resolve to their min-(doc, pos) owner in one
    fp-partitioned pass, and non-owner docs lose the covered sentences
    (interval-merged). Output text is single-space re-joined trimmed
    sentences. Returns (doc_id, n_sentences, n_removed, text)."""
    from ..functions.text import sentences

    out = remove_duplicate_spans(
        df,
        k=n_sent,
        min_count=min_count,
        id_col=id_col,
        text_col=text_col,
        units=sentences,
        joiner=" ",
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").alias("n_sentences"),
        "n_removed",
        "text",
    )


def corpus_overlap(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One-row overlap report between two corpora — the planning number
    a merge/dedup decision needs BEFORE running the expensive pass: how
    much of B is already in A? Documents are compared by the canonical
    bag-of-words fingerprint (exact_dedup_groups' key), counted at two
    granularities: DISTINCT fingerprints (content-level: |A∩B|, Jaccard)
    and raw docs of B whose fingerprint occurs in A (volume-level: how
    many B rows a dedup against A would drop).

    ONE scan + one (fp, count) groupBy per corpus, one full-outer join
    of the two skinny count tables, one final aggregate — a naive
    crossJoin of independent per-metric aggregates would rescan and
    re-fingerprint each corpus per metric (Catalyst does not dedupe the
    shared subtrees across aggregate branches). The text never
    shuffles. Returns (n_a, n_b, distinct_a, distinct_b,
    inter_distinct, jaccard, b_docs_in_a)."""
    ca = (
        corpus_a.select(doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").cast("long").alias("ca"))
    )
    cb = (
        corpus_b.select(doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").cast("long").alias("cb"))
    )
    j = ca.join(cb, "fp", "full_outer").select(
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    counts = j.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum((F.col("ca") > 0).cast("long")).cast("long").alias("distinct_a"),
        F.sum((F.col("cb") > 0).cast("long")).cast("long").alias("distinct_b"),
        F.sum(((F.col("ca") > 0) & (F.col("cb") > 0)).cast("long"))
        .cast("long")
        .alias("inter_distinct"),
        F.sum(F.when(F.col("ca") > 0, F.col("cb")).otherwise(0))
        .cast("long")
        .alias("b_docs_in_a"),
    )
    union_sz = (
        F.col("distinct_a") + F.col("distinct_b") - F.col("inter_distinct")
    )
    return counts.select(
        "n_a",
        "n_b",
        "distinct_a",
        "distinct_b",
        "inter_distinct",
        F.when(
            union_sz > 0,
            F.round(F.col("inter_distinct").cast("double") / union_sz, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
        "b_docs_in_a",
    )
