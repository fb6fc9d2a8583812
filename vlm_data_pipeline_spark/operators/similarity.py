"""Nearest-neighbor search over embedding columns (scale extension per
SURVEY §7.1 step 7; BASELINE.json north star).

Every search here is one shape: a coarse quantizer narrows the corpus to
candidates, each query probes its candidates, an exact integer rerank
scores them, and one per-query top-k tail (:func:`_top_k`) keeps the best.

- **brute force** (:func:`brute_force_topk`): no quantizer; every corpus
  vector is a candidate. The correctness baseline every ANN variant is
  measured against.
- **hyperplane LSH** (:func:`lsh_ann_topk`): the quantizer is the sign
  pattern against deterministic pseudo-random hyperplanes (Charikar SRP);
  candidates share the query's bucket.
- **IVF** (:func:`ivf_ann_topk`): the quantizer is a centroid table, either
  KMeans-trained (:func:`ivf_index`) or the lowest-id corpus vectors. Each
  corpus vector joins its nearest list in-row; each query probes its
  ``nprobe`` nearest lists.
- **PQ** (:func:`pq_ann_topk`): every vector is a candidate, scored by
  asymmetric distance over product-quantization codes instead of an exact
  rerank.

The IVF list assignment also blocks SemDeDup's within-cluster pair join
(shared with ``dedup.embedding_neardup_pairs``) and ranks D4's per-cluster
prototypicality. Dot products and distances use integer-scaled exact
arithmetic (see dedup.py rationale), so scores and list membership agree
in any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import hash32, let

SCALE = 10**4


def _int_vec(vec_col: Column) -> Column:
    return F.transform(vec_col, lambda x: F.round(x.cast("double") * SCALE).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cosine(a: Column, b: Column) -> Column:
    """Cosine of two integer-scaled unit vectors: their exact dot in SCALE²
    units."""
    return _dot(a, b).cast("double") / float(SCALE * SCALE)


def _d2(a: Column, b: Column) -> Column:
    """Exact squared L2 of two integer-scaled vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _top_k(
    cands: DataFrame, k: int, name: str, score: Column, ascending: bool = False
) -> DataFrame:
    """The per-query top-k tail of every search: drop self-matches, score
    the (query_id, neighbor_id) candidates as ``name``, rank by it (highest
    first unless ``ascending``, ties to the lowest neighbor_id) and keep
    ranks up to ``k``. Returns (query_id, neighbor_id, name, rank)."""
    order = F.col(name).asc() if ascending else F.col(name).desc()
    w = W.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        cands.filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(name, score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", name, "rank")
    )


def _centroid_array(
    corpus: DataFrame,
    centroids: DataFrame | None,
    n_lists: int,
    id_col: str,
    vec_col: str,
) -> Column:
    """The coarse quantizer's centroids as ONE array literal of
    (list_id, integer-scaled civ): the caller's (list_id, centroid) table,
    list ids renumbered 0.. in list_id order, or the embeddings of the
    ``n_lists`` lowest-id corpus vectors (re-derivable by any engine).
    Dimension-sized by construction (n_lists × d)."""
    if centroids is None:
        centroids = (
            corpus.orderBy(F.col(id_col).asc())
            .limit(n_lists)
            .select(F.col(id_col), F.col(vec_col))
        )
    cent_rows = sorted(centroids.collect(), key=lambda r: r[0])
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("list_id"),
                _int_vec(F.array(*[F.lit(float(x)) for x in r[1]])).alias("civ"),
            )
            for i, r in enumerate(cent_rows)
        ]
    )


def _cent_ranking(cent_arr: Column, iv: Column) -> Column:
    """array<struct<d:long, list_id:int>> ascending by INTEGER-scaled
    squared L2 (ties → lowest list_id): exact arithmetic in any engine,
    no last-ulp float ties deciding list membership."""
    return F.array_sort(
        F.transform(
            cent_arr,
            lambda e: F.struct(
                _d2(iv, e["civ"]).alias("d"), e["list_id"].alias("list_id")
            ),
        )
    )


def _assign_lists(
    corpus: DataFrame, cent_arr: Column, id_col: str, vec_col: str, id_alias: str
) -> DataFrame:
    """(id_alias, iv, list_id): nearest-centroid assignment computed
    IN-ROW against the centroid literal — zero shuffle, scales with
    input splits."""
    return corpus.select(
        F.col(id_col).alias(id_alias), _int_vec(F.col(vec_col)).alias("iv")
    ).withColumn(
        "list_id",
        let(F.col("iv"), lambda iv: _cent_ranking(cent_arr, iv)[0]["list_id"]),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector. The query side
    is tiny → broadcast; the corpus streams, shuffle-free until the final
    per-query top-k.

    Returns (query_id, neighbor_id, cosine, rank). Self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _int_vec(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _int_vec(F.col(vec_col)).alias("cv")
    )
    cos = _cosine(F.col("qv"), F.col("cv"))
    return _top_k(c.crossJoin(F.broadcast(q)), k, "cosine", cos)


def exact_pair_cosine(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: int | None = None,
) -> DataFrame:
    """Exact integer-scaled cosine for an EXPLICIT (query_id, neighbor_id)
    pair list: two id-equi-joins back to the corpus plus one in-row dot —
    O(|pairs|) lookup work, no scored cross join, no per-query window.

    This is the right shape for verifying an ANN result's rerank exactness
    (ADVICE r12): the pair list is |Q|·k rows, so scoring only those pairs
    beats materializing |Q|·|corpus| candidates just to look a handful up.
    Same SCALE²-denominated formula as brute_force_topk, so equality
    against its cosines is exact, not approximate.

    ``max_pairs`` — when the caller KNOWS a pair-count bound (an ANN
    result is ≤ |Q|·k by contract), pass it: each lookup becomes a
    broadcast of the pair side against the streaming corpus with a
    planted no-op ``Limit`` proving the bound to the plan gate (the
    registry's planted-Limit idiom) — the 100 TB plan: two broadcast
    probes, zero corpus shuffle. Without it the joins stay unhinted and
    AQE picks sides at runtime.
    """
    qv = corpus.select(
        F.col(id_col).alias("query_id"), _int_vec(F.col(vec_col)).alias("_qv")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _int_vec(F.col(vec_col)).alias("_nv")
    )
    p = pairs.select("query_id", "neighbor_id")
    if max_pairs is not None:
        # no-op caps (max_pairs >= true cardinality by contract): each
        # plants a bounding Limit so broadcasting the pair side is
        # PROVABLY bounded regardless of the corpus scans beneath it
        p = p.limit(max_pairs)
        j1 = qv.join(F.broadcast(p), "query_id")
        # j1 <= max_pairs rows too (vec_id unique in corpus) — re-plant
        j2 = nv.join(F.broadcast(j1.limit(max_pairs)), "neighbor_id")
    else:
        j2 = p.join(qv, "query_id").join(nv, "neighbor_id")
    return j2.withColumn("cosine", _cosine(F.col("_qv"), F.col("_nv"))).select(
        "query_id", "neighbor_id", "cosine"
    )


def srp_bucket(vec_col: Column, dim: int, planes: int = 8) -> Column:
    """Signed-random-projection bucket id from deterministic hyperplanes.

    Plane p, component i has weight (hash32('p_i') % 2001 - 1000)/1000 ∈
    [-1, 1] — reproducible anywhere (including the SQL oracle) without
    shipping a matrix. bucket = Σ_p (dot(v, plane_p) > 0) << p.
    """
    iv = _int_vec(vec_col)

    def plane_weight(p: Column, i: Column) -> Column:
        return (
            hash32(F.concat(p.cast("string"), F.lit("_"), i.cast("string"))) % 2001 - 1000
        )

    def plane_dot(p: Column) -> Column:
        # Σ_i iv[i] * w[p][i] — exact BIGINT
        return F.aggregate(
            F.zip_with(
                iv,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: x * plane_weight(p, i),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    bucket: Column = F.lit(0).cast("long")
    # unrolled in the plan: `planes` independent exact dot products
    for p in range(planes):
        bucket = bucket + F.when(plane_dot(F.lit(p)) > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: SRP bucket join, then exact rerank inside the bucket.
    At corpus scale the bucket join replaces the full cross product with
    O(collisions).

    Recall < 1 by construction (single table); raise ``planes`` for purer
    buckets or add OR-tables (union of several bucket joins) for recall.
    Returns (query_id, neighbor_id, cosine, rank) like brute_force_topk.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _int_vec(F.col(vec_col)).alias("qv"),
        srp_bucket(F.col(vec_col), dim, planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _int_vec(F.col(vec_col)).alias("cv"),
        srp_bucket(F.col(vec_col), dim, planes).alias("bucket"),
    )
    cos = _cosine(F.col("qv"), F.col("cv"))
    return _top_k(c.join(F.broadcast(q), "bucket"), k, "cosine", cos)


def ivf_index(
    corpus: DataFrame,
    n_lists: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    """KMeans-trained IVF centroids: (list_id int, centroid array<double>),
    the ``centroids`` input of :func:`ivf_ann_topk`.

    The fit is the one iterative, distributed step of IVF (pyspark.ml);
    the search assigns lists itself. Centroids are a tiny dimension
    (n_lists × d). KMeans reads an ``array<double>`` of non-null elements
    itself (``array_to_vector`` resolves only through MLlib's session
    extension, which ``get_spark`` does not load). A NULL vector or
    element raises.
    """
    from pyspark.ml.clustering import KMeans

    vec = F.col(vec_col).cast("array<double>")
    has_null = vec.isNull() | F.exists(vec, lambda x: x.isNull())
    feat = corpus.select(
        # the coalesce only types the elements non-null: a NULL raises first
        F.when(has_null, F.raise_error(F.lit(f"ivf_index: NULL in {vec_col}")))
        .otherwise(F.transform(vec, lambda x: F.coalesce(x, F.lit(0.0))))
        .alias("features"),
    )
    model = KMeans(k=n_lists, seed=seed, maxIter=20).fit(feat)
    return corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "list_id int, centroid array<double>",
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None = None,
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest inverted lists per query,
    exact-rerank inside them.

    ``centroids`` is the coarse quantizer, a (list_id, centroid) table:
    KMeans-trained from :func:`ivf_index`, or by default the embeddings of
    the ``n_lists`` LOWEST-ID corpus vectors, which any engine can
    re-derive, so the driver can value-check that variant in plain SQL.
    Assignment and probing order by INTEGER-scaled squared L2 (the dedup.py
    integer-cosine rationale), ties to the lowest list id: exact in any
    engine, no last-ulp float ties deciding list membership.

    Cost vs brute force ≈ nprobe/n_lists of the corpus per query; recall
    grows with nprobe (probing every list is exact search).

    Scale shape: centroids are dimension-sized → collected to ONE array
    literal; every corpus vector argmins its list IN-ROW (zero shuffle —
    the scan scales with splits); probes explode nprobe rows per query
    and broadcast into the inverted lists; only the final per-query
    top-k windows. Each corpus vector lives in exactly one list and each
    (query, list) probe is unique, so candidate pairs are distinct.
    Returns (query_id, neighbor_id, cosine, rank).
    """
    cent_arr = _centroid_array(corpus, centroids, n_lists, id_col, vec_col)
    assigned = _assign_lists(
        corpus, cent_arr, id_col, vec_col, "neighbor_id"
    ).withColumnRenamed("iv", "cv")
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"), _int_vec(F.col(vec_col)).alias("qv")
        )
        .withColumn(
            "pl",
            F.explode(
                let(
                    F.col("qv"),
                    lambda iv: F.slice(_cent_ranking(cent_arr, iv), 1, nprobe),
                )
            ),
        )
        .select("query_id", "qv", F.col("pl.list_id").alias("list_id"))
    )
    cos = _cosine(F.col("qv"), F.col("cv"))
    return _top_k(assigned.join(F.broadcast(probes), "list_id"), k, "cosine", cos)


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): split each vector
    into ``m`` subspaces, encode every subvector as its nearest of
    ``ksub`` per-subspace centroids (one byte-ish code each), score
    queries against CODES via asymmetric distance (ADC) — the
    compression path that makes 100 TB embedding corpora fit in memory
    (m codes per vector instead of dim floats; here m·4 vs dim·4 bytes,
    a dim/m reduction).

    Deterministic everywhere (the fixed-IVF playbook): per-subspace
    codebooks are the subvectors of a HASH-ORDERED sample of ``ksub``
    corpus vectors — md5(vec id) order is a uniform deterministic
    sample, so the seeds spread across clusters the way random sampling
    would (lowest-id seeding measured 2× worse recall: consecutive ids
    correlate), and orderBy+limit stays a TakeOrdered, never a global
    sort. Assignment and ADC tables use INTEGER-scaled squared L2, so
    codes and scores are exact in any engine and the driver can
    value-check the whole operator. Production swaps in k-means-trained
    codebooks; the plan shape is identical.

    Scale shape: encoding is an in-row argmin per subspace over the
    codebook literal (zero shuffle, scan-out); each query computes its
    m×ksub ADC table IN-ROW, broadcasts, and scores codes with m
    element_at lookups per pair; only the per-query top-k windows.
    Returns (query_id, neighbor_id, approx_dist2, rank) — approx_dist2
    in integer-scaled units (SCALE² per squared unit).
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    dsub = dim // m
    if codebooks is None:
        cent_rows = sorted(
            corpus.orderBy(
                hash32(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
            )
            .limit(ksub)
            .select(id_col, vec_col)
            .collect(),
            key=lambda r: r[0],
        )
        codebooks = [
            [
                [float(x) for x in r[1][j * dsub : (j + 1) * dsub]]
                for r in cent_rows
            ]
            for j in range(m)
        ]
    # codebooks[j][c] = int-scaled subvector c of subspace j
    books = [
        F.array(
            *[
                _int_vec(F.array(*[F.lit(float(x)) for x in c]))
                for c in codebooks[j]
            ]
        )
        for j in range(m)
    ]

    def subvec(iv: Column, j: int) -> Column:
        return F.slice(iv, j * dsub + 1, dsub)

    def code_for(iv: Column, j: int) -> Column:
        ranked = F.array_sort(
            F.transform(
                books[j],
                lambda c, i: F.struct(
                    _d2(subvec(iv, j), c).alias("d"), i.alias("code")
                ),
            )
        )
        return ranked[0]["code"]

    encoded = corpus.select(
        F.col(id_col).alias("neighbor_id"), _int_vec(F.col(vec_col)).alias("cv")
    ).select(
        "neighbor_id",
        let(
            F.col("cv"),
            lambda iv: F.array(*[code_for(iv, j) for j in range(m)]),
        ).alias("codes"),
    )
    # per-query ADC table: table[j][c] = d2(query subvector j, centroid c)
    qtab = queries.select(
        F.col(id_col).alias("query_id"), _int_vec(F.col(vec_col)).alias("qv")
    ).select(
        "query_id",
        let(
            F.col("qv"),
            lambda iv: F.array(
                *[
                    F.transform(books[j], lambda c: _d2(subvec(iv, j), c))
                    for j in range(m)
                ]
            ),
        ).alias("tab"),
    )
    adc: Column = F.lit(0).cast("long")
    for j in range(m):
        adc = adc + F.element_at(
            F.element_at(F.col("tab"), j + 1), F.col("codes")[j] + 1
        )
    return _top_k(
        encoded.crossJoin(F.broadcast(qtab)), k, "approx_dist2", adc, ascending=True
    )


def train_pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means on a bounded deterministic sample —
    how production PQ trains (train on a sample, encode at scale).
    Driver-side numpy over ≤ ``sample`` vectors (hash-ordered sample,
    TakeOrdered — never a full collect); deterministic: fixed sample,
    fixed init (first ksub sample rows), fixed iteration count, ties to
    the lowest centroid index. Returns codebooks[j][c] = subvector, the
    ``codebooks`` input of :func:`pq_ann_topk`. (Trained centroids are
    not SQL-re-derivable — the driver oracle covers the seeded variant;
    recall with trained codebooks is pinned in pytest.) SURVEY, the
    "sample-trained Lloyd path" of product-quantization ANN."""
    import numpy as np

    rows = (
        corpus.orderBy(
            hash32(F.col(id_col).cast("string")).asc(), F.col(id_col).asc()
        )
        .limit(sample)
        .select(vec_col)
        .collect()
    )
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    dsub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cent = sub[:ksub].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # ties -> lowest index (argmin)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cent])
    return books


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def _block_cosine_pairs(v: DataFrame, threshold: float) -> DataFrame:
    """Pairs (id_a < id_b) within one block of ``v`` (blk, id, iv) whose
    exact integer cosine reaches ``threshold``: (id_a, id_b, cosine).

    Salted self-join, the pattern of dedup.ngram_jaccard_pairs: joining
    on the block alone puts each block's entire quadratic pair generation
    on the one task that owns its hash partition — one hot block (or a
    handful of labels) serializes. Side A takes salt = hash(id) mod S and
    is repartitioned on it (so a broadcast build side still probes across
    S tasks); side B replicates S ways. Every (x < y) pair still forms
    exactly once, at salt(x), and each block's verify spreads across S
    tasks.

    Merge hint — the sf10 (factor-100) spot check killed this join with
    "Not enough memory to build the broadcast relation": the
    ×32-replicated b side is O(corpus) integer vectors whose static size
    estimate descends from the compressed parquet scan and sees neither
    the decode amplification nor the explode. Same invariant as
    dedup.ngram_jaccard_pairs and fuzzyjoin: a corpus-scaled blocking
    side is never broadcast.
    """
    salt = 32
    a = (
        v.withColumn("_salt", F.pmod(F.hash("id"), F.lit(salt)))
        .repartition(salt, "_salt")
        .alias("a")
    )
    b = v.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).alias("b")
    return (
        a.join(
            b.hint("merge"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("cosine", _cosine(F.col("a.iv"), F.col("b.iv")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    threshold: float,
    n_lists: int = 16,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-duplicate pairs, SemDeDup-style (Abbas et al. 2023):
    coarse-cluster the embeddings, then exact pairwise cosine WITHIN each
    cluster only — the cluster bounds the quadratic term (Σ|cluster|²,
    not |corpus|²). Pairs straddling a cluster boundary are missed by
    design (the method's documented approximation; the text-level LSH
    pass catches lexical near-dups independently).

    Sizing ``n_lists``: clusters should scale with the corpus so the
    per-cluster quadratic stays bounded — roughly |corpus| / 1k vectors
    per cluster (SemDeDup used 100k clusters on LAION-440M). The default
    16 is demo-sized for the sf test tables only. Within-cluster pair
    generation is additionally salted 32 ways (:func:`_block_cosine_pairs`),
    so even a skewed hot cluster spreads its verify across tasks rather
    than serializing on the one task that owns its hash partition.

    Deterministic end-to-end: the coarse quantizer is the one of
    :func:`ivf_ann_topk` (lowest-id corpus vectors by default,
    integer-scaled L2 assignment in-row), and cosines are exact
    integer-scaled dots — fully value-oracle-able. Feed the output to
    ``dedup.neardup_components`` + ``dedup.dedup_keep_filter`` for the
    retention pass.
    """
    cent_arr = _centroid_array(corpus, centroids, n_lists, id_col, vec_col)
    assigned = _assign_lists(corpus, cent_arr, id_col, vec_col, "id")
    return _block_cosine_pairs(
        assigned.select(F.col("list_id").alias("blk"), "id", "iv"), threshold
    )


# ---------------------------------------------------------------------------
# Cluster prototypicality / density filtering — D4 (Tirumala et al. 2023)
# ---------------------------------------------------------------------------


def prototypicality(
    corpus: DataFrame,
    centroids: DataFrame | None = None,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector prototypicality within its coarse cluster — the ranking
    D4 (Tirumala et al. 2023, "D4: Improving LLM Pretraining via Document
    De-Duplication and Diversification") uses after SemDeDup: cluster the
    embeddings, then order each cluster by cosine to its centroid; the
    MOST prototypical (centroid-nearest) examples are the redundancy the
    diversification pass removes.

    Deterministic end-to-end: the quantizer of :func:`ivf_ann_topk`
    assigns lists in-row (zero shuffle), the
    centroid dot is exact integer-scaled arithmetic, and ranks tie-break
    on id. The ONE exchange is the per-cluster window (count + rank over
    the list_id hash partition). For unit-normalized embeddings and
    corpus-vector centroids the dot IS the cosine.

    Returns (id, list_id, proto_cos, n_cluster, proto_rank) with
    proto_rank = 1 for the centroid-nearest member.
    """
    cent_arr = _centroid_array(corpus, centroids, n_lists, id_col, vec_col)
    assigned = _assign_lists(corpus, cent_arr, id_col, vec_col, "id")
    own_civ = F.element_at(
        F.filter(cent_arr, lambda e: e["list_id"] == F.col("list_id")), 1
    )["civ"]
    with_dot = assigned.withColumn("proto_dot", _dot(F.col("iv"), own_civ))
    w = W.partitionBy("list_id")
    ranked = (
        with_dot.withColumn("n_cluster", F.count("*").over(w).cast("long"))
        .withColumn(
            "proto_rank",
            F.row_number()
            .over(
                W.partitionBy("list_id").orderBy(
                    F.col("proto_dot").desc(), F.col("id").asc()
                )
            )
            .cast("long"),
        )
    )
    return ranked.select(
        F.col("id"),
        "list_id",
        (F.col("proto_dot").cast("double") / float(SCALE * SCALE)).alias(
            "proto_cos"
        ),
        "n_cluster",
        "proto_rank",
    )


def density_filter(
    corpus: DataFrame,
    drop_num: int = 1,
    drop_den: int = 4,
    centroids: DataFrame | None = None,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """D4's diversification pass: drop the ``drop_num/drop_den`` most
    prototypical members of every cluster (floor(n·num/den) per cluster,
    INTEGER arithmetic — no float threshold can flip on a boundary), keep
    the diverse tail. Compose after SemDeDup's near-dup retention for the
    full D4 recipe. Returns survivors (id, list_id, proto_cos,
    n_cluster, proto_rank)."""
    if drop_num < 0 or drop_den <= 0:
        raise ValueError("drop fraction must be a nonnegative rational")
    ranked = prototypicality(corpus, centroids, n_lists, id_col, vec_col)
    # floor(n·num/den) in pure integer arithmetic: rank·den > n·num  ⇔
    # rank > floor(n·num/den)  for integer rank — no division at all
    return ranked.filter(
        F.col("proto_rank") * drop_den > F.col("n_cluster") * drop_num
    )
