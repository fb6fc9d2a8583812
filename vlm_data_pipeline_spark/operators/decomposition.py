"""Distributed PCA over embedding columns — the standard
dimensionality-reduction step before clustering/ANN in corpus pipelines
(SemDeDup and friends run k-means in a PCA/whitened space).

Scale shape (the driver-coordinated closed-form pattern, like the
KMeans/PQ trainers):

- FIT is one aggregation with TWO physical paths, selected by
  dimension:

  * in-row (d < GRAM_PATH_MIN_D): each row expands its d-vector to the
    d·(d+1)/2 upper-triangle outer products IN-ROW (plus the d means),
    posexplodes, and partial-aggregates — map-side combine collapses
    every partition to at most d·(d+1)/2 + d rows before the shuffle,
    so the exchange carries O(d²) keys REGARDLESS of corpus size
    (d=64 → 2 080 keys). Deterministic addition grouping, which is why
    the oracle-compared registry queries pin THIS path.
  * partial-Gram (d ≥ GRAM_PATH_MIN_D): higher-order ``transform``
    lambdas are interpreted, not codegen'd — at production embedding
    dims the in-row expansion is ~295K interpreted ``element_at``
    products per row at d=768 (~1.2M at d=1536), which turns a
    corpus-scale fit into days of CPU. The Gram path runs ONE
    Arrow-batched ``mapInPandas`` pass: each task accumulates
    ``X.T @ X`` (one BLAS call per batch), the column sums, and the
    row count across its batches and emits a single flattened moment
    row; the rows then posexplode into the SAME (idx, sum) key space
    and aggregate — identical exchange shape (O(d²) keys per
    partition), BLAS-speed per-row compute. Float addition order
    differs from the in-row path (BLAS accumulation), so path equality
    is tolerance-pinned (rtol 1e-9 on the covariance), not bit-exact —
    documented in tests/test_decomposition.py.

  The eigendecomposition of the assembled d×d covariance runs on the
  driver with numpy — a d×d problem, not an n×d one.
- PROJECT is zero-shuffle: the k×d component matrix rides the plan as
  literal arrays (k·d doubles — dimension-sized by construction) and
  each row computes k in-row dot products via fold.

Sign convention: each component is flipped so its
largest-absolute-value coordinate is positive — eigenvectors are
sign-ambiguous, and a deterministic convention makes fits reproducible
across runs/partitionings (variance order ties break toward the lower
eigen index from numpy's ascending-order eigh).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PCAModel:
    mean: tuple[float, ...]
    components: tuple[tuple[float, ...], ...]  # k rows of d
    explained_variance: tuple[float, ...]  # k eigenvalues, descending
    n: int


def _tri_index_pairs(d: int) -> list[tuple[int, int]]:
    return [(i, j) for i in range(d) for j in range(i, d)]


# dimension at which pca_fit switches from the interpreted in-row
# expansion to the Arrow/BLAS partial-Gram path (probed on the first row).
# Below this the in-row path's O(d²) interpreted products per row are
# cheap and its deterministic addition grouping keeps oracle parity;
# above it the per-row interpreter cost dominates the job.
GRAM_PATH_MIN_D = 128


def _gram_moment_rows(base: DataFrame, vec_col: str) -> DataFrame:
    """One flattened moment row per non-empty task: the task's
    ``[upper-triangle of X.T@X ..., column sums ..., row count]`` as a
    single array<double>. Accumulation is one BLAS gemm per Arrow
    batch — no per-element Python, no interpreted lambdas. The row
    count rides as the LAST slot so a single (idx → sum) aggregation
    downstream reduces moments and count together."""

    def part(batches):
        import numpy as np  # noqa: F811 — worker-side import
        import pandas as pd

        gram = None
        sums = None
        n = 0
        for pdf in batches:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            x = np.stack([np.asarray(e, dtype=np.float64) for e in col])
            if gram is None:
                d = x.shape[1]
                gram = np.zeros((d, d))
                sums = np.zeros(d)
            elif x.shape[1] != gram.shape[0]:
                raise ValueError(
                    "inconsistent embedding dimensions across rows — "
                    "normalize the vector column first"
                )
            gram += x.T @ x
            sums += x.sum(axis=0)
            n += x.shape[0]
        if n:
            iu = np.triu_indices(gram.shape[0])
            flat = np.concatenate([gram[iu], sums, [float(n)]])
            yield pd.DataFrame({"m": [flat]})

    return base.mapInPandas(part, "m array<double>")


def _moments_inrow(base: DataFrame, vec_col: str) -> list[tuple[float, int]]:
    """(sum, count) per moment slot via the in-row expansion — each row
    expands to its d·(d+1)/2 upper-triangle products FOLLOWED by its d
    raw coordinates, so scatter and mean sums ride one posexplode/
    groupBy pass. Counts are per-slot row counts (uniform iff dims are
    consistent)."""
    v = F.col(vec_col)
    d_col = F.size(v)
    combined = F.concat(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), d_col - 1),
                lambda i: F.transform(
                    F.sequence(i, d_col - 1),
                    lambda j: (
                        F.element_at(v, i + 1).cast("double")
                        * F.element_at(v, j + 1).cast("double")
                    ),
                ),
            )
        ),
        F.transform(v, lambda x: x.cast("double")),
    )
    rows = (
        base.select(F.posexplode(combined).alias("idx", "x"))
        .groupBy("idx")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
        .orderBy("idx")
        .collect()
    )
    return [(float(r["s"]), int(r["c"])) for r in rows]


_GRAM_REDUCE_BUCKETS = 64


def _moments_gram(base: DataFrame, vec_col: str) -> tuple[list[float], int]:
    """(moment sums, n) via the Arrow partial-Gram path. Reduction is a
    two-level tree, NOT a posexplode/groupBy over d(d+3)/2 skinny rows
    (measured 10× slower at d=768 — 9.5M exploded rows shuffled and a
    296K-row collect just to re-assemble arrays): task moment rows
    bucket into ≤ 64 groups, one applyInPandas sums each group's
    arrays element-wise, and the driver folds the ≤ 64 group rows.
    Driver traffic is bounded by 64·(d(d+3)/2+1) doubles REGARDLESS of
    cluster size; the shuffle carries one 8·d(d+3)/2-byte row per
    upstream task. Cross-partition dimension mismatches surface as
    unequal array lengths (length is strictly monotonic in d) — caught
    in the reduce task or the driver fold."""
    _DIM_ERR = (
        "inconsistent embedding dimensions across rows — "
        "normalize the vector column first"
    )

    def red(pdf):
        import numpy as np  # noqa: F811 — worker-side import
        import pandas as pd

        try:
            m = np.stack(
                [np.asarray(a, dtype=np.float64) for a in pdf["m"]]
            ).sum(axis=0)
        except ValueError as exc:  # ragged stack = mixed d in-bucket
            raise ValueError(_DIM_ERR) from exc
        return pd.DataFrame({"m": [m]})

    try:
        rows = (
            _gram_moment_rows(base, vec_col)
            .withColumn(
                "g",
                F.pmod(
                    F.monotonically_increasing_id(),
                    F.lit(_GRAM_REDUCE_BUCKETS),
                ).cast("int"),
            )
            .groupBy("g")
            .applyInPandas(red, "m array<double>")
            .collect()
        )
    except Exception as exc:  # noqa: BLE001 — worker ValueErrors arrive
        # wrapped in PythonException; translate the contract error back
        # so both fit paths raise the same driver-side ValueError
        if "inconsistent embedding dimensions" in str(exc):
            raise ValueError(_DIM_ERR) from exc
        raise
    if not rows:
        raise ValueError("no embeddings to fit")
    arrs = [np.asarray(r["m"], dtype=np.float64) for r in rows]
    if len({a.shape[0] for a in arrs}) != 1:  # mixed d across buckets
        raise ValueError(_DIM_ERR)
    total = np.sum(np.stack(arrs), axis=0)
    n = int(round(total[-1]))
    return [float(x) for x in total[:-1]], n


def pca_fit(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> PCAModel:
    """Fit PCA: one distributed moment aggregation (see the module
    docstring for the two physical paths) + driver numpy eigh of the
    d×d covariance. The first row's dimension picks the path: the
    Arrow/BLAS partial-Gram path at d ≥ GRAM_PATH_MIN_D, else the
    in-row path. ``k`` caps at d."""
    if k < 1:
        raise ValueError("k must be >= 1")
    v = F.col(vec_col)
    base = embeddings.filter(v.isNotNull())
    probe = base.select(F.size(v).alias("d")).first()
    if probe is None:
        raise ValueError("no embeddings to fit")
    if int(probe["d"]) >= GRAM_PATH_MIN_D:
        sums, n = _moments_gram(base, vec_col)
        m = len(sums)
    else:
        stats = _moments_inrow(base, vec_col)
        if not stats:
            raise ValueError("no embeddings to fit")
        m = len(stats)
        # the expansion derives d per ROW (F.size) — mixed vector
        # lengths would silently collide slots; with consistent dims
        # the entry count matches the closed form and every index has
        # the same count exactly
        if len({c for _, c in stats}) != 1:
            raise ValueError(
                "inconsistent embedding dimensions across rows — "
                "normalize the vector column first"
            )
        n = stats[0][1]
        sums = [s for s, _ in stats]
    # total entries = d(d+1)/2 + d = d(d+3)/2  ->  solve for d
    d = int(round((-3 + (9 + 8 * m) ** 0.5) / 2))
    if d * (d + 3) // 2 != m:
        raise ValueError(
            "inconsistent embedding dimensions across rows — "
            "normalize the vector column first"
        )
    if n < 2:
        raise ValueError("need at least 2 vectors to fit a covariance")
    n_tri = d * (d + 1) // 2
    mean = np.array(sums[n_tri:]) / n
    scatter = np.zeros((d, d))
    pairs = _tri_index_pairs(d)
    for idx in range(n_tri):
        i, j = pairs[idx]
        scatter[i, j] = sums[idx]
        scatter[j, i] = sums[idx]
    cov = (scatter - n * np.outer(mean, mean)) / (n - 1)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-eigvals, kind="stable")[: min(k, d)]
    comps = []
    for idx in order:
        vec = eigvecs[:, idx]
        if vec[int(np.argmax(np.abs(vec)))] < 0:
            vec = -vec
        comps.append(tuple(float(x) for x in vec))
    return PCAModel(
        mean=tuple(float(x) for x in mean),
        components=tuple(comps),
        explained_variance=tuple(float(eigvals[i]) for i in order),
        n=n,
    )


def pca_project(
    embeddings: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Append the k-dim projection (v − mean)·Wᵀ as ``out_col`` —
    zero shuffle, the k×d matrix and mean as plan literals
    (dimension-sized; a d=1024, k=64 model is 65k doubles — still far
    under literal-plan limits, and constant in corpus size)."""
    v = F.col(vec_col)
    mean_lit = F.array(*[F.lit(m) for m in model.mean])

    def dot(component: tuple[float, ...]) -> Column:
        comp_lit = F.array(*[F.lit(c) for c in component])
        return F.aggregate(
            F.zip_with(
                F.zip_with(v, mean_lit, lambda x, m: x.cast("double") - m),
                comp_lit,
                lambda c, w: c * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return embeddings.withColumn(
        out_col, F.array(*[dot(c) for c in model.components])
    )
