"""Link-graph analytics for web-corpus curation: PageRank.

Production corpus pipelines rank hosts/pages by link-graph centrality
before (or instead of) content-level quality models — Common Crawl
publishes harmonic-centrality host rankings, and CCNet-style pipelines
use them as a crawl-priority / quality prior. The engine already has
the component side of graph analytics (``dedup.neardup_components``);
this module adds the centrality side.

Determinism design: ranks are FIXED-POINT BIGINTs (scale =
``PAGERANK_SCALE`` = 1e12), all per-iteration arithmetic is integer
(``div`` for contributions, integer percent for damping). Floating-point power iteration would make
the low bits depend on partition-local addition order — run-to-run
nondeterminism exactly where a curation pipeline wants reproducible
keep/drop decisions. Integer mass is associative/commutative, so the
result is bit-identical under any partitioning AND re-derivable by the
DuckDB oracle (cross-row float sums are banned from oracle outputs
repo-wide for this reason).

Scale shape (per iteration): one equi-join of the skinny rank table
(v, r) onto edges' src, one hash aggregation onto dst, one 1-row
dangling-mass aggregate cross-joined back (never collected), one left
join onto the vertex table. Nothing wider than (vertex, long) ever
shuffles; edges are scanned once per iteration. The driver loop runs a
FIXED iteration count (the usual production choice at web scale — e.g.
10-20 sweeps — because convergence checks cost an extra action per
round); ``localCheckpoint`` cuts lineage growth like the KMeans /
neardup_components precedents.

Extension past reference parity: the reference has no graph analytics;
the nearest analogue is its dedupe-then-enrich ordering heuristics
(data_processing/build_label_codebook_fast.py:382-385) which this
quality-prior ranking generalizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    Returns (node, rank_fp, rank): ``rank_fp`` is the BIGINT fixed-point
    mass (authoritative, bit-exact), ``rank`` = rank_fp / scale as a
    convenience double.

    Semantics (mirrored verbatim by the SQL oracle — edit together):

    - vertex set = distinct(src) ∪ distinct(dst); N = |vertices|
    - r₀(v) = scale div N
    - per iteration, with od(u) = outgoing-edge count of u:
        contrib(u→v)  = r(u) div od(u)              (per edge)
        in_sum(v)     = Σ contrib over incoming edges (0 if none)
        dangling      = Σ r(u) over u with od(u)=0
        r'(v) = ((100−d)·(scale div N)) div 100
                + (d·(in_sum(v) + dangling div N)) div 100

    Parallel edges are parallel contributions (dedupe first if that is
    not wanted). All divisions are integer (non-negative operands, so
    floor = truncate in both engines); total mass stays ≤ scale, so no
    intermediate exceeds d·scale ≪ 2⁶³. Rounding mass lost to the
    ``div``s is the documented price of exactness — ranks are a total
    order, not a probability vector.

    ``seeds`` switches the teleport distribution from uniform to
    seed-only — TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB
    2004), the standard trusted-seed trust-propagation used to
    down-rank spam hosts in web-corpus curation: r₀ puts all mass on
    the (deduplicated, graph-restricted) seed set, the teleport term
    and the dangling redistribution go only to seeds (S = |seeds ∩
    vertices| replaces N in the formulas; raises if the intersection is
    empty). Nodes unreachable from any seed converge to exactly 0 —
    the integer arithmetic makes "no trust" a real zero, not an
    epsilon, so the drop list is a plain ``rank_fp = 0`` filter.

    Every 4th sweep is eagerly localCheckpointed. Each checkpoint costs
    a full job, so materializing every sweep doubles wall-clock at demo
    scale; every 4th keeps the logical plan (which grows by two joins +
    an agg per un-checkpointed sweep) comfortably inside Catalyst's
    budget while amortizing the job overhead. The final sweep is never
    checkpointed — the caller's action does it.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0 <= damping_pct <= 100):
        raise ValueError(f"damping_pct must be in [0, 100], got {damping_pct}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .localCheckpoint()
    )
    verts_plain = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = verts_plain.count()
    if n == 0:
        return verts_plain.select(
            "node",
            F.lit(0).cast("long").alias("rank_fp"),
            F.lit(0.0).alias("rank"),
        )
    if seeds is None:
        # classic: every vertex is a teleport target
        verts = verts_plain.select("node", F.lit(True).alias("is_tgt"))
        s = n
    else:
        seed_nodes = (
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .join(verts_plain, "node", "left_semi")
        )
        s = seed_nodes.count()
        if s == 0:
            raise ValueError(
                "no seed node appears in the edge graph — TrustRank mass "
                "would be zero everywhere; check the seed/node id domains"
            )
        verts = verts_plain.join(
            seed_nodes.withColumn("is_tgt", F.lit(True)), "node", "left"
        ).select(
            "node", F.coalesce(F.col("is_tgt"), F.lit(False)).alias("is_tgt")
        ).localCheckpoint()
    # Loop invariants: out-degree depends only on the edge list, so it is
    # attached to the edges once, and a per-vertex is_dang flag (no
    # outgoing edges) rides in the verts dimension so the dangling-mass
    # aggregate is a filter on ranks. Each sweep has two joins
    # (e_od⋈ranks, verts⋈contrib); the per-edge contributions and the
    # dangling sum are the same integers the SQL mirror computes.
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    e_od = e.join(outdeg, "src").localCheckpoint()
    verts = verts.join(
        outdeg.select(F.col("src").alias("node"), F.lit(False).alias("_has_out")),
        "node",
        "left",
    ).select(
        "node", "is_tgt", F.col("_has_out").isNull().alias("is_dang")
    ).localCheckpoint()
    tele = ((100 - damping_pct) * (PAGERANK_SCALE // s)) // 100
    ranks = verts.select(
        "node",
        "is_dang",
        F.when(F.col("is_tgt"), F.lit(PAGERANK_SCALE // s))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    )
    for it in range(iterations):
        # per-source contribution; dangling vertices have no e_od row
        contrib = (
            e_od.join(ranks, e_od["src"] == ranks["node"])
            .select("dst", F.expr("r div od").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        dangling = ranks.filter(F.col("is_dang")).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dsum")
        )
        ranks = (
            verts.join(contrib, verts["node"] == contrib["dst"], "left")
            .crossJoin(dangling)  # 1-row mass total, never collected
            .select(
                "node",
                "is_dang",
                (
                    F.when(F.col("is_tgt"), F.lit(tele)).otherwise(F.lit(0))
                    + F.expr(
                        f"({damping_pct} * (coalesce(in_sum, 0)"
                        f" + (CASE WHEN is_tgt THEN dsum div {s}"
                        f" ELSE 0 END))) div 100"
                    )
                ).cast("long").alias("r"),
            )
        )
        if it % 4 == 3 and it != iterations - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select(
        "node",
        F.col("r").alias("rank_fp"),
        (F.col("r").cast("double") / float(PAGERANK_SCALE)).alias("rank"),
    )


def pagerank_oracle_sql(
    edges_cte: str,
    n_vertices_sql: str,
    iterations: int = 5,
    damping_pct: int = 85,
    seeds_cte: str | None = None,
) -> str:
    """The DuckDB mirror of :func:`pagerank`, iterations unrolled as
    chained CTEs (recursive CTEs cannot aggregate over the recursive
    reference). ``edges_cte`` must define a CTE named ``edges`` with
    columns (src, dst); ``n_vertices_sql`` is a scalar SQL expression
    for |vertices| (the caller usually knows it cheaper than a
    distinct-union count). ``seeds_cte``, when given, is a CTE *body*
    (no WITH) named ``seeds`` with a ``node`` column — the TrustRank
    teleport set, mirrored with the same dedupe/graph-restriction as
    the Column path. Returns a complete SELECT producing
    (node, rank_fp, rank) — edit only together with :func:`pagerank`.
    """
    d = damping_pct
    parts = [
        f"""{edges_cte},
verts AS (
    SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges
        UNION ALL SELECT dst FROM edges
    )
)"""
    ]
    if seeds_cte is None:
        parts.append(
            f""", tgt AS (
    SELECT node, TRUE AS is_tgt FROM verts
), nn AS (
    SELECT CAST({n_vertices_sql} AS BIGINT) AS n
)"""
        )
    else:
        parts.append(
            f""", {seeds_cte}, seedv AS (
    SELECT DISTINCT s.node FROM seeds s JOIN verts v ON s.node = v.node
), tgt AS (
    SELECT v.node, (s.node IS NOT NULL) AS is_tgt
    FROM verts v LEFT JOIN seedv s ON v.node = s.node
), nn AS (
    SELECT CAST(count(*) AS BIGINT) AS n FROM seedv
)"""
        )
    parts.append(
        f""", outdeg AS (
    SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY src
), r0 AS (
    SELECT node, CAST(CASE WHEN is_tgt THEN {PAGERANK_SCALE} // n ELSE 0 END
                      AS BIGINT) AS r
    FROM tgt, nn
)"""
    )
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f""", c{i} AS (
    SELECT e.dst AS node, CAST(sum(r.r // o.od) AS BIGINT) AS in_sum
    FROM edges e
    JOIN r{p} r ON e.src = r.node
    JOIN outdeg o ON e.src = o.src
    GROUP BY e.dst
), d{i} AS (
    SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dsum
    FROM r{p} r LEFT JOIN outdeg o ON r.node = o.src
    WHERE o.src IS NULL
), r{i} AS (
    SELECT v.node,
           CAST((CASE WHEN v.is_tgt
                 THEN ((100 - {d}) * ({PAGERANK_SCALE} // nn.n)) // 100
                 ELSE 0 END)
                + ({d} * (coalesce(c.in_sum, 0)
                   + (CASE WHEN v.is_tgt THEN dd.dsum // nn.n
                      ELSE 0 END))) // 100
                AS BIGINT) AS r
    FROM tgt v
    LEFT JOIN c{i} c ON v.node = c.node, d{i} dd, nn
)"""
        )
    parts.append(
        f"""
SELECT node, r AS rank_fp,
       CAST(r AS DOUBLE) / {float(PAGERANK_SCALE)!r} AS rank
FROM r{iterations}"""
    )
    return "".join(parts)
