"""Probabilistic membership & cardinality at corpus scale: Bloom
filters and mergeable HyperLogLog sketch stores.

Where they fit a 100 TB pipeline: a Bloom filter is the standard
"seen-set" gate (CCNet's seen-URL pass, Bloom-based benchmark
decontamination at Dolma/RedPajama scale) — the exact semi-join the
engine already has (``dedup.decontaminate``) costs a shuffle of the
corpus keys per run, while a built-once Bloom costs a broadcast and a
map-only scan, at the price of a quantified false-positive rate. HLL
sketches replace exact ``count(distinct)`` over re-scanned history with
a tiny mergeable state per group — the cross-batch analogue of the
engine's incremental MinHash / pHash signature stores.

Determinism: positions come from the engine-wide portable md5 scheme
(functions.text.hash60 — first 15 hex chars → BIGINT), so a DuckDB
oracle re-derives every bit, INCLUDING the false positives; nothing
about the filter is approximate *between* engines, only with respect
to exact membership.

Two probe paths, same results (pinned equal by a pytest):

- ``bloom_probe_join``: the positions stay a distributed table; probes
  explode their k positions and left-join. Scales to any ``m_bits``
  (the position table shuffles, the corpus text does not — only
  60-bit hashes move). This is also the oracle's shape.
- ``bloom_probe_broadcast``: positions collapse to a numpy bitset on
  the driver (m_bits/8 bytes; guarded) broadcast into an Arrow-batched
  pandas UDF — the map-only production path (a 2³³-bit filter is a
  1 GiB broadcast: big but standard for a seen-set at crawl scale).

Extension past reference parity (the reference has no sketch
structures; its nearest analogue is the exact visible-ids semi-join,
matterport_processor.py's frame filtering).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash60

_SEP = "\x1f"
# largest bitset bloom_probe_broadcast will collect driver-side (2^30
# bits = 128 MiB). Bigger filters: use bloom_probe_join, which never
# materializes the bitset anywhere.
MAX_BROADCAST_BITS = 1 << 30
# largest position-ROW count bloom_probe_broadcast will pull through
# toPandas() while building that bitset (~16 bytes/row in pandas →
# ~512 MiB at the cap); a well-filled filter has far more set rows
# than bitset bytes, so this is the binding limit in practice
MAX_BROADCAST_POSITIONS = 1 << 25


def _check_params(m_bits: int, k_hashes: int) -> None:
    if m_bits < 2:
        raise ValueError(f"m_bits must be >= 2, got {m_bits}")
    if not (1 <= k_hashes <= 16):
        raise ValueError(f"k_hashes must be in [1, 16], got {k_hashes}")


def bloom_positions(key: Column, m_bits: int, k_hashes: int) -> Column:
    """array<bigint> of the k bit positions for ``key`` (duplicates kept;
    callers that need the set use array_distinct). Position i =
    hash60(key ⊕ 'bloom#i') mod m — one md5 per hash function, the
    portable-to-SQL construction used engine-wide."""
    _check_params(m_bits, k_hashes)
    return F.array(
        *[
            hash60(
                F.concat(key.cast("string"), F.lit(f"{_SEP}bloom#{i}"))
            )
            % m_bits
            for i in range(k_hashes)
        ]
    )


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int, k_hashes: int
) -> DataFrame:
    """The filter as a table of DISTINCT set-bit positions plus the
    parameters they were computed under: (pos, m_bits, k_hashes). At
    most min(m_bits, k·|keys|) rows — the distributed representation
    both probe paths and the SQL oracle consume; persist it like any
    other incremental store. NULL keys set no bits (and probe as NULL,
    on both paths). The constant parameter columns cost nothing after
    parquet RLE and let every consumer VERIFY it was handed a store
    built under its own (m, k) — a mismatched probe would silently
    produce false negatives, the one failure a Bloom gate must never
    have (same guard pattern as the banded pHash store)."""
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.explode(
                bloom_positions(F.col(key_col), m_bits, k_hashes)
            ).alias("pos")
        )
        .distinct()
        .select(
            "pos",
            F.lit(m_bits).cast("long").alias("m_bits"),
            F.lit(k_hashes).cast("int").alias("k_hashes"),
        )
    )


def _checked_positions(
    positions: DataFrame, m_bits: int, k_hashes: int
) -> DataFrame:
    """(pos) rows with an in-plan parameter assertion. Stores lacking
    the metadata columns (hand-built position tables) are accepted
    as-is — the guard protects the engine's own build/merge loop."""
    cols = set(positions.columns)
    if not {"m_bits", "k_hashes"} <= cols:
        return positions.select("pos")
    ok = (F.col("m_bits") == m_bits) & (F.col("k_hashes") == k_hashes)
    return positions.select(
        F.when(
            F.assert_true(
                ok,
                F.concat_ws(
                    " ",
                    F.lit("bloom store parameter mismatch: store has"),
                    F.col("m_bits").cast("string"),
                    F.col("k_hashes").cast("string"),
                    F.lit(f"but probe expects {m_bits} {k_hashes} —"),
                    F.lit("probing would yield false negatives"),
                ),
            ).isNull(),
            F.col("pos"),
        ).alias("pos")
    )


def bloom_merge_stores(a: DataFrame, b: DataFrame) -> DataFrame:
    """Bloom filters over the same (m, k) union by bit-OR — here, a
    distinct-union of the position tables; the metadata columns ride
    along, so a merge of stores built under DIFFERENT parameters leaves
    mixed metadata rows that the next probe's assertion rejects instead
    of silently leaking false negatives. (Unlike HLL, the merge is
    exact: the set of set bits after any merge order is identical.) The
    Bloom store and its (m, k) consistency guard, SURVEY round-6 third
    wave."""
    return a.unionByName(b).distinct()


def bloom_probe_join(
    probes: DataFrame,
    positions: DataFrame,
    key_col: str,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Probe via join: a key hits iff ALL its distinct positions are
    set. Adds boolean ``bloom_hit`` to the probe keys; other columns
    pass through via a final re-join on the key. Cost shape: the
    position probe shuffles k·|probes| skinny (key, pos) pairs; the
    verdict re-join then shuffles the probe rows once on the key (the
    price of arbitrary ``m_bits`` — when the filter fits
    MAX_BROADCAST_BITS, :func:`bloom_probe_broadcast` does the whole
    probe with zero shuffle)."""
    _check_params(m_bits, k_hashes)
    k = F.col(key_col)
    exploded = probes.select(
        k.alias("__bp_key"),
        F.explode(
            F.array_distinct(bloom_positions(k, m_bits, k_hashes))
        ).alias("pos"),
    )
    marked = exploded.join(
        _checked_positions(positions, m_bits, k_hashes).select(
            "pos", F.lit(1).alias("__set")
        ),
        "pos",
        "left",
    )
    verdict = marked.groupBy("__bp_key").agg(
        (F.count(F.when(F.col("__set").isNull(), 1)) == 0).alias("bloom_hit")
    )
    return probes.join(
        verdict, probes[key_col] == verdict["__bp_key"], "left"
    ).drop("__bp_key")


def bloom_probe_broadcast(
    probes: DataFrame,
    positions: DataFrame,
    key_col: str,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Probe via a broadcast numpy bitset + Arrow-batched pandas UDF —
    zero shuffle, one corpus scan. Bit-identical to
    :func:`bloom_probe_join` (equality-tested); use it whenever the
    filter fits the driver: ``m_bits`` <= MAX_BROADCAST_BITS bounds the
    bitset/broadcast, MAX_BROADCAST_POSITIONS bounds the driver-side
    materialization of the position ROWS (the row table can dwarf the
    bitset for a well-filled filter — both limits are checked, both
    error messages point to the join path).

    Measured throughput (this box, single core, 20-char keys, k=7):
    ~700K keys/s when the first hash misses (the decontamination-
    typical case — most corpus keys are NOT in the filter, and the
    early exit does ONE md5), ~90K keys/s worst-case all-k-hashes
    (~630K md5/s). The md5 call dominates; batching cannot vectorize
    it (no numpy md5), and hexdigest[:15]-int was MEASURED FASTER than
    digest()+int.from_bytes (709K vs 572K keys/s), so the loop body is
    already the fast spelling. Double-hashing (Kirsch-Mitzenmacher)
    would cut hit-path md5s to 2 but CHANGES bit positions — breaking
    the persisted store format and the SQL oracle — so it is not an
    option here. Crossover guidance: at ≥10⁹ probes with a high hit
    rate (k md5s each), prefer :func:`bloom_probe_join` — its md5 runs
    JVM-side inside codegen; the broadcast path wins when probes are
    miss-dominated or the probe side is modest. Benchmarked per-round
    as ``sketch_bloom_probe_broadcast`` in bench.py."""
    import hashlib

    import numpy as np
    from pyspark.sql.types import BooleanType

    _check_params(m_bits, k_hashes)
    if m_bits > MAX_BROADCAST_BITS:
        raise ValueError(
            f"m_bits={m_bits} exceeds MAX_BROADCAST_BITS="
            f"{MAX_BROADCAST_BITS}; use bloom_probe_join for filters "
            f"too large to broadcast"
        )
    checked = _checked_positions(positions, m_bits, k_hashes)
    n_pos = checked.count()
    if n_pos > MAX_BROADCAST_POSITIONS:
        raise ValueError(
            f"{n_pos} set positions exceed MAX_BROADCAST_POSITIONS="
            f"{MAX_BROADCAST_POSITIONS} — materializing them on the "
            f"driver would cost far more than the bitset itself; use "
            f"bloom_probe_join"
        )
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    # NULLs never occur in engine-built stores (bloom_build drops null
    # keys) but a hand-built table could carry them — dropna, as a null
    # bit position is meaningless
    pos = (
        checked.toPandas()["pos"].dropna().to_numpy(dtype=np.int64)
    )
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    sc = probes.sparkSession.sparkContext
    b_bits = sc.broadcast(bits.tobytes())

    suffixes = [f"{_SEP}bloom#{i}".encode("utf-8") for i in range(k_hashes)]

    @F.pandas_udf(BooleanType())
    def _probe(keys: pd.Series) -> pd.Series:
        arr = np.frombuffer(b_bits.value, dtype=np.uint8)

        def one(key: object) -> object:
            if key is None:
                return None
            kb = str(key).encode("utf-8")
            for suf in suffixes:
                # mirror of functions.text.hash60: md5 hex[:15] as int
                p = int(hashlib.md5(kb + suf).hexdigest()[:15], 16) % m_bits
                if not (arr[p >> 3] >> (p & 7)) & 1:
                    return False
            return True

        return keys.map(one)

    return probes.withColumn("bloom_hit", _probe(F.col(key_col)))


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def countmin_positions(key: Column, width: int, depth: int) -> Column:
    """array<bigint> of length ``depth``: row i's bucket for ``key`` =
    hash60(key ⊕ 'cm#i') mod width — same portable-md5 scheme as the
    Bloom positions, so a SQL oracle re-derives every cell."""
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    if not (1 <= depth <= 16):
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    return F.array(
        *[
            hash60(F.concat(key.cast("string"), F.lit(f"{_SEP}cm#{i}")))
            % width
            for i in range(depth)
        ]
    )


def countmin_build(
    df: DataFrame,
    key_col: str,
    width: int,
    depth: int,
    weight_col: str | None = None,
) -> DataFrame:
    """The sketch as a (row, bucket, cnt) table — depth·width cells max,
    mergeable by summing cells (exact: addition commutes), persistable
    like the other incremental stores. One explode (×depth) + one
    depth·width-key aggregation; the keys themselves never need to fit
    anywhere — that is the point vs an exact groupBy at unbounded
    cardinality."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.select(
            F.posexplode(
                countmin_positions(F.col(key_col), width, depth)
            ).alias("row", "bucket"),
            w.cast("long").alias("w"),
        )
        .groupBy("row", "bucket")
        .agg(F.sum("w").alias("cnt"))
    )


def countmin_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum — exact under any merge order/batching (unlike the
    HLL store's estimator, CM cells are plain integer mass). The
    incremental store behind SURVEY's "streaming Count-Min ingestion"."""
    return (
        a.unionByName(b).groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    )


def countmin_estimate(
    probes: DataFrame, sketch: DataFrame, key_col: str, width: int, depth: int
) -> DataFrame:
    """Point-query: est(key) = min over rows of cell(row, bucket_row(key))
    — an overestimate with the classic (e/width, e^-depth) guarantee,
    never an underestimate. Distinct keys explode to ``depth`` skinny
    rows against the depth·width-bounded sketch (broadcastable for any
    practical shape); verdicts re-join onto the probe rows, so every
    probe row comes back with all its columns (the bloom_probe_join
    contract): duplicates keep their multiplicity, NULL keys get est
    NULL. Missing cells are zero-count. Estimates are bit-deterministic:
    same data → same cells → same min, under any partitioning."""
    keys = probes.select(F.col(key_col).alias("__cm_key")).distinct().filter(
        F.col("__cm_key").isNotNull()
    )
    ex = keys.select(
        "__cm_key",
        F.posexplode(
            countmin_positions(F.col("__cm_key"), width, depth)
        ).alias("row", "bucket"),
    )
    joined = ex.join(F.broadcast(sketch), ["row", "bucket"], "left")
    verdict = joined.groupBy("__cm_key").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )
    return probes.join(
        verdict, probes[key_col] == verdict["__cm_key"], "left"
    ).drop("__cm_key")


# ---------------------------------------------------------------------------
# HyperLogLog sketch store (native Datasketches HLL, Spark 3.5+)
# ---------------------------------------------------------------------------


def hll_group_sketches(
    df: DataFrame, group_col: str, value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL sketch (binary column ``sketch``): the mergeable
    distinct-count state. 2^lg_k registers ≈ 4 KiB at the default —
    per-group state is constant-size no matter how many values stream
    through, which is the entire point vs exact count(distinct) over
    re-scanned history."""
    return df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    )


def hll_merge_stores(store: DataFrame, batch: DataFrame, group_col: str) -> DataFrame:
    """Union a persisted sketch store with a new batch's sketches —
    hll_union per group. The store contract is "approximate distinct
    with the sketch's published error", NOT bit-stability: Datasketches
    HLL uses the order-sensitive HIP estimator on live sketches and a
    composite estimator after unions, and sparse→dense promotion points
    depend on batching — so merged-store, re-sketched, and even
    differently-ordered merges can disagree by a few counts (all inside
    the error envelope; pytest-pinned within tolerance). Never compare
    estimates from different ingestion histories for equality. The
    mergeable HyperLogLog sketch store of SURVEY's round-6 third wave."""
    return (
        store.unionByName(batch)
        .groupBy(group_col)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )


def hll_estimates(store: DataFrame, group_col: str) -> DataFrame:
    return store.select(
        group_col, F.hll_sketch_estimate("sketch").alias("approx_distinct")
    )


# ---------------------------------------------------------------------------
# Fixed-grid quantile histogram (mergeable, integer-exact)
# ---------------------------------------------------------------------------
#
# The quantile sibling of the Bloom/CMS/HLL stores: approximate
# quantiles over unbounded history as a TINY mergeable state — here a
# fixed integer grid over a declared [lo, hi) domain. Unlike t-digest/
# KLL (whose centroids depend on ingestion order), a fixed grid is
# bit-stable under ANY partitioning and merge history, so the store
# contract is exact-by-construction and a DuckDB oracle re-derives
# every cell — the engine's preferred tradeoff (see the HLL tolerance
# note: order-sensitive estimators can only be tolerance-pinned).
# Resolution is the published error: a quantile is located within one
# bin, i.e. (hi-lo)/n_bins of value error, the classic equi-width
# histogram bound. Values are integer-scaled (plans/exact.py cents
# convention) so binning is pure integer multiply-floor-divide.
#
# Spark-native alternatives and why not: approx_percentile (KLL-ish)
# is neither mergeable-as-a-table nor cross-engine reproducible;
# width_bucket exists in both engines but disagrees on boundary
# semantics — (v-lo)*n // (hi-lo) is spelled once here instead.


def _qhist_check(lo: int, hi: int, n_bins: int) -> None:
    if not (isinstance(lo, int) and isinstance(hi, int)):
        raise TypeError("qhist bounds must be exact integers (scaled units)")
    if hi <= lo or n_bins < 1:
        raise ValueError("need hi > lo and n_bins >= 1")
    if (hi - lo) * n_bins >= 2**53:
        # 2**53, not 2**62: qhist_bin/_idiv divide (x - x%d)/d as
        # doubles. The numerator is a multiple of d so the QUOTIENT is
        # an integer, but a numerator above 2**53 is itself not exactly
        # representable as a double — the quotient could then round just
        # below the true integer and the int cast truncate to bin k-1,
        # breaking bit-exactness. Bounding (hi-lo)*n_bins < 2**53 keeps
        # every in-domain numerator exact (out-of-domain values clamp to
        # the edge bins where last-ulp error cannot change the result).
        raise ValueError("(hi-lo)*n_bins must stay below 2**53 for exact binning")


def qhist_bin(value: Column, lo: int, hi: int, n_bins: int) -> Column:
    """Grid bin of an integer-scaled value: floor((v-lo)*n/(hi-lo)),
    clamped — out-of-domain values land in the edge bins (they count
    toward quantiles as 'beyond the grid', the standard clamp)."""
    _qhist_check(lo, hi, n_bins)
    x = (value.cast("long") - F.lit(lo)) * F.lit(n_bins)
    d = hi - lo
    # exact trunc-divide via the remainder identity (a double x/d can
    # round UP across an integer boundary); trunc-vs-floor only
    # differs for negative x, which the clamp sends to bin 0 either way
    raw = (x - x % d) / d
    return F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), raw)).cast("int")


def d_qhist_bin(expr: str, lo: int, hi: int, n_bins: int) -> str:
    """DuckDB mirror of :func:`qhist_bin` (integer floor-divide — BIGINT
    `//` in DuckDB truncates toward zero, but (v-lo) clamps below at the
    greatest(), and negative raw bins clamp to 0 either way)."""
    raw = f"((CAST({expr} AS BIGINT) - {lo}) * {n_bins} // {hi - lo})"
    return f"CAST(greatest(0, least({n_bins - 1}, {raw})) AS INT)"


def qhist_build(
    df: DataFrame, value: Column, lo: int, hi: int, n_bins: int
) -> DataFrame:
    """(bin, n) store over one batch — a single partial-aggregated
    groupBy on at most n_bins keys; the store is n_bins rows whatever
    the corpus size."""
    return (
        df.select(qhist_bin(value, lo, hi, n_bins).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def qhist_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union-sum two stores built on the SAME grid. Callers own grid
    consistency (the Bloom (m,k) guard pattern applies: merging
    different grids silently corrupts — keep grid params in the store's
    table name/metadata)."""
    return (
        a.unionByName(b).groupBy("bin").agg(F.sum("n").alias("n"))
    )


def qhist_quantiles(
    store: DataFrame, quantiles: list[tuple[int, int]], lo: int, hi: int,
    n_bins: int,
) -> DataFrame:
    """Rank-exact quantile lookup: for q = num/den, the first bin whose
    cumulative count reaches ceil(total·num/den). Quantiles are passed
    as RATIONALS so the target rank is integer math (the float-
    threshold rule). Output: (q_num, q_den, bin, bound_lo, bound_hi) —
    bounds are the bin's floor-divided grid edges in scaled units.
    The store is n_bins rows by construction, so the cumulative counts
    are computed IN-ROW: one collect_list aggregate packs the (bin, n)
    rows into a sorted array and an O(n_bins) fold emits (bin, cum,
    total) — bounded single-reducer work, and NO partition-less window
    (a global cumsum window plans Exchange SinglePartition over its
    input; banned registry-wide by the plan gate, VERDICT r9 #1)."""
    _qhist_check(lo, hi, n_bins)
    for num, den in quantiles:
        if not (0 < num <= den):
            raise ValueError(f"quantile {num}/{den} outside (0, 1]")

    packed = store.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("bin").cast("long").alias("bin"),
                    F.col("n").cast("long").alias("n"),
                )
            )
        ).alias("arr")
    )
    pref = F.aggregate(
        F.col("arr"),
        F.struct(
            F.lit(0).cast("long").alias("run"),
            F.array().cast("array<struct<bin:bigint,cum:bigint>>").alias(
                "out"
            ),
        ),
        lambda acc, e: F.struct(
            (acc["run"] + e["n"]).alias("run"),
            F.array_append(
                acc["out"],
                F.struct(
                    e["bin"].alias("bin"),
                    (acc["run"] + e["n"]).alias("cum"),
                ),
            ).alias("out"),
        ),
    )
    cum = (
        packed.select(pref.alias("p"))
        .select(F.col("p.run").alias("total"), F.explode("p.out").alias("e"))
        .select(F.col("e.bin").alias("bin"), F.col("e.cum").alias("cum"), "total")
    )
    qs = F.array(
        *[
            F.struct(F.lit(num).alias("q_num"), F.lit(den).alias("q_den"))
            for num, den in quantiles
        ]
    )
    hits = (
        cum.select("bin", "cum", "total", F.explode(qs).alias("q"))
        .filter(
            # cum >= ceil(total*num/den)  <=>  cum*den >= total*num
            F.col("cum") * F.col("q.q_den") >= F.col("total") * F.col("q.q_num")
        )
        .groupBy("q.q_num", "q.q_den")
        .agg(F.min("bin").alias("bin"))
    )
    width = hi - lo

    def _idiv(x: Column, n: int) -> Column:
        # exact integer floor-divide for non-negative x: x - x%n is a
        # multiple of n, so the double division is exact (a plain
        # double x/n could round UP across an integer boundary and
        # disagree with the oracle's BIGINT //)
        return ((x - x % n) / n).cast("long")

    return hits.select(
        F.col("q_num").cast("int").alias("q_num"),
        F.col("q_den").cast("int").alias("q_den"),
        "bin",
        (F.lit(lo) + _idiv(F.col("bin").cast("long") * width, n_bins))
        .alias("bound_lo"),
        (F.lit(lo) + _idiv((F.col("bin") + 1).cast("long") * width, n_bins))
        .alias("bound_hi"),
    )
