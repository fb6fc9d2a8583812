"""Edit-distance similarity join (fuzzy string join) at corpus scale.

The reference engine has no string-similarity join; this is part of the
LLM-corpus surface this repo adds on top of SURVEY §2 — reconciling
near-identical titles, URLs, product names, or document prefixes across
shards of a 100 TB corpus, where an exact-key join silently drops every
pair that differs by a typo.

Design (Spark-first, COMPLETE — zero false negatives, proven bounds):

0. **Segment blocking (PassJoin-style pigeonhole).**
   Partition every string into ``tau + 1`` contiguous segments (fixed
   deterministic rule: ``len % (tau+1)`` trailing segments get the extra
   char). If ``ed(a, b) <= tau``, fix an optimal edit transcript: at
   most ``tau`` segments of ``a`` contain an edited character, so some
   segment survives untouched and appears EXACTLY in ``b``, shifted by
   the net indels before it — at most ``tau`` positions. So: an INDEX
   side explodes each string into its ``tau+1`` (own_len, slot, segment)
   rows; a PROBE side explodes, for each admissible partner length
   ``L in [len-tau, len+tau], L >= tau+1``, each slot's window of
   ``<= 2*tau+1`` substrings ``(L, slot, substring(b, p, seg_len))``
   with ``|p - p_slot(L)| <= tau``; candidates are the (L, slot, text)
   equi-join. Keys are ~``len/(tau+1)``-char strings — selective even
   on adversarial tiny-vocabulary corpora where every 3-gram is hot,
   which is why segments and not q-grams are the blocking unit
   (measured, sf0.1 synthetic word salad, 5000 strings: frequency-
   ordered 3-gram prefix blocking yields 3.6M candidates; segments
   yield ~thousands).
   Explode factors: ``tau+1`` rows/string on the index side,
   ``<= (2tau+1)^2 (tau+1)`` on the probe side — constants in ``tau``,
   independent of corpus size or skew.
1. **Length band.** ``|L_a - L_b| <= tau`` is necessary for
   ``ed <= tau``; applied inside the join condition.
2. **Short-string fallback.** Segment blocking needs
   ``max(L_a, L_b) >= tau+1`` (non-empty segments). Pairs where BOTH
   strings are shorter than ``tau + 1`` go through an explicit
   length-banded equi-join: each short string emits its admissible
   partner lengths ``len-tau .. len+tau`` (floored at 0) as join keys
   and the partner matches on its own exact length — an equi-join, not
   a cartesian.
3. **Verify JVM-side, dedup AFTER verify.** Candidates (ids only —
   text never rides the segment explosion) join back to the strings and
   are verified with the built-in ``levenshtein(a, b, tau)`` —
   whole-stage-codegen'd, banded early-exit at the threshold, no UDF
   anywhere in the operator. The (id_a, id_b) DISTINCT runs on the
   verified survivors, never on raw candidates: on a blocking-flooded
   corpus the pre-verify distinct is a candidate-scale hash
   aggregation that spills (measured at the sf10 spot-check — a
   ~30-word-vocabulary corpus at 500K strings yields O(10^8)
   candidates for 26K true pairs, and the old distinct-first shape
   stalled in multi-minute spill while verify-first streams), whereas
   duplicate verifications are just extra early-exit DP calls.

Scale notes (100 TB): segments are ~``len/(tau+1)`` characters, which
grows LINEARLY with string length — at document scale the probe side
would ship up to ``(2tau+1)^2(tau+1)`` multi-hundred-byte substrings
per row. The blocking equi-join therefore runs on ``xxhash64(segment)``:
string-equality implies hash-equality, so candidates stay a complete
superset and the levenshtein verify absorbs the (cosmically rare)
64-bit collision. Measured at 1.5 KB strings, tau=2: raw keys average
516 B across <= 75 probe rows/string (~39 KB/string riding the
shuffle); hashed keys are 8 B flat (~0.6 KB/string) — a 65x key-byte
cut. The verify join ships each string exactly twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["edit_distance_join", "edit_distance_join_brute"]


def _seg_bounds(length, tau: int):
    """Array of ``tau + 1`` (start, seg_len) structs for the fixed
    partition rule: base length ``len div (tau+1)``, the ``len mod
    (tau+1)`` TRAILING segments one char longer (1-based starts).
    Index and probe share this single definition."""
    k = tau + 1
    blen = ((length - length % k) / k).cast("long")
    rem = length % k
    return F.transform(
        F.sequence(F.lit(0), F.lit(tau)),
        lambda i: F.struct(
            (
                blen * i + F.greatest(i - (F.lit(k) - rem), F.lit(0)) + 1
            ).alias("start"),
            (blen + F.when(i >= F.lit(k) - rem, 1).otherwise(0)).alias(
                "seg_len"
            ),
        ),
    )


def _segment_candidates(base: DataFrame, tau: int) -> DataFrame:
    """PassJoin-style candidate pairs (id_a, id_b), complete for pairs
    with ``greatest(len_a, len_b) >= tau + 1`` (module docstring item 0).

    Both sides cut their join-key substrings IN-ROW (nested transform +
    flatten) before the single explode, so the full string never rides
    the fan-out — only (id, len, plen, slot, key) rows shuffle. The key
    is ``xxhash64(seg)``, 8 bytes regardless of string length: a rare
    64-bit collision adds a false candidate that the levenshtein verify
    removes, which the long-string fuzz in tests/test_fuzzyjoin pins
    against the brute witness."""
    k = tau + 1
    s_col, len_col = F.col("s"), F.col("len")

    # INDEX: each string's own tau+1 segments, keyed (own_len, slot, seg)
    idx_rows = F.transform(
        _seg_bounds(len_col, tau),
        lambda sb, i: F.struct(
            i.alias("slot"),
            F.substring(s_col, sb["start"], sb["seg_len"]).alias("seg"),
        ),
    )
    idx = base.filter(len_col >= k).select(
        F.col("id").alias("id_i"),
        F.col("len").alias("len_i"),
        F.explode(idx_rows).alias("e"),
    ).select("id_i", "len_i", F.col("e.slot").alias("slot"),
             F.xxhash64(F.col("e.seg")).alias("seg"))

    # PROBE: for each admissible partner length L >= k within +-tau, each
    # slot's window of substrings shifted by at most tau — all in-row
    probe_rows = F.flatten(
        F.transform(
            F.filter(
                F.sequence(len_col - tau, len_col + tau),
                lambda L: L >= k,
            ),
            lambda L: F.flatten(
                F.transform(
                    _seg_bounds(L, tau),
                    lambda sb, i: F.transform(
                        F.filter(
                            F.sequence(
                                sb["start"] - tau, sb["start"] + tau
                            ),
                            lambda st: (st >= 1)
                            & (st + sb["seg_len"] - 1 <= len_col),
                        ),
                        lambda st: F.struct(
                            L.alias("plen"),
                            i.alias("slot"),
                            F.substring(s_col, st, sb["seg_len"]).alias(
                                "seg"
                            ),
                        ),
                    ),
                )
            ),
        )
    )
    probe = base.select(
        F.col("id").alias("id_p"),
        F.explode(probe_rows).alias("e"),
    ).select("id_p", F.col("e.plen").alias("plen"),
             F.col("e.slot").alias("pslot"),
             F.xxhash64(F.col("e.seg")).alias("pseg"))

    # NO .distinct() here — candidates flow to the verify stage raw
    # (possibly duplicated across slots/shifts). Deduplicating BEFORE
    # verify looks thrifty but is a scale cliff: on a segment-flooded
    # corpus (sf10 spot-check: ~30-word vocabulary, 500K docs →
    # hundreds of millions of candidates for 26K true pairs) the
    # pre-verify distinct is a candidate-scale hash aggregation whose
    # table exceeds executor memory and spills for minutes, while the
    # verify itself (broadcast string lookup + threshold levenshtein)
    # STREAMS at ~µs/row. Verify-then-distinct keeps every stage
    # between blocking and the final (tiny) dedup pipelined; the extra
    # duplicate verifications are early-exit DP calls, orders of
    # magnitude cheaper than hashing the pair table.
    # The blocking equi-join is ALWAYS shuffle-side (merge hint): both
    # inputs are O(corpus) exploded tables, so broadcasting one is never
    # the right strategy at scale — yet without the hint the static
    # planner does exactly that whenever the corpus parquet compresses
    # under autoBroadcastJoinThreshold, because size estimates propagate
    # the on-disk bytes through the explode. Measured at the sf10
    # (factor-100) spot-check: the 58 MB documents.parquet estimated
    # "small", the planner broadcast the 22M-row probe side, the hashed
    # relation materialized at 3.3 GiB (spilled past the 8 GB driver
    # heap), and the whole candidate+verify chain collapsed into the
    # scan stage's 14 file splits with one straggler task doing nearly
    # all verification — no shuffle boundary means AQE could neither
    # rebalance nor skew-split. A sort-merge join keeps both sides
    # spillable, gives AQE real runtime stats, and engages its skew
    # splitting on hot segment keys; sorting the skinny (id, len, slot,
    # 8-byte key) rows is noise next to the verify.
    return (
        idx.hint("merge").join(
            probe,
            (idx["len_i"] == probe["plen"])
            & (idx["slot"] == probe["pslot"])
            & (idx["seg"] == probe["pseg"]),
        )
        .filter(F.col("id_i") != F.col("id_p"))
        .select(
            F.least("id_i", "id_p").alias("id_a"),
            F.greatest("id_i", "id_p").alias("id_b"),
        )
    )


def _verify(cand: DataFrame, base: DataFrame, tau: int) -> DataFrame:
    """Join candidate id pairs back to their strings, keep pairs with
    ``levenshtein <= tau`` (built-in threshold form: banded DP,
    early-exit, codegen'd), THEN deduplicate.

    The input may contain duplicate (id_a, id_b) rows (multi-slot /
    multi-shift blocking matches); the distinct runs on the verified
    SURVIVORS — true-pair-scale, not candidate-scale (see the
    _segment_candidates comment for why the pre-verify distinct was a
    spill cliff). ``dist`` is a pure function of the pair, so distinct
    on the triple equals distinct on the pair."""
    a = base.select(F.col("id").alias("id_a"), F.col("s").alias("_sa"))
    b = base.select(F.col("id").alias("id_b"), F.col("s").alias("_sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("dist", F.levenshtein("_sa", "_sb", tau))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
        .distinct()
    )


def edit_distance_join(
    df: DataFrame, id_col: str, str_col: str, tau: int
) -> DataFrame:
    """All pairs ``(id_a, id_b, dist)`` with ``id_a < id_b`` and
    ``levenshtein(s_a, s_b) = dist <= tau``. Exact (no false negatives,
    verify removes false positives) — see the module docstring for the
    proofs. NULL strings never match (SQL NULL semantics)."""
    if tau < 0:
        raise ValueError(f"need tau >= 0, got tau={tau}")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(str_col).alias("s"),
        F.length(str_col).alias("len"),
    ).filter(F.col("s").isNotNull())

    cand_long = _segment_candidates(base, tau)

    # -- short-short fallback: both sides too short for tau+1 segments --
    shorts = base.filter(F.col("len") < tau + 1)
    # each short string emits every admissible partner length len±tau as
    # an equi-join key; the partner matches on its own exact length, so
    # each pair surfaces exactly once (no distinct needed)
    sa = shorts.select(
        F.col("id").alias("id_a"),
        F.explode(
            F.sequence(
                F.greatest(F.col("len") - tau, F.lit(0)),
                F.col("len") + tau,
            )
        ).alias("lk"),
    )
    sb = shorts.select(F.col("id").alias("id_b"), F.col("len").alias("lk"))
    cand_short = (
        sa.join(sb, "lk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    return _verify(cand_long.unionByName(cand_short), base, tau)


def edit_distance_join_brute(
    df: DataFrame, id_col: str, str_col: str, tau: int
) -> DataFrame:
    """All-pairs witness for :func:`edit_distance_join` — a length-banded
    self-join with no blocking. O(n²) candidates: SMALL INPUTS ONLY
    (equality pinned in tests/test_fuzzyjoin.py, incl. hypothesis-driven
    adversarial strings around every blocking boundary).
    A test reference: nothing in the engine calls it."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(str_col).alias("s"),
        F.length(str_col).alias("len"),
    ).filter(F.col("s").isNotNull())
    sess = df.sparkSession
    # the nested-loop verify is byte-light but CPU-dense (O(n^2) pair
    # evaluations): AQE's byte-based coalescing would starve it to 1-2
    # tasks, so pin the streamed side's parallelism explicitly (the
    # eval_greedy_match precedent)
    n_part = sess.sparkContext.defaultParallelism * 2
    a = base.repartition(n_part).select(
        F.col("id").alias("id_a"), F.col("s").alias("_sa"), F.col("len").alias("la")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("s").alias("_sb"), F.col("len").alias("lb")
    )
    return (
        a.join(
            b,
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= tau),
        )
        .withColumn("dist", F.levenshtein("_sa", "_sb", tau))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )
