"""Deterministic per-row randomness (SURVEY §7.3 hard part #1).

The reference draws from Python's global ``random`` (qa_base.py:86-137,
obj_obj_rel_pos_qa.py:88) — irreproducible and order-dependent. A
distributed engine needs draws that are (a) independent of partitioning and
execution order, (b) reproducible run-to-run, (c) cheap. We derive uniforms
from md5 of (row key, purpose, index): every draw is a pure function of its
coordinates, so the same row always gets the same distractors regardless of
cluster layout — and the DuckDB oracle can recompute them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCALE = float(1 << 32)


def unit_uniform(*seed_cols: Column) -> Column:
    """U[0, 1) as a pure function of the seed columns."""
    seed = F.concat_ws("\x1f", *[c.cast("string") for c in seed_cols])
    h = F.conv(F.substring(F.md5(seed), 1, 8), 16, 10).cast("double")
    return h / _SCALE


def uniform(lo: float, hi: float, *seed_cols: Column) -> Column:
    return unit_uniform(*seed_cols) * (hi - lo) + lo


def randint(lo: int, hi: int, *seed_cols: Column) -> Column:
    """Integer in [lo, hi] inclusive."""
    return (unit_uniform(*seed_cols) * (hi - lo + 1)).cast("int") + lo


def percent_distractors(
    correct: Column,
    n: int,
    lo: float,
    hi: float,
    decimals: int,
    *seed_cols: Column,
) -> Column:
    """n-1 distractors at uniform multiples of the correct answer in
    [lo, hi]× (qa_base.py percent mode), floored at 0.1, rounded; the
    correct answer is element 1. Returns array<double> of length n."""
    draws = [
        F.round(
            F.greatest(
                F.lit(0.1), correct * uniform(lo, hi, F.lit(f"d{i}"), *seed_cols)
            ),
            decimals,
        )
        for i in range(1, n)
    ]
    return F.array(F.round(correct, decimals), *draws)


def offset_distractors(
    correct: Column, n: int, lo: int, hi: int, *seed_cols: Column
) -> Column:
    """Integer-offset distractor mode (qa_base.py offset mode): offsets in
    [lo, hi], 0 remapped to 1, floored at 0.1."""
    draws = []
    for i in range(1, n):
        off = randint(lo, hi, F.lit(f"d{i}"), *seed_cols)
        off = F.when(off == 0, F.lit(1)).otherwise(off)
        draws.append(F.greatest(F.lit(0.1), correct + off.cast("double")))
    return F.array(correct.cast("double"), *draws)


def multiple_choice(options: Column, *seed_cols: Column) -> Column:
    """Deterministic shuffle + letter answer (qa_base.py:111-137).

    ``options``: array with the correct value first. Returns
    struct(options array<double> shuffled, answer letter, answer_value).
    Shuffle = sort by md5(seed, position); letter = chr(65 + index of the
    correct value after the shuffle).
    """
    seed = F.concat_ws("\x1f", *[c.cast("string") for c in seed_cols])
    keyed = F.transform(
        options,
        lambda v, i: F.struct(
            F.md5(F.concat(seed, F.lit("#"), i.cast("string"))).alias("k"),
            v.alias("v"),
        ),
    )
    shuffled = F.transform(F.array_sort(keyed), lambda s: s["v"])
    correct = options[0]
    idx = F.array_position(shuffled, correct)  # 1-based first occurrence
    letter = F.char(F.lit(64) + idx)
    return F.struct(
        shuffled.alias("options"),
        letter.alias("answer"),
        correct.alias("answer_value"),
    )


def seeded_unit_uniform(seed: str, key: Column) -> Column:
    """U in the OPEN interval (0, 1) from (seed, key): md5-derived like
    :func:`unit_uniform`, plus a +0.5/2^32 offset so downstream
    transforms with singularities at 0 or 1 (−ln(−ln u), Pareto
    inverse-CDF) are always finite. ONE definition shared by every
    selection operator (DSIR Gumbel keys, Pareto draws) — the SQL
    oracles mirror this construction verbatim, so all copies must stay
    bit-identical; edit here only."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.lit(seed), key.cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("double")
    return (h + F.lit(0.5)) / _SCALE
