"""Edit-distance join: segment-blocking completeness vs the brute-force
witness and vs an independent pure-Python Levenshtein, including
adversarial strings straddling every blocking boundary (the tau+1
short/long cut, empty strings, repeated characters, edits in the first,
middle and last segment) and kilobyte strings on hashed segment keys."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vlm_data_pipeline_spark.operators.fuzzyjoin import (
    edit_distance_join,
    edit_distance_join_brute,
)


def py_lev(a: str, b: str) -> int:
    """Independent textbook DP — the ground truth both Spark paths must
    reproduce."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def ground_truth(strings: list[str], tau: int) -> set[tuple[int, int, int]]:
    out = set()
    for i in range(len(strings)):
        for j in range(i + 1, len(strings)):
            d = py_lev(strings[i], strings[j])
            if d <= tau:
                out.add((i, j, d))
    return out


JOINS = {"segment": edit_distance_join, "brute": edit_distance_join_brute}


def run_join(spark, strings, tau, method="segment"):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "id INT, s STRING"
    )
    return {
        (r.id_a, r.id_b, r.dist)
        for r in JOINS[method](df, "id", "s", tau).collect()
    }


CASES = [
    # exact dup, 1-edit, 2-edit in different segments
    ["abcdefgh", "abcdefgh", "abcdefgX", "abcdefXY", "abXdefgh"],
    # empty + near-empty strings (short-short fallback at every tau)
    ["", "", "a", "ab", "abc", "xyz", "ax"],
    # length band: len 8 vs len 10 pairs only at tau = 2
    ["abcdefgh", "abcdefghij", "abcdefghXY", "zzzzzzzzzz"],
    # repeated characters — segments of one string share keys
    ["aaaaaaaaaaaa", "aaaaaaaaaaa", "aaaaaaaaaaab", "abababababab"],
    # long strings edited only in the last segment
    ["0123456789abcdefgh", "0123456789abcdefgX", "0123456789abcdeXgh"],
]


@pytest.mark.parametrize("method", JOINS)
@pytest.mark.parametrize("strings", CASES, ids=range(len(CASES)))
@pytest.mark.parametrize("tau", [0, 1, 2])
def test_matches_ground_truth(spark, strings, tau, method):
    """The blocked join and its brute witness both equal the DP."""
    got = run_join(spark, strings, tau, method=method)
    assert got == ground_truth(strings, tau)


def test_matches_brute_force_path(spark):
    strings = [c for case in CASES for c in case]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "id INT, s STRING"
    )
    brute = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join_brute(df, "id", "s", 2).collect()
    }
    assert brute == ground_truth(strings, 2)
    fast = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join(df, "id", "s", 2).collect()
    }
    assert fast == brute


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=14),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=3),
)
def test_hypothesis_small_alphabet(spark, strings, tau):
    """Tiny alphabet maximizes collisions and near-misses; lengths span
    both sides of the tau+1 short cut. The join must equal the
    independent DP ground truth."""
    assert run_join(spark, strings, tau) == ground_truth(strings, tau)


def test_null_strings_never_match(spark):
    df = spark.createDataFrame(
        [(0, "abcdefghij"), (1, None), (2, "abcdefghij")],
        "id INT, s STRING",
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join(df, "id", "s", 2).collect()
    }
    assert got == {(0, 2, 0)}


def test_bad_params_raise(spark):
    df = spark.createDataFrame([(0, "x")], "id INT, s STRING")
    with pytest.raises(ValueError):
        edit_distance_join(df, "id", "s", -1)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="aé日\U0001F600", min_size=0, max_size=12),
        min_size=2,
        max_size=6,
    ),
    st.integers(min_value=0, max_value=2),
)
def test_hypothesis_unicode_codepoints(spark, strings, tau):
    """Multibyte text: Spark's length/substring/levenshtein are all
    CODEPOINT-based (incl. astral-plane emoji), so segment boundaries
    must never split a character and distances must match a Python
    codepoint DP."""
    assert run_join(spark, strings, tau) == ground_truth(strings, tau)


def test_long_strings_hashed_keys_match_brute(spark):
    """Kilobyte-scale strings (VERDICT r8 #2): hashed segment keys must
    return the exact pair set of the brute witness — hash-equality is
    implied by string-equality, so blocking stays complete, and the
    levenshtein verify removes any collision-born false candidate. Also
    pins multibyte content at length ~1KB."""
    import random
    import string as _string

    rng = random.Random(421)

    def mutate(s: str, n: int) -> str:
        chars = list(s)
        for _ in range(n):
            op = rng.choice("ids")
            p = rng.randrange(len(chars))
            if op == "i":
                chars.insert(p, rng.choice(_string.ascii_lowercase))
            elif op == "d":
                del chars[p]
            else:
                chars[p] = rng.choice(_string.ascii_lowercase)
        return "".join(chars)

    alphabet = _string.ascii_lowercase + "日本語€𝕏"  # multibyte + astral
    bases = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1000, 1600)))
        for _ in range(4)
    ]
    strings = [mutate(b, n) for b in bases for n in (0, 1, 2, 3)]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(strings)], "id INT, s STRING"
    )
    brute = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join_brute(df, "id", "s", 2).collect()
    }
    assert brute  # non-vacuous: the mutated siblings must pair up
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join(df, "id", "s", 2).collect()
    }
    assert got == brute


def test_blocking_join_is_never_broadcast(spark):
    """The blocking equi-join must plan shuffle-side (SortMergeJoin),
    however small the input estimate.

    Regression for the sf10 (factor-100) scale finding: size estimates
    propagate a corpus parquet's COMPRESSED bytes through the segment
    explode, so the static planner broadcast a 22M-row probe side
    whose hashed relation materialized at 3.3 GiB — and with every join
    broadcast, candidate generation + verify collapsed into the scan
    stage's file splits (no shuffle boundary → no AQE rebalance, no
    skew split, one straggler task). Both blocking inputs are O(corpus)
    by construction, so the merge hint is a semantics-free invariant,
    not a tuning choice. The tiny inline frame below estimates far
    under autoBroadcastJoinThreshold — exactly the regime where an
    unhinted plan would go broadcast."""
    df = spark.createDataFrame(
        [(i, f"abcdefgh{i}") for i in range(20)], "id INT, s STRING"
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            edit_distance_join(df, "id", "s", 2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
