"""Tests for the row-by-row comparison of numerical QA answers.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import _md5_sums, compare_qa_numeric  # noqa: E402

SEP = chr(31)


def _rows(n: int = 2000) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "task": ["obj_obj_distance" if i % 2 else "obj_size" for i in range(n)],
            "id": [f"q{i}" for i in range(n)],
            "answer": [f"{(i % 50) / 10:.1f}" for i in range(n)],
        }
    )


def _spark(rows: pd.DataFrame) -> tuple[pd.DataFrame, dict]:
    """Rows with the digest text of an untimed pass, and the timed
    iteration's digest of the same rows."""
    rows = rows.assign(text=rows["task"] + SEP + rows["id"] + SEP + rows["answer"])
    n1, n2 = _md5_sums(rows["text"])
    return rows, {"n1": n1, "n2": n2}


def test_identical_rows_pass():
    rows = _rows()
    spark, it = _spark(rows)
    got = compare_qa_numeric(spark, rows, it)
    assert got["ok"] and got["differing"] == [] and got["same_as_timed_iteration"]


def test_one_boundary_row_per_thousand_passes():
    oracle = _rows()
    rows = oracle.copy()
    rows.loc[7, "answer"] = f"{float(rows.loc[7, 'answer']) + 0.1:.1f}"
    spark, it = _spark(rows)
    got = compare_qa_numeric(spark, oracle, it)
    assert got["ok"] and got["allowed_differing"] == 2
    assert [d["id"] for d in got["differing"]] == ["q7"]


def test_more_than_one_step_fails():
    oracle = _rows()
    rows = oracle.copy()
    rows.loc[7, "answer"] = f"{float(rows.loc[7, 'answer']) + 0.2:.1f}"
    spark, it = _spark(rows)
    assert not compare_qa_numeric(spark, oracle, it)["ok"]


def test_too_many_differing_rows_fail():
    oracle = _rows()
    rows = oracle.copy()
    for i in (1, 3, 5):
        rows.loc[i, "answer"] = f"{float(rows.loc[i, 'answer']) + 0.1:.1f}"
    spark, it = _spark(rows)
    assert not compare_qa_numeric(spark, oracle, it)["ok"]


def test_swapped_answers_fail_although_the_sum_is_kept():
    oracle = _rows()
    rows = oracle.copy()
    rows.loc[[1, 30], "answer"] = rows.loc[[30, 1], "answer"].to_numpy()
    spark, it = _spark(rows)
    assert not compare_qa_numeric(spark, oracle, it)["ok"]


def test_missing_row_fails():
    oracle = _rows()
    spark, it = _spark(oracle.drop(index=11).reset_index(drop=True))
    got = compare_qa_numeric(spark, oracle, it)
    assert not got["ok"] and got["rows"]["joined"] == len(oracle) - 1


def test_rows_unlike_the_timed_iteration_fail():
    rows = _rows()
    spark, it = _spark(rows)
    it["n1"] += 1
    got = compare_qa_numeric(spark, rows, it)
    assert not got["ok"] and not got["same_as_timed_iteration"]
