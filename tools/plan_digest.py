#!/usr/bin/env python
"""Registry-wide physical-plan digest — the plan-shape regression
baseline.

BENCH_PLANS=1 audits the headline queries by executing them; this
tool covers the WHOLE registry by building plans only
(no execution — `executedPlan` on the unexecuted QueryExecution), so a
full sweep takes ~a minute. Per query it records the counts that
actually move at 100 TB:

- exchanges:        shuffle boundaries (every one is a corpus-wide
                    repartition at scale)
- broadcasts:       BroadcastExchange nodes (dimension shipping)
- scans / pushed:   parquet scans, and how many carry PushedFilters
                    (predicate made it into the reader)
- wscg:             WholeStageCodegen spans (wider = more of the plan
                    compiled)
- cartesian/bnlj:   nested-loop joins — should be zero except for
                    documented 1-row aggregates

Output: one JSON file (default PLANS.json) mapping query -> digest.
The committed baseline lives at PLANS_BASELINE.json and is ENFORCED by
tests/test_plan_digest.py (VERDICT r8 #1): every registered query must
be present, and no plan may gain cartesian/BNLJ/python_eval nodes or
(for driver-window queries) extra exchanges vs the baseline. After an
intentional plan change or new query registration, refresh with:

    python tools/plan_digest.py --out PLANS_BASELINE.json

Usage: python tools/plan_digest.py [--sf-dir DIR] [--out PLANS.json]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


_SORT_SPEC = re.compile(r"(ASC|DESC) NULLS (FIRST|LAST)")


def _count_global_windows(plan: str) -> int:
    """Count WindowExec nodes with NO partition spec — the anti-pattern
    class VERDICT r9 #1 found at operators/lm.py:655: Spark moves the
    ENTIRE input to one partition (`Exchange SinglePartition` + single-
    task sort), a hard wall on any corpus-sized input.

    A `Window [...]` tree line renders its top-level groups as
    `[funcs], [partitionCols], [sortOrder]`. Partitioned windows have
    the 3-group form (or 2 groups whose second is plain columns —
    partitionBy with no orderBy). Partition-less windows have either a
    single group (no partition, no sort) or 2 groups whose second is a
    sort spec (`expr ASC NULLS FIRST, ...`)."""
    n = 0
    for line in re.findall(r"\bWindow \[.*", plan):
        groups = line.split("], [")
        if len(groups) >= 3:
            continue  # partitionBy present
        if len(groups) == 1 or _SORT_SPEC.search(groups[1]):
            n += 1
    return n


# The scaled (fact) tables of the test schema — anything whose volume
# grows with the corpus. region/nation are the only true dimensions.
FACT_TABLES = (
    "documents", "lineitem", "orders", "events", "embeddings",
    "customer", "part", "supplier",
)
# Operators that bound a broadcast subtree's cardinality regardless of
# its scan volume (a limit collapses to N). Joins, projects, filters,
# explodes do NOT bound. Aggregates are handled separately: VERDICT r10
# #2 — a group-by/distinct on a HIGH-CARDINALITY fact key (e.g.
# `orders.select("o_custkey").distinct()`) does not bound scan volume,
# so only aggregates that PROVABLY bound are exempt (see _agg_bounds).
_BC_BOUNDING = ("Limit", "TakeOrdered")

# Full column names of the two true dimension tables (25 / 5 rows,
# scale-invariant). A grouped aggregate whose every key comes from these
# bounds its output cardinality by construction. Exact names, not
# prefixes (ADVICE r11): fact-derived columns like documents.n_chars /
# n_members / n_samples would prefix-match 'n_' and false-exempt an
# unbounded fact broadcast from the gate.
_DIM_COLS = frozenset(
    {
        "n_nationkey", "n_name", "n_regionkey", "n_comment",
        "r_regionkey", "r_name", "r_comment",
    }
)

# HashAggregate/ObjectHashAggregate render `keys=[...]`; SortAggregate
# renders `key=[...]` (ADVICE r11: the keys=-only regex missed it,
# flagging genuinely bounded SortAggregate subtrees).
_AGG_KEYS = re.compile(r"Aggregate\(keys?=\[([^\]]*)\]")


def _agg_bounds(node_first_line: str) -> bool:
    """Whether an aggregate node provably bounds its subtree's output:
    zero grouping keys (global 1-row agg) or every key a dimension-table
    column. `keys=[o_custkey#7L]` (fact key, cardinality grows with SF)
    does NOT bound — the round-10 blanket exemption's false negative
    (VERDICT r10 #2)."""
    m = _AGG_KEYS.search(node_first_line)
    if not m:
        return False
    keys = [k.strip() for k in m.group(1).split(",") if k.strip()]
    if not keys:
        return True  # global aggregate -> exactly one row
    # a rendered key is `colname#exprId` (possibly `L`-suffixed typed id)
    return all(
        k.split("#", 1)[0].lower() in _DIM_COLS for k in keys
    )


def count_fact_scan_broadcasts(jplan) -> int:
    """Count fact-table scans sitting under a BroadcastExchange with NO
    bounding operator (aggregate/limit) in between — the round-10
    broadcast-hazard class: the static planner sizes such a subtree
    from the parquet's COMPRESSED bytes and cannot see decompression,
    explode amplification, or the cost of re-running the subtree into
    a driver-side collection (sf10-measured: a 58 MB documents scan
    became a 3.3 GiB hashed relation in the fuzzy join; the cleaning
    pipeline died with a 300 s broadcast timeout; semantic dedup with
    a build-side OOM). Scans of checkpointed RDDs are exempt — their
    estimates are ACCURATE materialized sizes, so the static decision
    flips to shuffle at exactly the scale it should.

    Gated by compare_digests at NO GROWTH vs the committed baseline:
    the baseline's residual occurrences are the audited-acceptable
    narrow/id-only broadcasts documented in SURVEY §7.4-r10; any NEW
    one needs the same triage (hint it or justify it + refresh)."""
    n = 0

    def walk(node, in_bc: bool, bounded: bool) -> None:
        nonlocal n
        nn = node.nodeName()
        if "BroadcastExchange" in nn:
            in_bc, bounded = True, False
        elif in_bc and any(b in nn for b in _BC_BOUNDING):
            bounded = True
        elif in_bc and "Aggregate" in nn:
            # only PROVABLY bounding aggregates exempt (VERDICT r10 #2)
            if _agg_bounds(node.toString().splitlines()[0]):
                bounded = True
        if in_bc and not bounded and "Scan" in nn:
            first = node.toString().splitlines()[0]
            if any(f"/{t}.parquet" in first for t in FACT_TABLES):
                n += 1
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), in_bc, bounded)

    walk(jplan, False, False)
    return n


def digest(plan: str) -> dict:
    return {
        "global_windows": _count_global_windows(plan),
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobinPartitioning")
        + plan.count("Exchange SinglePartition"),
        "broadcasts": plan.count("BroadcastExchange"),
        "scans": len(re.findall(r"FileScan|BatchScan", plan)),
        "pushed_filter_scans": len(
            re.findall(r"PushedFilters: \[[^\]]", plan)
        ),
        # the tree string renders codegen'd operators as "*(N) Op";
        # count distinct span ids
        "wscg_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "cartesian": plan.count("CartesianProduct"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "python_eval": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython"),
    }


def digest_all(
    spark,
    queries: dict,
    names: list[str],
    sf_dir: str,
    verbose: bool = False,
) -> dict[str, dict]:
    """Digest every named query's pre-execution physical plan (no
    execution — ``executedPlan`` on the unexecuted QueryExecution).

    AQE wraps the plan in AdaptiveSparkPlanExec and defers
    CollapseCodegenStages to runtime, so a pre-execution toString shows
    no *(N) spans. Disable it AROUND THE DIGEST ONLY: the digest is a
    STATIC baseline (exchange positions + codegen structure of the
    initial plan); production sessions keep AQE, which can only improve
    on this shape at runtime (coalescing, broadcast conversion, skew
    splits).

    Each query is planned TWICE: once normally (all digest fields +
    ``fact_bc``), once with ``autoBroadcastJoinThreshold=-1``
    (``fact_bc_hint``). At threshold -1 every ESTIMATE-based broadcast
    decision flips to a shuffle join, so any fact-scan broadcast that
    survives is forced by an explicit ``F.broadcast()`` hint — the one
    class AQE can never demote at scale (VERDICT r10 #1/#2). Hints
    deserve a stricter rule than estimates: only the second pass's
    count feeds the hint gate; the -1 plan is used for NOTHING else
    (it legitimately contains CartesianProduct for unhinted cross
    joins, so its other node counts are not comparable).

    ``maxMetadataStringLength`` is raised around the sweep so the scan
    node's rendered location can't truncate away the parquet filename
    that count_fact_scan_broadcasts matches on (ADVICE r10: the 100-
    char default silently undercounts under a long sf_dir path)."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_meta = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
    # Digest from a CLEAN cache: a cache entry created earlier in the
    # session under AQE-on renders its full adaptive plan inside
    # InMemoryTableScan, inflating exchange counts vs the committed
    # baseline (found round 11 — the gate flaked when another test file
    # had persisted the shared frames snapshot first). Clearing here
    # means every cache entry the sweep observes was created inside
    # this AQE-off context, making digests independent of prior
    # session state.
    spark.catalog.clearCache()
    out: dict[str, dict] = {}
    try:
        for name in names:
            try:
                df = queries[name](spark, sf_dir)
                jplan = df._jdf.queryExecution().executedPlan()
                out[name] = digest(jplan.toString())
                out[name]["fact_bc"] = count_fact_scan_broadcasts(jplan)
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                try:
                    df2 = queries[name](spark, sf_dir)
                    jp2 = df2._jdf.queryExecution().executedPlan()
                    out[name]["fact_bc_hint"] = count_fact_scan_broadcasts(jp2)
                finally:
                    spark.conf.set(
                        "spark.sql.autoBroadcastJoinThreshold", prev_thr
                    )
            except Exception as exc:  # noqa: BLE001 — report, don't abort
                out[name] = {"error": str(exc)[:200]}
            if verbose:
                print(f"  {name}: {json.dumps(out[name])}", flush=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_meta)
    return out


def compare_digests(
    baseline: dict[str, dict],
    live: dict[str, dict],
    window: tuple[str, ...] | list[str] = (),
) -> list[str]:
    """Plan-shape regression check (the pytest gate's core, kept pure so
    the red paths are unit-testable without Spark). Flags, per query:

    - absence from the baseline (a registered query the committed
      baseline has never digested — the drift mode VERDICT r8 #1 caught:
      regenerate PLANS_BASELINE.json);
    - any growth in cartesian / bnlj / python_eval node counts vs the
      baseline (a new nested-loop join or Python stage is a scale
      regression even when results stay correct);
    - for driver-window queries, growth in the exchange count (an extra
      shuffle in a flagship plan is a 100 TB wall-clock regression).

    - a baseline query absent from the live digest (ADVICE r9: a
      shrinking live sweep — a query that silently failed to digest, or
      a --names run compared against the full baseline — must be
      visible, not silently green);
    - any partition-less WindowExec (global_windows > 0) — gated at
      ZERO absolutely, not vs baseline: every occurrence is a
      single-partition sort of the node's whole input (VERDICT r9 #1);
    - growth in fact_bc (unbounded fact-scan broadcasts, round 10) vs
      the audited baseline — see count_fact_scan_broadcasts.

    Returns a list of human-readable violations; empty = green.
    Shrinkage is allowed silently (fewer exchanges is an improvement —
    refresh the baseline to lock it in)."""
    errs: list[str] = []
    for name in sorted(set(baseline) - set(live)):
        errs.append(
            f"{name}: in baseline but missing from live digest — "
            "coverage shrank"
        )
    for name in sorted(live):
        lv = live[name]
        bl = baseline.get(name)
        if bl is None:
            errs.append(
                f"{name}: not in baseline — regenerate PLANS_BASELINE.json"
            )
            continue
        if "error" in bl or "error" in lv:
            errs.append(
                f"{name}: digest error (baseline={bl.get('error')!r}, "
                f"live={lv.get('error')!r})"
            )
            continue
        for node in ("cartesian", "bnlj", "python_eval"):
            if lv[node] > bl[node]:
                errs.append(
                    f"{name}: {node} count grew {bl[node]} -> {lv[node]}"
                )
        # broadcast-hazard gate (round 10): a NEW unbounded fact-scan
        # broadcast is the class that produced a 3.3 GiB hashed
        # relation, a 300 s broadcast timeout, and a build-side OOM at
        # the sf10 spot check — no growth vs the audited baseline
        if "fact_bc" in bl and lv.get("fact_bc", 0) > bl["fact_bc"]:
            errs.append(
                f"{name}: fact-scan broadcast count grew "
                f"{bl['fact_bc']} -> {lv['fact_bc']} — a corpus-scaled "
                "side is statically broadcast; hint it shuffle-side or "
                "justify + refresh the baseline (SURVEY §7.4-r10)"
            )
        # explicit-hint gate (round 11, VERDICT r10 #1/#2): a broadcast
        # HINT on a fact-scan subtree is honored at ANY estimated size
        # and AQE never demotes it — stricter than the estimate gate
        # above. No growth vs the audited baseline.
        if "fact_bc_hint" in bl and (
            lv.get("fact_bc_hint", 0) > bl["fact_bc_hint"]
        ):
            errs.append(
                f"{name}: HINT-forced fact-scan broadcast count grew "
                f"{bl['fact_bc_hint']} -> {lv['fact_bc_hint']} — an "
                "explicit F.broadcast() on a corpus-scaled side; drop "
                "the hint (estimates+AQE decide) or merge-hint, else "
                "justify + refresh (SURVEY §7.4-r11)"
            )
        # absolute-zero gate: baselines predating the field default to 0
        if lv.get("global_windows", 0) > 0:
            errs.append(
                f"{name}: {lv['global_windows']} partition-less "
                "WindowExec node(s) — single-partition sort of the "
                "whole input"
            )
        if name in set(window) and lv["exchanges"] > bl["exchanges"]:
            errs.append(
                f"{name}: exchange count grew {bl['exchanges']} -> "
                f"{lv['exchanges']} (driver-window query)"
            )
    return errs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(REPO, "PLANS.json"))
    ap.add_argument("--names", default=None, help="comma list; default all")
    args = ap.parse_args()

    from vlm_data_pipeline_spark.session import _env_cpus, get_spark

    import __spark_entry__ as e

    spark = get_spark("plan-digest", cpus=_env_cpus(default=8))
    qs = e.queries()
    names = args.names.split(",") if args.names else sorted(qs)
    out = digest_all(spark, qs, names, args.sf_dir, verbose=True)
    failed = [n for n, d in out.items() if "error" in d]
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"queries": len(out), "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
