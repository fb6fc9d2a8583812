#!/usr/bin/env python
"""Measured AQE skew-split evidence (VERDICT r11 stretch: "demonstrate
AQE skew split on fuzzy_edit_join's blocking join and make the claim
measured, not asserted").

The static plan digest (tools/plan_digest.py) cannot see skew handling:
OptimizeSkewedJoin is a runtime rule that fires only after a shuffle
stage materializes and its per-partition map statistics reveal a
partition larger than max(skewedPartitionThresholdInBytes,
skewedPartitionFactor * median). This tool EXECUTES a registry query
through its own QueryExecution (so the final adaptive plan — not the
initial snapshot — is inspectable) and counts the skew markers Spark
renders in the final plan:

- ``SortMergeJoin(skew=true)``   → a join whose skewed partitions were
                                   split into advisory-sized parts
- ``AQEShuffleRead skewed``      → the reader doing the splitting
- ``AQEShuffleRead coalesced``   → ordinary small-partition coalescing

Two execution modes per query:

- stock:   the session's production thresholds (256 MiB default) — at
           bench scale partitions are far smaller, so 0 splits is the
           EXPECTED stock answer; the field proves the machinery is
           observable, not that toy data is skewed.
- lowered: thresholds dropped (default 256 KiB) so the same query's
           real shuffles cross the skew bar at bench scale — the live
           proof that the query's join SHAPE is skew-splittable (merge
           SMJ + ENSURE_REQUIREMENTS shuffles), i.e. that at 100 TB,
           where real partitions dwarf 256 MiB, AQE can and will split
           them. A query whose joins were hint-broadcast or whose reads
           bypass ENSURE_REQUIREMENTS would report 0 here — that is
           the regression this tool exists to catch.

Found while building this (worth keeping): a skew probe whose payload
is PRUNED by the optimizer (e.g. count(*) over the join) compresses
the hot partition to nothing — map stats see ~80 KiB where the logical
row count says 130 MiB — and no skew is detected. Skew is a property
of post-pruning, post-compression shuffle BYTES, not of row counts.

Usage:
  python tools/skew_evidence.py [--sf-dir DIR] [--names a,b]
                                [--threshold 256k] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def skew_digest(df) -> dict:
    """Execute the DataFrame's OWN QueryExecution JVM-side (no rows
    cross to Python) and digest the final adaptive plan."""
    # Dataset.toJavaRDD/rdd use a SEPARATE rddQueryExecution — executing
    # through them leaves the inspected QE un-finalized (isFinalPlan
    # stays false). Execute the inspected QueryExecution's own adaptive
    # plan instance, JVM-side, no rows to Python.
    import re

    jplan = df._jdf.queryExecution().executedPlan()
    jplan.execute().count()
    plan = jplan.toString()
    # the reader renders its flags jointly: "AQEShuffleRead skewed",
    # "AQEShuffleRead coalesced and skewed", ... — match any skewed read
    reads = re.findall(r"AQEShuffleRead ([a-z ]+)", plan)
    return {
        "is_final_plan": "isFinalPlan=true" in plan,
        "skew_joins": plan.count("skew=true"),
        "skewed_reads": sum("skewed" in r for r in reads),
        "coalesced_reads": sum("coalesced" in r for r in reads),
        "smj": plan.count("SortMergeJoin"),
    }


def run_with_thresholds(
    spark, build, sf_dir: str, threshold: str | None, factor: str | None = None
):
    """Digest one query, optionally under lowered skew thresholds."""
    pairs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            threshold,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": threshold,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": factor,
    }
    pairs = {k: v for k, v in pairs.items() if v is not None}
    prev = {k: spark.conf.get(k) for k in pairs}
    try:
        if threshold is not None:
            for k, v in pairs.items():
                spark.conf.set(k, v)
        return skew_digest(build(spark, sf_dir))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--names", default="fuzzy_edit_join")
    ap.add_argument("--threshold", default="256k",
                    help="lowered skew threshold for the demo pass")
    ap.add_argument("--factor", default=None,
                    help="skewedPartitionFactor for the demo pass")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from vlm_data_pipeline_spark.plans import QUERIES
    from vlm_data_pipeline_spark.session import get_spark

    spark = get_spark("skew-evidence")
    out: dict[str, dict] = {}
    for name in args.names.split(","):
        q = QUERIES[name]
        out[name] = {
            "stock": run_with_thresholds(spark, q.build, args.sf_dir, None),
            "lowered": run_with_thresholds(
                spark, q.build, args.sf_dir, args.threshold, args.factor
            ),
            "lowered_threshold": args.threshold,
            "sf_dir": args.sf_dir,
        }
        print(json.dumps({name: out[name]}), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
