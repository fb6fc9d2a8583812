#!/usr/bin/env python
"""Staged sf10 profile of qa_pipeline_full (VERDICT r12 #1).

The flagship's committed sf10 wall moved 359.5s (r10) → 433.0s (r11) →
503.5s (r12 artifact; judge's clean min-of-2 470.5s) while sf0.1/sf1
improved — and the r12 refresh carried no ledger adjudication. This tool
names the cost instead of guessing: it decomposes the pipeline into its
physical stages under the bench protocol (foreign-JVM guard, sf0.001 JIT
warmup, clean cache per timed run, min-of-N on the headline) and records:

- ``full`` (min-of-N, first_run kept): the bench-comparable end-to-end
  number — synthesis pipelined into the persisted snapshot fill inside
  the union job, exactly what BENCH_sf10 times;
- ``synth_scan``: the frames synthesis WITHOUT persist — lineitem scan +
  lineitem⋈part join + the per-order collect_list shuffle. This is the
  cache-BUILD component in its pipelined (production) form;
- ``cache_fill_eager``: persist + count of the snapshot. Diagnostic
  upper bound only — r12 measured eager fill at 382–660s vs 254s for
  the pipelined fill, so this number is NOT the production cache cost;
- ``task_warm.*``: each 3D task over the already-materialized cache —
  the pure array-program component;
- ``union_warm``: the full task union over the warm cache (the persist
  inside ``generate_all`` is a no-op on it) — the two limit-1 modality
  probes, task programs + union + count without any build cost;
- ``plan``: sf10 plan facts — the part-join strategy (the de-hint's
  sf10 question: at sf10 part.parquet is ~17 MB, still under the 64 MB
  estimate threshold, so it should STILL broadcast with no hint),
  exchange count, and AQE state.

Accounting identity to read the result with:
    full ≈ synth_scan(pipelined fill) + union_warm  (± cache write-back)
If full tracks that sum, the wall is explained by its parts and the
r10→r12 trend adjudicates against which part grew; if it doesn't, the
residual is scheduler/GC overhead and gets named as such.

Usage: python tools/profile_qa_sf10.py [--sf-dir DIR] [--runs N]
Writes PROFILE_QA_SF10.json (one JSON object, committed as the round's
adjudication artifact).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    from vlm_data_pipeline_spark.session import _env_cpus, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".scale", "sf10"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "PROFILE_QA_SF10.json"))
    ap.add_argument("--cpus", type=int, default=_env_cpus())
    args = ap.parse_args()

    import bench  # foreign-JVM guard + protocol helpers live there

    foreign = bench._foreign_jvms()
    waited = 0.0
    while foreign > 0 and waited < 120.0:
        time.sleep(5.0)
        waited += 5.0
        foreign = bench._foreign_jvms()

    from vlm_data_pipeline_spark.qa.runner import TASKS, TASKS_3D, generate_all
    from vlm_data_pipeline_spark.sources.star_frames import synthetic_frames

    import __spark_entry__ as entry

    spark = get_spark("profile-qa-sf10", cpus=args.cpus)
    q = entry.queries()["qa_pipeline_full"]

    out: dict = {
        "sf_dir": args.sf_dir,
        "runs": args.runs,
        "contaminated": foreign > 0,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        # 14.7M frames persist MEMORY_AND_DISK during the fill: the 8g
        # bench default heap OOMs at this scale (measured round 13) —
        # record what this run actually had so walls are comparable.
        "driver_mem": spark.conf.get("spark.driver.memory"),
    }

    # JIT warmup: identical expression trees at toy scale (bench protocol)
    warm_dir = os.path.join(os.path.dirname(args.sf_dir.rstrip("/")), "..")
    warm_dir = "/root/testdata/sf0.001"
    t0 = time.perf_counter()
    q(spark, warm_dir).count()
    spark.catalog.clearCache()
    out["warmup_s"] = round(time.perf_counter() - t0, 2)

    # plan facts BEFORE any timing: what does sf10 actually plan?
    df = q(spark, args.sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    part_join = "unknown"
    for line in plan.splitlines():
        if "p_partkey" in line and "Join" in line:
            part_join = line.strip().lstrip("*+-: ()0123456789").split(" [")[0]
            break
    out["plan"] = {
        "part_join": part_join,
        "exchanges": plan.count("Exchange"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
    }

    # full pipeline, bench-identical protocol
    walls = []
    for _ in range(max(1, args.runs)):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n = q(spark, args.sf_dir).count()
        walls.append(round(time.perf_counter() - t0, 2))
        print(f"full: {walls[-1]}s rows={n}", flush=True)
    out["full"] = {"min": min(walls), "walls": walls, "rows": n}

    # stage: synthesis without persist (the pipelined fill's work content)
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    out["synth_scan_s"] = None
    n_frames = synthetic_frames(spark, args.sf_dir).count()
    out["synth_scan_s"] = round(time.perf_counter() - t0, 2)
    out["n_frames"] = n_frames
    print(f"synth_scan: {out['synth_scan_s']}s frames={n_frames}", flush=True)

    # stage: eager cache fill (diagnostic upper bound, r12 A/B caveat)
    from pyspark.storagelevel import StorageLevel

    spark.catalog.clearCache()
    frames = synthetic_frames(spark, args.sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    t0 = time.perf_counter()
    frames.count()
    out["cache_fill_eager_s"] = round(time.perf_counter() - t0, 2)
    print(f"cache_fill_eager: {out['cache_fill_eager_s']}s", flush=True)

    # stage: each 3D task over the warm cache (pure array programs)
    from pyspark.sql import functions as F

    fr3 = frames.filter(F.size("bounding_boxes_3d") > 0)
    out["task_warm"] = {}
    for name in sorted(TASKS_3D):
        t0 = time.perf_counter()
        TASKS[name](fr3).count()
        out["task_warm"][name] = round(time.perf_counter() - t0, 2)
        print(f"task_warm {name}: {out['task_warm'][name]}s", flush=True)

    # stage: the union over the warm cache (already persisted → no re-persist)
    t0 = time.perf_counter()
    generate_all(frames).count()
    out["union_warm_s"] = round(time.perf_counter() - t0, 2)
    print(f"union_warm: {out['union_warm_s']}s", flush=True)

    frames.unpersist()
    out["accounting"] = {
        "synth_plus_union_warm": round(
            out["synth_scan_s"] + out["union_warm_s"], 2
        ),
        "full_min": out["full"]["min"],
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(out["accounting"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
