#!/usr/bin/env python
"""Plan-level proof of the sf100 de-hint claim (VERDICT r12 #6).

The r10/r11 de-hints removed ``F.broadcast`` from every SF-SCALED join
side (part in the frames synthesis, customer in the star/semi lineages)
on the argument "estimates broadcast them at test scales and stop at
sf100, where the hint would force a multi-GB hashed relation". This tool
turns that argument into committed evidence:

1. Builds ``.scale/sf100stats`` — a STATS-ONLY sf100 layout: every
   SF-scaled parquet is SPARSE-PADDED to 1000× its sf0.1 length by
   inserting a hole between the last row group and the footer (parquet
   readers follow footer offsets, so the dead region is never read; the
   file stays fully readable). Catalyst's only statistic for a v1 file
   scan is the file LENGTH from the listing, so plans built against
   this layout see genuine sf100-scale sizes on BOTH join sides — the
   first attempt replicated only the dimension tables and the planner
   simply broadcast the (still-tiny) fact side instead, which is the
   trap this layout exists to avoid. Disk cost ≈ one sf0.1 copy.
2. For each de-hinted lineage, walks the physical plan at bench scale
   and at sf100stats and records PER TABLE whether its scan sits under
   a BroadcastExchange (broadcast build side) or not (streamed/shuffle
   side), plus the hint-residual count — under the session's production
   broadcast threshold AND under Spark's 10 MiB default, because the
   flip point is a property of the threshold and the committed artifact
   should show where it sits.

Contract (asserted by tests/test_sf100_evidence.py over the committed
artifact): nation/region stay broadcast at every scale; at sf100 the
SF-scaled sides (part, customer, orders) stop broadcasting — under the
session threshold AND the default, i.e. the flip is not threshold-
marginal — with fact_bc_hint = 0 (nothing is forced either way).
Measured result (r13): all three lineages flip exactly so.

qa_pipeline_full is NOT in the default name list: generate_all persists
the frames snapshot, so its physical plan reads InMemoryTableScan and
carries no file scans to attribute — the same frames lineage is covered
unpersisted by qa_task_obj_obj_distance.

Usage:
  python tools/sf100_plan_evidence.py [--factor 1000]
      [--out SF100_PLAN_EVIDENCE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALED = (
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
DIMS = ("region", "nation")
TABLES = SCALED + DIMS


def sparse_pad_parquet(src: str, dst: str, factor: int) -> None:
    """Write ``dst`` as ``src`` sparse-padded to factor× its length.

    Parquet layout: [PAR1][row groups][footer][footer_len:4][PAR1].
    Readers locate the footer from the END of the file and then seek to
    the row-group offsets it records — bytes between the last row group
    and the footer are dead space. Padding there (as a filesystem hole)
    scales the LISTED length, which is the only statistic Catalyst has
    for a v1 parquet scan, while keeping the file bit-for-bit readable
    and the physical disk usage at the original size."""
    with open(src, "rb") as fh:
        data = fh.read()
    footer_len = int.from_bytes(data[-8:-4], "little")
    tail = data[-(footer_len + 8):]
    body = data[: len(data) - len(tail)]
    target = len(data) * factor
    with open(dst, "wb") as fh:
        fh.write(body)
        fh.seek(target - len(tail))
        fh.write(tail)


def build_layout(src: str, dst: str, factor: int) -> None:
    import shutil

    os.makedirs(dst, exist_ok=True)
    for name in SCALED:
        out = os.path.join(dst, f"{name}.parquet")
        if not os.path.exists(out):
            sparse_pad_parquet(
                os.path.join(src, f"{name}.parquet"), out, factor
            )
    for name in DIMS:
        out = os.path.join(dst, f"{name}.parquet")
        if not os.path.exists(out):
            shutil.copy(os.path.join(src, f"{name}.parquet"), out)


def broadcast_tables(jplan) -> dict[str, bool]:
    """table name -> True if its scan sits under a BroadcastExchange in
    this physical plan (i.e. it is a broadcast build side)."""
    found: dict[str, bool] = {}

    def walk(node, in_bc: bool) -> None:
        nn = node.nodeName()
        if "BroadcastExchange" in nn:
            in_bc = True
        if "Scan" in nn:
            first = node.toString().splitlines()[0]
            for t in TABLES:
                if f"/{t}.parquet" in first:
                    found[t] = found.get(t, False) or in_bc
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), in_bc)

    walk(jplan, False)
    return found


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--bench-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--factor", type=int, default=1000)
    ap.add_argument(
        "--dst", default=os.path.join(REPO, ".scale", "sf100stats")
    )
    ap.add_argument(
        "--names",
        default="j_star_revenue,j2_semi_anti_split,qa_task_obj_obj_distance",
    )
    ap.add_argument(
        "--out", default=os.path.join(REPO, "SF100_PLAN_EVIDENCE.json")
    )
    args = ap.parse_args()

    build_layout(args.src, args.dst, args.factor)

    from tools.plan_digest import count_fact_scan_broadcasts
    from vlm_data_pipeline_spark.session import _env_cpus, get_spark

    import __spark_entry__ as entry

    spark = get_spark("sf100-evidence", cpus=_env_cpus(default=8))
    qs = entry.queries()
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    session_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out: dict = {
        "factor": args.factor,
        "session_threshold": session_thr,
        "default_threshold": "10485760",
    }
    try:
        for name in args.names.split(","):
            row: dict = {}
            for label, d in (("bench", args.bench_dir), ("sf100", args.dst)):
                for thr_label, thr in (
                    ("session_thr", session_thr),
                    ("default_thr", "10485760"),
                ):
                    spark.conf.set(
                        "spark.sql.autoBroadcastJoinThreshold", thr
                    )
                    jplan = (
                        qs[name](spark, d)._jdf.queryExecution().executedPlan()
                    )
                    row[f"{label}.{thr_label}"] = {
                        "broadcast": sorted(
                            t for t, bc in broadcast_tables(jplan).items()
                            if bc
                        ),
                        "streamed": sorted(
                            t for t, bc in broadcast_tables(jplan).items()
                            if not bc
                        ),
                    }
                # hint residual at this dir: estimates off, only explicit
                # hints can broadcast
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                row[f"{label}.fact_bc_hint"] = count_fact_scan_broadcasts(
                    qs[name](spark, d)._jdf.queryExecution().executedPlan()
                )
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", session_thr
                )
            out[name] = row
            print(json.dumps({name: row}), flush=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", session_thr)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
