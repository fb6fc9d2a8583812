#!/usr/bin/env python
"""Wall-clock sweep of EVERY registry query at a given scale (round 13).

The bench times the 19 headline queries; the optimization round's mandate
is every operator. This sweep executes each registered query once with
the noop sink (guide §1.4 — computes every column of every row, no sink
cost, visible in the SQL tab) after a tiny-scale warmup pass, and prints
one JSON line per query plus a sorted summary — the measurement that
decides which non-headline operators deserve attention.

Usage: python tools/sweep_registry_walls.py [--sf-dir D] [--runs N]
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


def main() -> None:
    from vlm_data_pipeline_spark.session import _env_cpus, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=_env_cpus())
    args = ap.parse_args()

    from vlm_data_pipeline_spark.plans import QUERIES

    spark = get_spark("sweep-walls", cpus=args.cpus)
    spark.read.parquet(f"{args.sf_dir}/nation.parquet").count()

    walls: dict[str, float] = {}
    errs: dict[str, str] = {}
    for name, q in QUERIES.items():
        try:
            q.build(spark, args.warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            # warmup is best-effort (a query may need sf-specific data),
            # but a genuinely broken query should be visible here, not
            # only when the timed run repeats the failure (ADVICE r13)
            print(f"warmup failed for {name}: {e}", file=sys.stderr)
        best = None
        try:
            for _ in range(max(1, args.runs)):
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"sweep:{name}")
                t0 = time.perf_counter()
                q.build(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                w = time.perf_counter() - t0
                best = w if best is None else min(best, w)
        except Exception as e:  # noqa: BLE001
            errs[name] = f"{type(e).__name__}: {e}"[:200]
        finally:
            # keep the partial best from completed runs (ADVICE r13):
            # an exception on run k used to discard runs 0..k-1
            if best is not None:
                walls[name] = round(best, 3)
            spark.sparkContext.setJobDescription(None)
    for name, w in sorted(walls.items(), key=lambda kv: -kv[1]):
        print(f"{w:8.3f}s  {name}")
    print(json.dumps({"sf_dir": args.sf_dir, "n": len(walls),
                      "total": round(sum(walls.values()), 1),
                      "errors": errs}))
    spark.stop()


if __name__ == "__main__":
    main()
