#!/usr/bin/env python
"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {"q1": sec, ...},
   "sf": ...}

Each query is timed end-to-end (plan + execute + count-collect of the
result), mirroring how the reference's wall-clock numbers in BASELINE.md are
end-to-end single-run times.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Headline set: one per operator family that dominates runtime at scale.
HEADLINE = [
    "q1_pricing_summary",
    "qa_object_count",
    "j_star_revenue",
    "j8_pairwise_selfjoin",
    "j9_asof_prior_view",
    "w1_rank_topk",
    "w2_first_per_group",
    "o4_deterministic_sample",
    "event_tumbling_window",
    "a10_quality_audit",
    "events_interval_join",  # binned range join (100K events x 1.5K windows)
    "events_asof_join",  # union-window merge_asof over events
    # round-6 third wave: the Bloom seen-set gate (position build +
    # join-path probe over the full corpus) and the Count-Min token
    # sketch (token explode + cell agg) — both data-bound, so their
    # per-round numbers track corpus scale, not fixed overhead
    "sketch_bloom_decontaminate",
    # round-7: the broadcast-bitset probe sibling — the row that makes
    # the join-vs-broadcast crossover data instead of folklore
    "sketch_bloom_probe_broadcast",
    "sketch_countmin_tokens",
    # round-8: edit-distance similarity join (q-gram prefix blocking +
    # JVM levenshtein verify) — the blocking explode + (gram, occ)
    # equi-join are the data-bound stages worth tracking per round
    "fuzzy_edit_join",
    # scale flagships: the full 10-task QA pipeline over ~150K synthesized
    # frames (reference single-node analogue: 8-12 frames/s) and the
    # MinHash+LSH near-dup pass over the documents corpus
    "qa_pipeline_full",
    "dedup_minhash_lsh",
    # round-11 (VERDICT r10 #7): the widest composed DAG (URL dedup →
    # TrustRank gate → Bloom decontam → quality rules) joins the
    # headline + sf10 scale list so the post-hint-sweep fix is proven in
    # the committed artifact, not just the ledger prose
    "curation_web_pipeline",
]


def _foreign_jvms() -> int:
    """Count java processes that are NOT this benchmark's own session.
    Wall-clock on a shared box swings ±2× when another JVM is alive
    (burned a round on exactly this); recording the count in the JSON
    makes a contaminated run self-diagnosing instead of a dispute."""
    import subprocess

    try:
        res = subprocess.run(
            ["ps", "-eo", "pid,ppid,comm"], capture_output=True, text=True,
            timeout=10,
        )
        if res.returncode != 0 or not res.stdout.strip():
            return -1  # unknown — ps unusable (busybox etc.); don't claim clean
        me = os.getpid()
        n = 0
        for line in res.stdout.splitlines()[1:]:
            parts = line.split()
            if len(parts) >= 3 and "java" in parts[2]:
                # our own executor JVM is a child of this process
                if int(parts[1]) != me:
                    n += 1
        return n
    except Exception:
        return -1  # unknown — never abort the benchmark over the probe


def _env_switch(name: str, default: str) -> bool:
    """``name`` as ``0`` or ``1``: any other value used to read as off."""
    raw = os.environ.get(name, default)
    if raw not in ("0", "1"):
        raise ValueError(f"{name} must be 0 or 1, got {raw!r}")
    return raw == "1"


def _env_quiet_wait() -> float:
    """``BENCH_QUIET_WAIT_SEC`` (default 120) as a non-negative number of
    seconds."""
    raw = os.environ.get("BENCH_QUIET_WAIT_SEC", "120")
    try:
        seconds = float(raw)
    except ValueError:
        seconds = -1.0
    if not 0 <= seconds < float("inf"):
        raise ValueError(
            f"BENCH_QUIET_WAIT_SEC must be a non-negative number of seconds, got {raw!r}"
        )
    return seconds


def main() -> int | None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vlm_data_pipeline_spark.session import _env_cpus, _env_positive_int

    # every knob is checked before the box is probed or a JVM starts
    cpus = _env_cpus()
    wait_budget = _env_quiet_wait()
    warmup = _env_switch("BENCH_WARMUP", "1")
    # BENCH_PLANS=1: also report per-query Exchange counts on stderr —
    # plan-shape regressions (a new shuffle) matter more than wall-clock
    # noise (±30% box variance); stdout stays the single JSON line.
    audit_plans = _env_switch("BENCH_PLANS", "0")
    runs = _env_positive_int("BENCH_RUNS", 2)

    # snapshot BEFORE our own JVM starts: anything alive now is foreign.
    # VERDICT r10 #3: a foreign JVM swings wall-clocks ±2.5× and the
    # numbers still land in round-over-round comparisons — so wait
    # (bounded) for a quiet box, and if it never quiets, stamp the run
    # `contaminated` so cross-round tooling can exclude it instead of
    # adjudicating after the fact.
    foreign_jvms = _foreign_jvms()
    waited = 0.0
    while foreign_jvms > 0 and waited < wait_budget:
        time.sleep(5.0)
        waited += 5.0
        foreign_jvms = _foreign_jvms()

    from vlm_data_pipeline_spark.plans import QUERIES
    from vlm_data_pipeline_spark.session import get_spark

    spark = get_spark("vlm-bench", cpus=cpus)

    # Warm the JVM/codegen path once so per-query times measure the
    # queries, not session bring-up.
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    # Steady-state warmup (BENCH_WARMUP=0 disables): run every headline
    # query once at sf0.001 (~milliseconds of data) BEFORE timing.
    # Round-7 diagnosis of the r6 'qa_pipeline_full drift': the same
    # query in the same session measured 19.9s on first execution and
    # 10.1s on the second, with whole-stage codegen ON or OFF alike and
    # clearCache having no effect — the cold cost is JVM JIT (C2)
    # compilation of the expression interpreters and reader hot loops,
    # not a plan or data regression. A tiny-scale pass executes the
    # IDENTICAL generated code (same expression trees → same codegen
    # source → compiled-class cache hit) so the timed sf0.1 runs measure
    # steady-state throughput — the regime that matters for a long-lived
    # engine, and the number that is comparable across rounds regardless
    # of bench-list composition. Warmup wall-clock is reported separately.
    # BENCH_ONLY=a,b,c restricts the run to a headline subset — used by
    # the sf10 scale spot-check, where only the heaviest pipelines are
    # worth a 100x-volume execution.
    only = os.environ.get("BENCH_ONLY")
    if only:
        requested = set(only.split(","))
        unknown = sorted(requested - set(HEADLINE))
        if unknown:
            # fail loudly (ADVICE r9): a typo'd BENCH_ONLY list used to
            # run ZERO queries yet still emit a headline total of 0 —
            # indistinguishable from an excellent round number.
            print(
                f"BENCH_ONLY names not in HEADLINE: {unknown} "
                f"(valid: {sorted(HEADLINE)})",
                file=sys.stderr,
            )
            return 2
        headline = [n for n in HEADLINE if n in requested]
    else:
        headline = HEADLINE

    warmup_s = None
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARMUP_DIR",
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"),
    )
    if warmup and os.path.isdir(warm_dir):
        t0 = time.perf_counter()
        for name in headline:
            q0 = QUERIES.get(name)
            if q0 is not None:
                q0.build(spark, warm_dir).count()
        spark.catalog.clearCache()
        warmup_s = round(time.perf_counter() - t0, 3)

    # Steady-state protocol (round 7): each query is executed BENCH_RUNS
    # times (default 2) and `queries` reports the per-query MIN; the
    # first-run walls are preserved in `first_run`. Why: the sf0.001
    # warmup compiles the plans but cannot push the JVM's C2 JIT over
    # its invocation thresholds for the sf0.1-sized hot loops — measured
    # on the flagship: 24.5s first execution, 13.8/15.6s on repeats in
    # the same session (and 17.3s first-after-sf0.01-warmup). A single
    # cold run therefore measures JIT state, not the engine — the exact
    # mechanism behind the r6 'drift on unchanged code'. Min-of-N is the
    # standard steady-state estimator; both numbers stay in the JSON so
    # cold-start cost is visible, not hidden.
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    for name in headline:
        q = QUERIES.get(name)
        if q is None:
            continue
        walls = []
        for _ in range(runs):
            # Each run starts from a clean cache: generate_all (and
            # other pipelines) persist intermediates; clearing keeps
            # each run's persist cost inside its own timing — the
            # honest per-query number.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = q.build(spark, sf_dir)
            n = df.count()
            walls.append(round(time.perf_counter() - t0, 3))
            assert n >= 0
        first_run[name] = walls[0]
        timings[name] = min(walls)
        if audit_plans:
            plan = df._jdf.queryExecution().executedPlan().toString()
            print(
                f"[plan] {name}: exchanges={plan.count('Exchange')}",
                file=sys.stderr,
            )

    total = round(sum(timings.values()), 3)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # >0 = another JVM was STILL alive after the bounded
                # quiet-wait: wall-clocks are contaminated (±2× variance
                # observed). None = ps unusable, can't claim clean.
                "foreign_jvms_at_start": foreign_jvms,
                "quiet_wait_sec": round(waited, 1),
                "contaminated": (
                    None if foreign_jvms < 0 else foreign_jvms > 0
                ),
                # sf0.001 steady-state warmup wall (None = skipped):
                # timed queries measure warm-JIT throughput, see above
                "warmup_sec": warmup_s,
                # cold-start transparency: wall of run 1 of each query
                # (queries above report min over BENCH_RUNS executions)
                "runs": runs,
                "first_run": first_run,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
