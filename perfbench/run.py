#!/usr/bin/env python3
"""Pipeline benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload enrich_qa3d --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The benchmark writes its seeded inputs,
sinks, Spark scratch space and event logs under ``.perfbench_work/`` there and
removes them on exit. Protocol, in order:

1. time a fixed calibration loop, then remap the shipped tables
   (``data/``) with ``--seed`` into the inputs;
2. set up: ``session.get_spark`` on ``local[<usable cores>]`` in a fresh JVM,
   plus one small Spark job, so the scheduler and code generator are up.
   ``setup_s`` is the CPU time the process tree spends on it; its wall is
   ``setup_wall_s``;
3. run the workload's pipeline on the inputs, one job at a time, until
   ``--seconds`` have passed. The first pass is the one a one-shot batch job
   pays, in a JVM that has run nothing of the pipeline yet: ``first_wall_s``
   is its wall and ``iteration_cpu_s`` the median CPU time of the process
   tree per pass;
4. check the last pass's outputs against independent oracles, stop the JVM
   and time the calibration loop again. CPU times are reported at a
   reference host speed: divided by the loop's mean time over the
   reference time.

With ``--trace 0`` the last stdout line carries the gated end-to-end metric.
With ``--trace 1`` Spark's event log is on, the first pass is traced, and the
last line carries the per-layer metrics of the set-up and that pass; three
more passes (plain, traced, plain) give the tracing overhead. The line
before the last is a full report: box state, every wall, the check results
and the informational metrics.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Inputs as (orders, documents) cut from data/: every shipped line (3,000
# orders, 12,133 lines) and the first 1,000 documents (README.md, "Scope").
FULL_SIZE = (3000, 1000)
WORKLOAD_NAMES = ("enrich_qa3d", "curate_text")
MAX_FAILED_ITERATIONS = 3
NO_PERF_DATA = "-XX:-UsePerfData"
QUIESCE_S = 0.5
WARMUP_ROWS = 10_000
TAIL_MIN_BEYOND = 10
# End-to-end metrics on the last line with --trace 0 (BENCHMARK.json's
# "end_to_end"). The report line carries these and the informational ones,
# whose run-to-run spread exceeds what a gate allows (README.md, "Metrics").
END_TO_END = ("setup_s",)
# A traced run: the first pass traced, then plain, traced, plain for the
# tracing overhead.
TRACED_KINDS = (True, False, True, False)
# Host-speed calibration: a fixed pure-Python loop, run in one process per
# core at once, twice before the set-up and twice after the last pass. The
# host's physical cores are shared with other guests, and the same work took
# up to twice the CPU time in busy periods (README.md, "Metrics"). CPU times
# are divided by the loop's mean time and multiplied by what it took on a
# quiet host (4-vCPU microVM), so they read in CPU seconds at that speed. The
# mean, not the median: in busy periods some vCPUs run the loop at about
# 1.5 times the time of the others, and a pass runs on all of them.
CALIB_LOOPS = 800_000
CALIB_ROUNDS = 2
CALIB_REF_S = 0.19


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="utf-8") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu() -> dict[int, tuple[float, float]]:
    """User and system CPU seconds of this process and its descendants."""
    tck = os.sysconf("SC_CLK_TCK")
    cpu = {}
    for pid in [os.getpid(), *RssSampler.descendants()]:
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu[pid] = (int(fields[11]) / tck, int(fields[12]) / tck)
    return cpu


def cpu_since(before: dict[int, tuple[float, float]]) -> tuple[float, float]:
    """User and system CPU seconds the process tree used since ``before``; a
    process that ended in between is left out."""
    user = system = 0.0
    for pid, (u, s) in tree_cpu().items():
        u0, s0 = before.get(pid, (0.0, 0.0))
        user += u - u0
        system += s - s0
    return user, system


def _calib_loop(n: int) -> float:
    t0 = time.process_time()
    d: dict[str, int] = {}
    for i in range(n):
        k = str(i * 7919 % 10007)
        d[k] = d.get(k, 0) + i
    return time.process_time() - t0


def calibrate(procs: int) -> list[float]:
    """CPU seconds the calibration loop takes in each of ``procs`` processes
    run at once, for each of ``CALIB_ROUNDS`` rounds."""
    pool = multiprocessing.get_context("fork").Pool(procs)
    try:
        times: list[float] = []
        for _ in range(CALIB_ROUNDS):
            times += pool.map(_calib_loop, [CALIB_LOOPS] * procs)
        return times
    finally:
        pool.close()
        pool.join()


def _box_state() -> dict:
    """Usable cores, load average and foreign JVMs, read before our own
    JVM starts; a run that starts beside another JVM is contaminated."""
    java = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
                java += fh.read().strip() == "java"
        except OSError:
            continue
    load1, load5, _ = os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    return {
        "cores": cores,
        "loadavg_1m": load1,
        "loadavg_5m": load5,
        "foreign_java": java,
        "contaminated": java > 0,
    }


class RssSampler:
    """Polls ``VmHWM`` of every descendant process; the peak is the sum of
    the last-read marks of the JVMs and Python workers. Other processes are
    left out: they are short helpers the JVM forks (``ps``, ``rm``), which
    report the JVM's own mark, under a JVM thread's name, until they exec."""

    def __init__(self, period: float = 1.0) -> None:
        self.period = period
        self.hwm_kb: dict[int, int] = {}
        self.comm: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def descendants() -> list[int]:
        parent: dict[int, int] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
        out, frontier = [], [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            out.extend(kids)
            frontier.extend(kids)
        return out

    def sample(self) -> None:
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                    for line in fh:
                        if line.startswith("Name:"):
                            self.comm[pid] = line.split()[1]
                        elif line.startswith("VmHWM:"):
                            self.hwm_kb[pid] = int(line.split()[1])
                            break
            except OSError:
                continue

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def _counted(self) -> list[int]:
        return [p for p in self.hwm_kb if self.comm.get(p, "").startswith(("java", "python"))]

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm_kb[p] for p in self._counted()) / 1024.0

    def by_process(self) -> list[tuple[str, float]]:
        return sorted(
            ((self.comm[p], self.hwm_kb[p] / 1024.0) for p in self._counted()),
            key=lambda x: -x[1],
        )


def _tail(walls: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(walls)
    s = sorted(walls)
    if n <= TAIL_MIN_BEYOND:
        return {"value": s[-1], "unit": "s", "percentile": 100.0, "samples": n,
                "note": f"fewer than {TAIL_MIN_BEYOND + 1} samples: maximum"}
    k = n - TAIL_MIN_BEYOND  # 1-based rank with exactly ten samples above
    return {"value": s[k - 1], "unit": "s", "percentile": round(100.0 * k / n, 2),
            "samples": n}


class Bench:
    def __init__(self, args, box: dict) -> None:
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.cores = box["cores"]
        self.workload = WORKLOADS[args.workload]()
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.data_dir = os.path.join(self.work, "inputs")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.tracer = Tracer() if args.trace else None
        self.spark = None
        self.failed = 0
        self.attempted = 0

    # -- session -----------------------------------------------------------

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            # no hsperfdata file under /tmp: the run writes only in its checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} {NO_PERF_DATA}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                }
            )
        return conf

    def setup(self) -> tuple[float, tuple[float, float], float]:
        """``get_spark`` plus one small job: wall, CPU time of the process
        tree, and hypervisor steal time."""
        from spans import maybe_span
        from vlm_data_pipeline_spark.session import get_spark

        cpu0, steal0 = tree_cpu(), _steal_s()
        t0 = time.perf_counter()
        with maybe_span(self.tracer, "session.get_spark", -1):
            self.spark = get_spark(f"perfbench-{self.args.workload}", cpus=self.cores,
                                   extra_conf=self._conf())
        if self.tracer:
            self.tracer.sc = self.spark.sparkContext
        with maybe_span(self.tracer, "session.warmup", -1):
            self.spark.range(WARMUP_ROWS).selectExpr("sum(id % 7)").collect()
        wall = time.perf_counter() - t0
        return wall, cpu_since(cpu0), _steal_s() - steal0

    def shutdown_jvm(self, sampler: RssSampler) -> None:
        """Stop the gateway JVM and wait for it and every worker to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        procs = sampler.descendants()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        for pid in procs:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass

    # -- protocol ----------------------------------------------------------

    def quiesce(self) -> None:
        """Start each timed iteration from the same state: a full JVM GC,
        then a short idle pause so JIT compilations queued by the previous
        job finish outside the timed region."""
        self.spark.sparkContext._jvm.System.gc()
        time.sleep(QUIESCE_S)

    def run_iteration(
        self, data_dir: str, it: int, traced: bool
    ) -> tuple[float, tuple[float, float]] | None:
        """Wall and process-tree CPU seconds of one iteration."""
        self.quiesce()
        self.attempted += 1
        cpu0 = tree_cpu()
        t0 = time.perf_counter()
        try:
            self.workload.iteration(self.spark, data_dir, self.tracer if traced else None, it)
        except Exception as exc:  # a failed iteration counts; the run goes on
            self.failed += 1
            print(f"iteration {it} failed: {exc!r}", file=sys.stderr)
            return None
        wall = time.perf_counter() - t0
        return wall, cpu_since(cpu0)

    def main(self) -> dict:
        from inputs import write_tables

        args = self.args
        t0 = time.perf_counter()
        write_tables(self.data_dir, args.seed, *FULL_SIZE)
        rows = self.workload.input_rows(self.data_dir)
        self.workload.out_dir = os.path.join(self.work, "out")
        inputs_s = time.perf_counter() - t0

        setup_wall_s, setup_cpu, setup_steal_s = self.setup()
        # Plain passes until --seconds have passed, or a traced run's fixed
        # sequence of passes.
        walls: list[float] = []
        cpus: list[tuple[float, float]] = []
        kinds: list[bool] = []
        deadline = time.perf_counter() + args.seconds
        while self.failed < MAX_FAILED_ITERATIONS:
            if args.trace:
                if len(kinds) == len(TRACED_KINDS):
                    break
                traced = TRACED_KINDS[len(kinds)]
            else:
                if time.perf_counter() >= deadline and walls:
                    break
                traced = False
            w = self.run_iteration(self.data_dir, len(kinds), traced)
            kinds.append(traced)
            if w is not None and not traced:
                walls.append(w[0])
                cpus.append(w[1])

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            checks = self.workload.check(self.spark, self.data_dir)
        except Exception as exc:
            checks = [{"query": "check", "ok": False, "error": repr(exc)[:500]}]
        check_s = time.perf_counter() - t0
        checks_ok = all(c["ok"] for c in checks)
        self.failed += not checks_ok

        overheads = []
        if self.tracer:
            # a traced pass's wall is its root span; compare the second
            # traced pass with the mean of the plain passes on either side,
            # which cancels a steady warm-up trend
            roots = [s.wall for s in self.tracer.spans if s.name.endswith(".iteration")]
            overheads = [t - (a + b) / 2 for t, a, b in zip(roots[1:], walls, walls[1:])]
        return {
            "rows": rows,
            "inputs_s": inputs_s,
            "setup_wall_s": setup_wall_s,
            "setup_cpu": setup_cpu,
            "setup_steal_s": setup_steal_s,
            "checks": checks,
            "checks_ok": checks_ok,
            "check_s": check_s,
            "walls": walls,
            "cpus": cpus,
            "trace_overheads": overheads,
        }


def end_to_end(res: dict, peak_mb: float, slowdown: float) -> dict:
    """Every end-to-end metric; ``END_TO_END`` names the gated ones. CPU
    times are divided by the host's ``slowdown`` against the reference."""
    walls, rows = res["walls"], res["rows"]
    return {
        "rows_per_s": {"value": statistics.median(rows / w for w in walls), "unit": "1/s"},
        "wall_s_p50": {"value": statistics.median(walls), "unit": "s"},
        "first_wall_s": {"value": walls[0], "unit": "s"},
        "setup_s": {"value": sum(res["setup_cpu"]) / slowdown, "unit": "s"},
        "setup_wall_s": {"value": res["setup_wall_s"], "unit": "s"},
        "iteration_cpu_s": {
            "value": statistics.median(sum(c) for c in res["cpus"]) / slowdown,
            "unit": "s",
        },
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
    }


def per_layer(bench: Bench, res: dict) -> dict:
    from spans import PER_LAYER, event_log_files, metric_unit, parse_event_logs, span_metrics

    tracer = bench.tracer
    groups = parse_event_logs(event_log_files(bench.event_dir))
    # the set-up and the first pass: the cold pass the end-to-end metrics time
    by_name = {
        sp.name: span_metrics(sp, tracer.spans, groups, bench.cores)
        for sp in tracer.spans
        if sp.iteration <= 0
    }
    out = {}
    for span, families in PER_LAYER.items():
        m = by_name.get(span)
        for fam in families:
            out[f"{span}.{fam}"] = {"value": m[fam] if m else 0.0, "unit": metric_unit(fam)}
    out["failed_tasks"] = {
        "value": float(sum(g.failed_tasks for g in groups.values())), "unit": "count"
    }
    out["trace_overhead_s"] = {"value": statistics.median(res["trace_overheads"]), "unit": "s"}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "vlm_data_pipeline_spark")):
        print(f"no vlm_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    box = _box_state()
    calib = calibrate(box["cores"])
    bench = Bench(args, box)
    shutil.rmtree(bench.work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(bench.work, d), exist_ok=True)
    # Python workers import the engine by module path: export the checkout
    # root so they find it whatever the caller's cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(bench.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA  # spark-submit's launcher JVM
    sys.path.insert(0, ROOT)
    if args.trace:
        os.makedirs(bench.event_dir, exist_ok=True)

    steal0 = _steal_s()
    try:
        with RssSampler() as sampler:
            try:
                res = bench.main()
                sampler.sample()
            finally:
                bench.shutdown_jvm(sampler)
        if not res["walls"]:
            print("no full-size iteration succeeded", file=sys.stderr)
            return 1
        calib += calibrate(box["cores"])
        slowdown = statistics.mean(calib) / CALIB_REF_S
        e2e = end_to_end(res, sampler.peak_mb, slowdown)
        metrics = per_layer(bench, res) if args.trace else {k: e2e[k] for k in END_TO_END}
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bench.work))  # only if no other run uses it
        except OSError:
            pass

    e2e["wall_s_tail"] = _tail(res["walls"])
    e2e["failed_share"] = {"value": bench.failed / bench.attempted, "unit": "ratio"}
    box["steal_s"] = _steal_s() - steal0
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": box,
        "input_rows": res["rows"],
        "inputs_s": res["inputs_s"],
        "setup_steal_s": res["setup_steal_s"],
        "calibration_s": calib,
        "slowdown": slowdown,
        "end_to_end": e2e,
        "walls_s": res["walls"],
        "setup_user_sys_s": res["setup_cpu"],
        "iteration_user_sys_s": res["cpus"],
        "trace_overheads_s": res["trace_overheads"],
        "rss_hwm_mb": sampler.by_process(),
        "check_s": res["check_s"],
        "checks": res["checks"],
    }
    print(json.dumps({"report": report}))
    print(
        json.dumps(
            {
                "correct": res["checks_ok"] and bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
