#!/usr/bin/env python3
"""Engine benchmark: one workload per process, on local[4].

    python3 perfbench/run.py --workload train_books --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up starts the Spark session, cold (this
launches the JVM), generates the workload's inputs from ``--seed`` three
times, and reports the session start plus the median generation
(``setup_s``); ``score_docs`` also trains its model once. Then come the
first run, left out of the measurement unless set-up already ran the
engine, and the measured runs: a fixed number of them, more while
``--seconds`` lasts. ``run_cpu_s`` is the median CPU time the process
tree spends on a measured run. Every run's output is checked; a failed
check counts as a failed run.

``--trace 1`` instead alternates traced and untraced measured runs and
prints the per-layer span metrics (see ``spans.py``), ``trace.overhead_s``
(the traced minus the untraced median run time) and the call's wall
times: ``run_s``, the median untraced measured run, and ``first_run_s``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (``{name: {"value", "unit"}}``). The line
before it carries the per-run detail: times, 1-minute load average at each
run's start, check results and output quality.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import workloads
from spans import METRICS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "spark_text_clustering_spark"
MASTER = "local[4]"
SETUP_REPS = 3
# runs measured after the first: a fixed number, so that every call
# measures the same runs of the JIT's warm-up whatever the host's speed;
# as many as the benchmark's time limit allows (README.md)
MEASURED_RUNS = 2
CLK_TCK = os.sysconf("SC_CLK_TCK")
# stop starting runs this long after start, so the process ends well
# inside three minutes even when a run is slow
RUN_CUTOFF_S = 120.0

# span name -> (module attribute patched in the engine's ``app`` module)
TRAIN_SPANS = {
    "ml.vectorize.vectorize": "vectorize",
    "ml.lda.train_lda": "train_lda",
    "ml.lda.save_model": "save_model",
    "ml.lda.describe_topics_with_terms": "describe_topics_with_terms",
}
SCORE_SPANS = {"ml.lda.load_newest_model": "load_newest_model"}
TOP_SPAN = {"train_books": "app.run_training", "score_docs": "app.run_scoring"}
SPAN_NAMES = (
    "app.run_training.self", *TRAIN_SPANS,
    "app.run_scoring.self", *SCORE_SPANS,
)
SPAN_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
              "busy_s": "s", "shuffle_bytes": "bytes"}


END_TO_END_UNITS = {"run_cpu_s": "s", "setup_s": "s"}
PER_LAYER_UNITS = {
    # figures of the whole call, not of one layer, kept here because they
    # swing too far with the host to be bounded (README.md): the wall time
    # of a measured run and of the first run, and the process tree's peak
    # resident memory
    "run_s": "s",
    "first_run_s": "s",
    "peak_rss_mb": "MB",
    # the cold session start: it runs no Spark job, so wall time is all
    # there is to report
    "session.get_session.wall_s": "s",
    **{f"{span}.{m}": u for span in SPAN_NAMES for m, u in SPAN_UNITS.items()},
    "ml.lda.train_lda.s_per_iter": "s",
    "spill_bytes": "bytes",
    "trace.overhead_s": "s",
}


def configure_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the engine: the driver's ``sys.path`` does not reach
    them, ``PYTHONPATH`` does."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the short-lived JVM spark-submit runs first to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.retainedJobs=5000",
        "--conf", "spark.ui.retainedStages=5000",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and the Python workers) every 0.2 s.

    A process counts from its second sample on. A child the JVM forks to
    run a command shares the JVM's address space until it execs, and
    reads as a second JVM-sized process for those few milliseconds."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self.peak_by_name: dict[str, int] = {}  # process name -> bytes at the peak
        self._seen: set[int] = set()
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        pids = {os.getpid(), *descendants(os.getpid())}
        by_name: dict[str, int] = {}
        for pid in pids & self._seen:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except (OSError, IndexError, ValueError):
                continue
            by_name[name] = by_name.get(name, 0) + rss
        self._seen = pids
        total = sum(by_name.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_name = total, by_name

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this one
    started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 20
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            while os.path.exists(f"/proc/{pid}"):
                time.sleep(0.1)


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and all
    its descendants: the driver, every thread of the JVM and the Python
    workers. A child that has exited counts through its parent's
    ``cutime``/``cstime``. Time a hypervisor gave to other guests (steal)
    and time spent waiting for a CPU count in no process's figures."""
    ticks = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def cpu_ticks() -> list[int]:
    """Cumulative (busy, steal, total) jiffies of the machine's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return [sum(v) - v[3] - v[4] - v[7], v[7], sum(v)]


def new_session(workload: str):
    from spark_text_clustering_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(f"perfbench-{workload}", master=MASTER)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def bench(args, work: str) -> dict:
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.size)
    rss = RssSampler()
    rss.start()
    started = time.perf_counter()

    spark = None
    try:
        # --- set-up: the cold session start (the JVM launch) happens once
        # per process; input generation repeats and counts by its median;
        # the engine's model fit (score_docs) runs once
        spark, session_s = new_session(args.workload)
        gen_reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate()
            gen_reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0

        # --- runs
        from spark_text_clustering_spark import app

        tracer = Tracer(spark) if args.trace else None
        span_names = TRAIN_SPANS if args.workload == "train_books" else SCORE_SPANS
        runs: list[dict] = []
        layers: list[dict] = []
        spills: list[float] = []
        nproc = os.cpu_count() or 1

        def one(phase: str, traced: bool = False) -> None:
            i = len(runs)
            rec = {"i": i, "phase": phase, "traced": traced, "load1": os.getloadavg()[0]}
            rec["loaded"] = rec["load1"] > nproc
            undo = [tracer.wrap(app, attr, name) for name, attr in span_names.items()] if traced else []
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                if traced:
                    with tracer.span(TOP_SPAN[args.workload]):
                        out = wl.run(spark, i)
                else:
                    out = wl.run(spark, i)
                rec["wall_s"] = time.perf_counter() - t0
                rec["cpu_s"] = tree_cpu_s() - c0
                rec["errors"], rec["quality"] = wl.check(out)
            except Exception as e:  # a failed run is counted, not fatal
                traceback.print_exc()
                rec["errors"] = [f"{type(e).__name__}: {e}"[:500]]
            finally:
                for u in undo:
                    u()
                wl.cleanup(spark, i)
            if traced and "wall_s" in rec:
                spans, spill = tracer.collect()
                layers.append(spans)
                spills.append(spill)
            runs.append(rec)

        ticks0 = cpu_ticks()
        # a traced call keeps the first run out of its T U U T order
        one("measured" if wl.warm_after_setup and not args.trace else "first")
        measure_start = time.perf_counter()

        def more() -> bool:
            elapsed = time.perf_counter() - started
            measured = [r for r in runs if r["phase"] == "measured"]
            traced = sum(r["traced"] for r in measured)
            untraced = len(measured) - traced
            if elapsed > RUN_CUTOFF_S:
                return False
            if untraced < MEASURED_RUNS or (args.trace and traced < MEASURED_RUNS):
                return True
            return time.perf_counter() - measure_start < args.seconds

        # a traced call runs its measured runs traced and untraced in
        # T U U T order, so what is left of the warm-up weighs on both
        # sides of trace.overhead_s alike
        while more():
            n = sum(r["phase"] == "measured" for r in runs)
            one("measured", traced=bool(args.trace) and n % 4 in (0, 3))
        busy, steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        try:
            heap_mb = spark._jvm.java.lang.Runtime.getRuntime().totalMemory() / 2**20
            # one more Spark job: only in traced calls, which are not timed
            # end to end
            lda_partitions = wl.lda_partitions(spark) if args.trace else None
        except Exception as e:  # for the record only
            lda_partitions = heap_mb = f"{type(e).__name__}: {e}"[:200]
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()

    ok = [r for r in runs if "wall_s" in r]
    failed = sum(bool(r["errors"]) for r in runs)
    measured = [r for r in ok if r["phase"] == "measured" and not r["traced"]]
    warm = [r["wall_s"] for r in measured]
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "nproc": nproc, "get_session_s": session_s, "generate_s": gen_reps,
        "prepare_s": prepare_s, "lda_partitions": lda_partitions, "runs": runs,
        "runs_started_above_nproc": sum(r["loaded"] for r in runs),
        # the whole machine's CPU time over the runs: busy share and the
        # share a hypervisor gave to other guests
        "cpu_busy_pct": 100 * busy / total, "cpu_steal_pct": 100 * steal / total,
        "run_s_samples": len(warm),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "peak_rss_mb_by_process": {k: v / 2**20 for k, v in rss.peak_by_name.items()},
        # how far the JVM grew its heap by the end
        "jvm_heap_committed_mb": heap_mb,
        "fail_ratio": failed / len(runs),
    }
    if args.trace:
        traced = [r["wall_s"] for r in ok if r["traced"]]
        values = {}
        for span in SPAN_NAMES:
            for m in METRICS:
                values[f"{span}.{m}"] = median([ly.get(span, {}).get(m, 0) for ly in layers])
        values["session.get_session.wall_s"] = session_s
        iters = workloads.SIZES[args.size]["iterations"]
        values["ml.lda.train_lda.s_per_iter"] = values["ml.lda.train_lda.wall_s"] / iters
        values["spill_bytes"] = median(spills)
        values["trace.overhead_s"] = median(traced) - median(warm)
        values["peak_rss_mb"] = rss.peak_bytes / 2**20
        values["run_s"] = median(warm)
        values["first_run_s"] = runs[0].get("wall_s", 0.0)
        units = PER_LAYER_UNITS
    else:
        values = {
            "run_cpu_s": median([r["cpu_s"] for r in measured]),
            "setup_s": session_s + median(gen_reps) + prepare_s,
        }
        units = END_TO_END_UNITS
    print(json.dumps(detail, default=str), flush=True)
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "app.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}: run it from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    configure_environment(work)
    try:
        result = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
