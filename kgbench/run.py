#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one JSON result line.

    python3 kgbench/run.py --workload kg_sf0.1 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run

1. generates the workload's input from ``--seed`` under
   ``.bench_work/`` in the checkout (deleted at exit, also on failure);
2. starts a fresh session with ``session.get_spark(cores=nproc)``;
3. runs one first pass, then later passes closed loop until
   ``--seconds`` have passed (at least ``MIN_LATER_PASSES``), checking
   every pass's output; ``pass_s`` is the median of the first
   ``MIN_LATER_PASSES`` later passes, so every run measures the same
   points of the JIT warm-up curve however fast a pass is;
   ``first_result_s`` is set-up plus the first pass, the wait of a
   batch job for its first result;
4. stops the session and waits for its JVM to exit.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the run first measures untraced passes in one
session, then traced passes in a second session with spans, one Spark
job group per stage and the event log on, and reports the per-layer
metrics (``layers.py``).  Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_LATER_PASSES = 3
# stop starting passes once this much of the run has gone, so that
# every run ends within 180 s; a traced run has two halves
UNTRACED_DEADLINE_S = 110.0
TRACED_HALF_DEADLINE_S = 70.0

E2E_UNITS = {
    "setup_s": "s",
    "first_result_s": "s",
    "pass_s": "s",
    "docs_per_s": "docs/s",
    "triple_f1": "ratio",
}


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


# ---- sessions ------------------------------------------------------
def session_conf(work: str, event_dir: str | None = None) -> dict[str, str]:
    """Keep every file the JVM writes inside the work directory."""
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict[str, str]):
    """A fresh session (and JVM); returns (spark, get_spark wall seconds)."""
    from snorkel_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="kgbench", cores=len(os.sched_getaffinity(0)), extra=conf
    )
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def stop_session(spark) -> None:
    """Stop the session, then end its JVM and wait for it, so the next
    ``start_session`` launches a new one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


# ---- passes --------------------------------------------------------
class Passes:
    """Pass walls and outputs of one session, in order."""

    def __init__(self) -> None:
        self.seconds: list[float | None] = []
        self.outputs: list[set | None] = []
        self.spans: dict = {}

    @property
    def first(self) -> float:
        if self.seconds[0] is None:
            raise RuntimeError("the first pass failed")
        return self.seconds[0]

    @property
    def later_median(self) -> float:
        """Median of the first ``MIN_LATER_PASSES`` later passes."""
        later = [s for s in self.seconds[1:MIN_LATER_PASSES + 1] if s is not None]
        if not later:
            raise RuntimeError("no later pass succeeded")
        return statistics.median(later)


def run_one(wl, spark, i: int, passes: Passes, tracer=None) -> None:
    from spans import set_group, stage_group

    try:
        if tracer is None:
            secs, out = wl.run_pass(spark, i)
        else:
            tracer.pass_idx = i
            if wl.stage_group:
                set_group(spark, stage_group(wl.stage_group, i))
            try:
                span, (secs, out) = tracer.call("pass", wl.run_pass, (spark, i), {})
                passes.spans[i] = span
            finally:
                set_group(spark, None)
                tracer.pass_idx = None
    except Exception:
        log(f"pass {i} raised:\n{traceback.format_exc()}")
        secs, out = None, None
    passes.seconds.append(secs)
    passes.outputs.append(out)
    log(f"{wl.name} pass {i}: {secs if secs is None else round(secs, 3)} s")


def measure(wl, spark, seconds: float, deadline: float, tracer=None) -> Passes:
    """First pass, then later passes closed loop until ``seconds`` have
    passed since the first pass ended (at least ``MIN_LATER_PASSES``)."""
    passes = Passes()
    run_one(wl, spark, 0, passes, tracer)
    window_start = time.perf_counter()
    i = 1
    while time.monotonic() < deadline and (
        i <= MIN_LATER_PASSES or time.perf_counter() - window_start < seconds
    ):
        run_one(wl, spark, i, passes, tracer)
        i += 1
    return passes


def check(wl, spark, runs: list[Passes]) -> tuple[int, int, float]:
    """(attempted, failed, lowest F1) over every pass of ``runs``; a pass
    that raised scores (0, failed)."""
    want = wl.expected(spark)
    scores = [(0.0, False) if out is None else wl.score(out, want)
              for r in runs for out in r.outputs]
    failed = sum(not ok for _f1, ok in scores)
    return len(scores), failed, min(f for f, _ok in scores)


def later_pass_tail(seconds: list[float]) -> str | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(seconds)
    if n < 11:
        return None
    return f"p{100 * (n - 10) / n:.0f} of {n} later passes: {sorted(seconds)[n - 11]:.3f} s"


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time of the host so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + idle + iowait + irq + softirq + steal, steal


# ---- the two kinds of run ------------------------------------------
def run_untraced(wl, work: str, seconds: float, t_start: float) -> dict:
    spark, setup_s = start_session(session_conf(work))
    try:
        total0, steal0 = cpu_jiffies()
        passes = measure(wl, spark, seconds, t_start + UNTRACED_DEADLINE_S)
        total1, steal1 = cpu_jiffies()
        attempted, failed, worst_f1 = check(wl, spark, [passes])
    finally:
        stop_session(spark)
    # time the hypervisor gave to other guests slows every pass alike
    log(f"CPU steal during the passes: {100 * (steal1 - steal0) / max(total1 - total0, 1):.1f}%")
    tail = later_pass_tail([s for s in passes.seconds[1:] if s is not None])
    if tail:
        log(tail)
    metrics = {
        "setup_s": setup_s,
        "first_result_s": setup_s + passes.first,
        "pass_s": passes.later_median,
        "docs_per_s": wl.n_docs / passes.later_median,
        "triple_f1": worst_f1,
    }
    return _result(attempted, failed, metrics, E2E_UNITS)


def run_traced(wl, work: str, seconds: float, t_start: float) -> dict:
    from eventlog import read_event_log_file
    from layers import PER_LAYER_UNITS, layer_metrics
    from spans import Tracer

    spark, _ = start_session(session_conf(work))
    try:
        plain = measure(wl, spark, seconds, t_start + TRACED_HALF_DEADLINE_S)
    finally:
        stop_session(spark)

    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir)
    tracer = Tracer()
    tracer.install()
    try:
        spark, _ = start_session(session_conf(work, event_dir))
        try:
            traced = measure(wl, spark, seconds, t_start + 2 * TRACED_HALF_DEADLINE_S, tracer)
            rss = peak_rss_mb(spark)
            attempted, failed, _ = check(wl, spark, [plain, traced])
        finally:
            stop_session(spark)
    finally:
        tracer.uninstall()
    (log_name,) = os.listdir(event_dir)
    events = read_event_log_file(os.path.join(event_dir, log_name))
    spans = {i: s for i, s in traced.spans.items() if i <= MIN_LATER_PASSES}
    metrics = layer_metrics(
        tracer, events, spans, wl.stage_group, traced.later_median, plain.later_median
    )
    metrics["session.peak_rss_mb"] = rss
    metrics["first_pass_s"] = plain.first
    return _result(attempted, failed, metrics, PER_LAYER_UNITS)


def _result(attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


@contextlib.contextmanager
def work_dir(name: str):
    """A private directory under ``.bench_work/`` in the checkout for the
    run's input, catalogs, Spark scratch and temp files; removed on exit.

    It replaces ``get_spark``'s default local directory on ``/dev/shm``,
    so that a run writes nothing outside its checkout.  On a disk-backed
    checkout, shuffle files, checkpoints and catalog snapshots therefore
    go to disk (through the page cache), not tmpfs."""
    work = os.path.join(ROOT, ".bench_work", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    env = {"TMPDIR": os.path.join(work, "tmp"),
           "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark_local")}
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    tempfile.tempdir = None
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def run_workload(name: str, seed: int, seconds: float, trace: int,
                 corpus: str | None = None) -> dict:
    """One run; ``corpus`` swaps in a smaller base corpus for the self-tests."""
    from workloads import WORKLOADS

    t_start = time.monotonic()
    with work_dir(name) as work:
        import snorkel_spark  # noqa: F401  fails outside a checkout of the repo

        wl = WORKLOADS[name](work, seed, corpus)
        return (run_traced if trace else run_untraced)(wl, work, seconds, t_start)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    signal.signal(signal.SIGTERM, _terminate)  # so work_dir's cleanup runs
    print(json.dumps(run_workload(args.workload, args.seed, args.seconds, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
