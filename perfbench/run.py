"""Benchmark entry point.

    python3 perfbench/run.py --workload review_batch --seed 1 --seconds 10 --trace 0

Runs one workload against the package in the checkout this file sits
in, checks every operation's output, and prints as its last line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics
of a traced run (spans plus Spark's event log), including the tracing
overhead against correct untraced runs of the same code and seed:
those recorded earlier in the checkout, or else one the traced run
starts first.

Everything a run writes stays in the checkout root: ``.perfbench_work/``
(removed at exit) and ``.perfbench_build/`` (kept, and keyed by a hash
of the package's and the benchmark's files: the stream workload's
deployed model, the correct untraced runs' end-to-end metrics, the
traced runs' spans).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark"
WORKLOADS = ("review_batch", "review_stream", "review_lakehouse")
DRIVER_MEMORY = "2g"
UNTRACED_TIMEOUT_S = 120  # an untraced run a traced run starts as its baseline


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the engine writes inside the checkout, and size
    the engine to the cores this process may use."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def spark_conf(work: str, *, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap size keeps resident memory from following the
        # collector's resizing decisions, which vary run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def jvm_peak_rss_kb() -> int:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is None:
        return 0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def shutdown_engine() -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        traceback.print_exc()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def make_workload(name: str, work: str, seed: int, build: str):
    if name == "review_batch":
        from batch import ReviewBatch

        return ReviewBatch(work, seed)
    if name == "review_stream":
        from stream import ReviewStream

        return ReviewStream(work, seed, build)
    from lakehouse import ReviewLakehouse

    return ReviewLakehouse(work, seed)


def measure(args, work: str, build: str):
    """Inputs, session, preparation, warm-up, measured window, checks."""
    from core import Phase

    marks = [time.perf_counter()]
    wl = make_workload(args.workload, work, args.seed, build)
    marks.append(time.perf_counter())
    ph = Phase(args.workload, traced=bool(args.trace),
               conf=spark_conf(work, event_log=bool(args.trace)))
    ph.start_session()
    marks.append(time.perf_counter())
    wl.prepare(ph)
    marks.append(time.perf_counter())
    wl.warm_up(ph)
    marks.append(time.perf_counter())
    ph.begin_measure()
    wl.measure(ph, args.seconds)
    ph.tracer.enabled = False
    marks.append(time.perf_counter())
    ph.values.update(wl.layer_values(ph))
    names = ("inputs", "session", "prepare", "warm_up", "measure_and_check")
    ph.notes["phase_s"] = {n: round(marks[i + 1] - marks[i], 2) for i, n in enumerate(names)}
    return ph


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    build = os.path.join(ROOT, ".perfbench_build")
    os.makedirs(build, exist_ok=True)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import core
    except ImportError:
        traceback.print_exc()
        return 2
    history = os.path.join(build, f"untraced_{args.workload}.jsonl")
    key = {"code": core.code_hash(), "seed": args.seed}
    if args.trace:
        untraced = _untraced_baseline(args, history, key)
        if not untraced:
            print("no correct untraced run of this code and seed to compare with",
                  file=sys.stderr)
            return 1
    _prepare_env(work)
    try:
        ph = measure(args, work, build)
        correct = ph.correct and ph.failed == 0
        if args.trace:
            ph.spark.stop()  # flushes the event log
            metrics = core.per_layer(ph, os.path.join(work, "eventlog"), untraced)
            ph.tracer.write(os.path.join(build, f"spans_{args.workload}_{args.seed}.jsonl"))
        else:
            metrics = core.end_to_end(ph)
            rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_peak_rss_kb()
            metrics["peak_rss_mb"] = core.metric(rss_kb / 1024.0, "MB")
            if correct:
                with open(history, "a") as f:
                    f.write(json.dumps({**key, "metrics": {
                        k: v["value"] for k, v in metrics.items()}}) + "\n")
    finally:
        shutdown_engine()
        shutil.rmtree(work, ignore_errors=True)
    summary = {
        "workload": args.workload, "seed": args.seed,
        "failed_ops_ratio": ph.failed / max(1, ph.attempted),
        "notes": ph.notes,
    }
    print("summary " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ph.attempted),
        "failed": ph.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _read_history(path: str, key: dict) -> list[dict]:
    """End-to-end metrics of earlier correct untraced runs in this
    checkout with the code and seed in ``key``."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    return [r["metrics"] for r in recs
            if (r.get("code"), r.get("seed")) == (key["code"], key["seed"])]


def _untraced_baseline(args, history: str, key: dict) -> list[dict]:
    """Untraced runs to measure the tracing overhead against: those
    recorded for this code and seed, or else one run now, in a child
    process, before this run starts its own engine."""
    found = _read_history(history, key)
    if found:
        return found
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    try:
        code = subprocess.run(cmd, stdout=subprocess.DEVNULL,
                              timeout=UNTRACED_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        code = "a timeout"
    if code != 0:
        print(f"the untraced run ended with {code}", file=sys.stderr)
    return _read_history(history, key)


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"run took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
