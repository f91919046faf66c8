"""Shared machinery of the benchmark: one measured phase (a Spark
session's worth of a workload), the end-to-end and per-layer metric
tables, and small helpers the workloads share."""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager
from importlib import import_module

import stats
import trace

PKG = "sentiment_analysis_of_reviews_with_spark_ml_and_spark_streaming_spark"
PREP_REPEATS = 3  # program preparation repeated per run; the median counts
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 150


def pkg(module: str):
    """A module of the package under test."""
    return import_module(f"{PKG}.{module}")


def code_hash() -> str:
    """Hash of the package's and the benchmark's files: the key of
    everything a run keeps for later runs, so that nothing one version
    of the code built or measured is used by another."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PKG), HERE):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for fn in sorted(files):
                path = os.path.join(d, fn)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def run_child(*args: str) -> str:
    """Run ``perfbench/child.py`` with ``args`` in a short-lived process
    and return its standard output; raise if it fails."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "child.py"), *args],
        stdout=subprocess.PIPE, timeout=CHILD_TIMEOUT_S, check=True, text=True)
    return proc.stdout


def metric(value, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def ms(seconds: float) -> float:
    return seconds * 1000.0


class Phase:
    """State of one measured session: timings of every layer call,
    operation latencies, and check outcomes."""

    def __init__(self, workload: str, *, traced: bool, conf: dict):
        self.workload = workload
        self.traced = traced
        self.conf = conf
        self.spark = None
        self.tracer = trace.Tracer(workload)
        self.timings: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.op_ms: list[float] = []
        self.n_ops = 0  # operations the per-layer counters are divided by
        self.rows = 0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.measure_since_ms = 0.0
        self.start_s = 0.0
        self.prep_s: list[float] = []
        self.notes: dict = {}

    @contextmanager
    def call(self, layer: str, name: str):
        """Time a call into ``layer`` and open a span for it."""
        t0 = time.perf_counter()
        with self.tracer.span(layer, name):
            yield
        self.timings.setdefault(f"{layer}:{name}", []).append(time.perf_counter() - t0)

    def check(self, ok: bool, what: str, n: int = 1) -> None:
        """Count ``n`` checked operations; all of them fail unless ``ok``."""
        self.attempted += n
        if not ok:
            print(f"check failed: {what}", file=sys.stderr)
            self.failed += n
            self.correct = False

    def start_session(self) -> None:
        session = pkg("session")
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.workload}", extra_conf=self.conf)
        session.ensure_worker_imports(self.spark)
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext

    def begin_measure(self) -> None:
        """Forget warm-up timings and start tracing (traced runs only)."""
        self.tracer.enabled = self.traced
        self.timings = {k: v for k, v in self.timings.items() if k.endswith(":load")}
        self.measure_since_ms = time.time() * 1000.0


def median_ms(timings: dict, key: str) -> float:
    return ms(stats.median(timings[key])) if timings.get(key) else 0.0


def tail_ms(timings: dict, key: str) -> float:
    return ms(stats.tail(timings[key])["value"]) if timings.get(key) else 0.0


# --- streaming helpers ------------------------------------------------------------


def progress(q) -> list[dict]:
    """The query's recent StreamingQueryProgress records as dicts."""
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


def iso_ms(ts: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def rate_start_ms(checkpoint: str) -> float:
    """The rate source's start time, which it records in the query's
    checkpoint as offset 0 of its metadata log."""
    with open(os.path.join(checkpoint, "sources", "0", "0")) as f:
        return float(f.read().split()[-1])


def stop_between_batches(q, timeout_s: float = 30.0) -> None:
    """Stop a query while no trigger is running: stopping a saturated
    mid-flight batch can kill the stream thread with an error that is an
    artifact of the stop, not a failed operation."""
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline and q.status["isTriggerActive"]:
        time.sleep(0.002)
    q.stop()


def tree_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for fn in files:
            total += os.path.getsize(os.path.join(d, fn))
    return total


# --- metric tables -------------------------------------------------------------------

PER_LAYER_SPECIFIC = {
    "session.start_s": "s",
    "sources.io.read_s": "s",
    "sources.io.rows_in": "rows",
    "sources.io.rows_quarantined": "rows",
    "plans.yelp_flow.preprocess_s": "s",
    "plans.yelp_flow.eda_s": "s",
    "functions.text.vader_s": "s",
    "ml.pipeline.deploy_s": "s",
    "ml.pipeline.load_s": "s",
    "ml.pipeline.vocab_size": "count",
    "ml.pipeline.f1": "ratio",
    "streaming.scoring.trigger_ms_p50": "ms",
    "streaming.scoring.trigger_ms_tail": "ms",
    "streaming.scoring.add_batch_ms_p50": "ms",
    "streaming.scoring.planning_ms_p50": "ms",
    "streaming.scoring.wal_commit_ms_p50": "ms",
    "streaming.scoring.backlog_rows_max": "rows",
    "streaming.scoring.generator_lag_ms": "ms",
    "streaming.scoring.batches": "count",
    "streaming.scoring.state_rows": "rows",
    "streaming.scoring.rows_dropped_by_watermark": "rows",
    "operators.table_format.commit_ms_p50": "ms",
    "operators.table_format.merge_ms_p50": "ms",
    "operators.table_format.merge_ms_tail": "ms",
    "operators.table_format.compact_ms": "ms",
    "operators.table_format.read_ms_p50": "ms",
    "operators.table_format.read_ms_tail": "ms",
    "operators.table_format.write_amp": "ratio",
    "operators.table_format.files_live": "count",
    "operators.table_format.dv_rows_live": "rows",
    "operators.table_format.log_bytes": "bytes",
    "operators.table_format.versions": "count",
    "operators.ivm.refresh_ms_p50": "ms",
    "operators.ivm.refresh_ms_tail": "ms",
    "operators.ivm.view_files_rewritten": "count",
    "operators.dedup.near_dup_s": "s",
    "operators.dedup.cluster_s": "s",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.clusters": "count",
    "operators.dedup.recall": "ratio",
}
COUNTER_UNITS = {
    "self_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "gc_ms": "ms", "task_skew": "ratio",
}
TRACE_METRICS = {
    "trace.overhead_p50_pct": "%",
    "trace.overhead_tail_pct": "%",
    "trace.untraced_runs": "count",
    "trace.spans": "count",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = dict(PER_LAYER_SPECIFIC)
    for layer in trace.LAYERS:
        for c, unit in COUNTER_UNITS.items():
            out[f"{layer}.{c}"] = unit
    out.update(TRACE_METRICS)
    return out


def end_to_end(ph: Phase) -> dict:
    """The metrics every workload reports, except ``peak_rss_mb``, which
    the caller adds because it owns the processes."""
    if not ph.op_ms:
        raise RuntimeError("no operation completed inside the measured window")
    tl = stats.tail(ph.op_ms)
    ph.notes["op_tail"] = {"p": tl["p"], "n": tl["n"]}
    prep = stats.median(ph.prep_s) if ph.prep_s else 0.0
    return {
        "setup_s": metric(ph.start_s + prep, "s"),
        "op_p50_ms": metric(stats.median(ph.op_ms), "ms"),
        "op_tail_ms": metric(tl["value"], "ms"),
        "rows_per_s": metric(ph.rows / ph.busy_s, "rows/s"),
    }


def per_layer(ph: Phase, eventlog_dir: str, untraced: list[dict]) -> dict:
    """Per-layer metrics of a traced phase. Self time and engine
    counters are per operation (batch job, micro-batch or lakehouse
    step); ``task_skew`` is not averaged. Tracing overhead compares this
    run's end-to-end latencies with the median of ``untraced`` runs."""
    n_ops = max(1, ph.n_ops)
    lines = []
    for d, _dirs, files in sorted(os.walk(eventlog_dir)):
        for fn in sorted(files):
            with open(os.path.join(d, fn)) as f:
                lines.extend(line for line in f if line.startswith("{"))
    counters = trace.parse_event_log(lines, ph.tracer.group_layer,
                                     since_ms=ph.measure_since_ms)
    self_s = trace.layer_self_seconds(ph.tracer.spans)
    vals = dict(ph.values)
    vals["session.start_s"] = ph.start_s
    if ph.timings.get("ml.pipeline:load"):
        vals["ml.pipeline.load_s"] = stats.median(ph.timings["ml.pipeline:load"])
    for layer in trace.LAYERS:
        # a workload that runs a layer outside spans reports its own
        vals.setdefault(f"{layer}.self_s", self_s[layer] / n_ops)
        for c in trace.ENGINE_COUNTERS:
            v = counters[layer][c]
            vals[f"{layer}.{c}"] = v if c == "task_skew" else v / n_ops
    e2e = end_to_end(ph)
    vals["trace.untraced_runs"] = len(untraced)
    vals["trace.spans"] = len(ph.tracer.spans)
    for k in ("p50", "tail"):
        base = [u[f"op_{k}_ms"] for u in untraced if f"op_{k}_ms" in u]
        if base:
            b = stats.median(base)
            vals[f"trace.overhead_{k}_pct"] = (e2e[f"op_{k}_ms"]["value"] - b) / b * 100.0
    ph.notes["traced_end_to_end"] = {k: v["value"] for k, v in e2e.items()}
    return {name: metric(vals.get(name, 0.0), unit)
            for name, unit in per_layer_names().items()}
