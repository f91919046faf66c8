"""Tracing for the benchmark's traced run.

Two sources, both recorded from the benchmark's own code:

* **Spans** around every call into a layer (name, start, end, parent,
  run id), kept in memory and written out when the run ends. A span's
  self time is its duration minus the part covered by its children.
* **Spark's event log**, enabled only in the traced run. Each span tags
  the jobs it starts with a job group ``<run id>/<span id>``, so the
  parser can charge every job, stage and task to the innermost layer
  that launched it. Streaming queries tag their own jobs with the
  query's run id; :meth:`Tracer.alias_group` maps that to a layer.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# The package modules the benchmark attributes work to.
LAYERS = (
    "session",
    "sources.io",
    "plans.yelp_flow",
    "functions.text",
    "ml.pipeline",
    "streaming.scoring",
    "operators.table_format",
    "operators.ivm",
    "operators.dedup",
)

ENGINE_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_ms", "task_skew",
)


class Tracer:
    """Span recorder. Disabled, it only yields: untraced runs pay
    nothing but a context-manager call."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False  # switched on for the measured window of a traced run
        self.sc = None  # set once the session has started
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.group_layer: dict[str, str] = {}

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "layer": layer, "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"{self.run_id}/{sid}"
        self.group_layer[group] = layer
        if self.sc is not None:
            self.sc.setJobGroup(group, f"{layer}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(f"{self.run_id}/{self._stack[-1]}",
                                        self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def alias_group(self, group: str, layer: str) -> None:
        """Charge jobs of an externally named job group to ``layer``."""
        self.group_layer[group] = layer

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out = dict.fromkeys(LAYERS, 0.0)
    for s in spans:
        out[s["layer"]] += st[s["id"]]
    return out


def parse_event_log(lines, group_layer: dict[str, str], *,
                    since_ms: float = 0.0) -> dict[str, dict]:
    """Engine counters per layer from Spark event-log lines.

    Jobs are charged by their ``spark.jobGroup.id``; stages and tasks
    follow their job. Work whose group maps to no layer is dropped.
    ``task_skew`` is max/median task run time in the layer's largest
    stage (by summed task time). Jobs submitted before ``since_ms``
    (epoch milliseconds) are skipped.
    """
    stage_layer: dict[int, str] = {}
    out = {layer: dict.fromkeys(ENGINE_COUNTERS, 0) for layer in LAYERS}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            layer = group_layer.get(group)
            if layer is None or ev.get("Submission Time", 0) < since_ms:
                continue
            out[layer]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev.get("Stage ID"))
            if layer is None:
                continue
            m = ev.get("Task Metrics") or {}
            c = out[layer]
            c["tasks"] += 1
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            stage_tasks[ev["Stage ID"]].append(m.get("Executor Run Time", 0))
    largest: dict[str, tuple[float, int]] = {}
    for sid, times in stage_tasks.items():
        layer = stage_layer[sid]
        out[layer]["stages"] += 1
        total = sum(times)
        if layer not in largest or total > largest[layer][0]:
            largest[layer] = (total, sid)
    for layer, (_total, sid) in largest.items():
        times = stage_tasks[sid]
        med = statistics.median(times)
        out[layer]["task_skew"] = max(times) / med if med > 0 else 1.0
    return out
