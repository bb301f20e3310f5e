"""Spans around calls into the engine's modules, and the event-log parser
that turns a traced run into per-layer counters.

A span sets the Spark job description to ``perfbench:<layer>#<span id>``
while it is open, so every Spark job started inside it (including the
broadcast and AQE sub-jobs, which inherit the caller's local properties)
carries the span in the event log. Micro-batch jobs of a streaming query
run on the query's own thread with a description of its own; the parser
attributes them by their ``sql.streaming.queryId`` property instead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict

DESC_PREFIX = "perfbench:"
STREAM_LAYER = "stream"
# layers whose Spark counters the benchmark reports
COUNTER_LAYERS = ("lineage", "skew", "windows", "asof", "curate", "snapshot_log", "stream")
COUNTERS = (
    "spark_jobs",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "fetch_wait_s",
    "spill_bytes",
    "task_p50_s",
    "task_max_s",
)


class Tracer:
    """Records spans (layer, start, end, parent) in memory."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._marks: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        prev = self.sc.getLocalProperty("spark.job.description")
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobDescription(f"{DESC_PREFIX}{layer}#{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    @contextlib.contextmanager
    def wrapped(self, targets):
        """Patch each ``(owner, attribute, layer)`` so calls run inside a
        span of that layer; the return value is kept on the span."""
        saved = []
        for owner, attr, layer in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._spanned(orig, layer))
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _spanned(self, fn, layer):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(layer) as rec:
                rec["result"] = fn(*args, **kwargs)
                return rec["result"]

        return inner

    @contextlib.contextmanager
    def marked(self, owner, attr: str, name: str):
        """Patch ``owner.attr`` to record each call's interval as a mark,
        without opening a span (jobs stay with the enclosing span)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def inner(*args, **kwargs):
            rec = {"name": name, "start": time.perf_counter(), "end": None}
            try:
                return orig(*args, **kwargs)
            finally:
                rec["end"] = time.perf_counter()
                self._marks.append(rec)

        setattr(owner, attr, inner)
        try:
            yield self
        finally:
            setattr(owner, attr, orig)

    def marks(self, name: str) -> list[dict]:
        return [m for m in self._marks if m["name"] == name]

    def of(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["layer"] == layer and s["end"] is not None]

    def total_s(self, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of(layer))

    def self_s(self, layer: str) -> float:
        """Span time of ``layer`` minus the time its child spans cover."""
        total = 0.0
        for s in self.of(layer):
            kids = [
                c["end"] - c["start"]
                for c in self.spans
                if c["parent"] == s["id"] and c["end"] is not None
            ]
            total += (s["end"] - s["start"]) - sum(kids)
        return total


_WANTED = tuple(
    f'{{"Event":"SparkListener{kind}"'
    for kind in ("JobStart", "StageSubmitted", "TaskEnd")
)


def _layer_of(props: dict) -> str | None:
    if props.get("sql.streaming.queryId"):
        return STREAM_LAYER
    desc = props.get("spark.job.description") or ""
    if desc.startswith(DESC_PREFIX):
        return desc[len(DESC_PREFIX) :].split("#", 1)[0]
    return None


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Per-layer Spark counters from event-log JSON lines.

    A job belongs to the layer of the span open when it started; a task
    belongs to the layer of its stage's submitting job (the stage's
    submission properties carry the same description)."""
    jobs: dict[str, int] = defaultdict(int)
    stage_layer: dict[int, str] = {}
    tasks: dict[str, list[dict]] = defaultdict(list)
    for line in lines:
        # skip the bulky SQL-plan events without decoding them
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = _layer_of(ev.get("Properties") or {})
            if layer:
                jobs[layer] += 1
        elif kind == "SparkListenerStageSubmitted":
            layer = _layer_of(ev.get("Properties") or {})
            if layer:
                stage_layer[ev["Stage Info"]["Stage ID"]] = layer
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev["Stage ID"])
            if layer:
                tasks[layer].append(ev)
    return {
        layer: _counters(jobs.get(layer, 0), tasks.get(layer, []))
        for layer in set(jobs) | set(tasks)
    }


def _counters(n_jobs: int, task_events: list[dict]) -> dict[str, float]:
    c = dict.fromkeys(COUNTERS, 0.0)
    c["spark_jobs"] = n_jobs
    durations = []
    for ev in task_events:
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        c["tasks"] += 1
        c["failed_tasks"] += int(bool(info.get("Failed")) or reason != "Success")
        c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        c["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        if info.get("Finish Time") and info.get("Launch Time"):
            durations.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    if durations:
        c["task_p50_s"] = statistics.median(durations)
        c["task_max_s"] = max(durations)
    return c


def layer_metrics(counters: dict[str, dict[str, float]]) -> dict[str, float]:
    """``<layer>.<counter>`` for every reported layer, 0 where a layer
    ran no Spark job in this workload."""
    out = {}
    for layer in COUNTER_LAYERS:
        got = counters.get(layer) or dict.fromkeys(COUNTERS, 0.0)
        for name in COUNTERS:
            out[f"{layer}.{name}"] = got[name]
    return out
