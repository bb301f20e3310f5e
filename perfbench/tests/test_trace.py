"""The event-log parser on a small recorded log, and the span tracer."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _lines():
    with open(LOG) as f:
        return f.readlines()


def test_recorded_jobs_are_attributed_to_their_spans():
    got = trace.parse_event_log(_lines())
    # the unlabelled job (no perfbench description, no stream id) is
    # attributed to no layer; the SQL event is skipped
    assert set(got) == {"snapshot_log", "curate", "stream"}
    snap = got["snapshot_log"]
    assert snap["spark_jobs"] == 1
    assert snap["tasks"] == 2
    assert snap["failed_tasks"] == 0
    assert snap["executor_run_s"] == pytest.approx(0.055)
    assert snap["executor_cpu_s"] == pytest.approx(0.049933415)
    assert snap["shuffle_write_bytes"] == 2824
    assert snap["shuffle_read_bytes"] == 971298
    assert snap["task_p50_s"] == pytest.approx(0.0385)
    assert snap["task_max_s"] == pytest.approx(0.04)
    # micro-batch jobs carry the query id, not a perfbench description
    stream = got["stream"]
    assert stream["spark_jobs"] == 1
    assert stream["tasks"] == 5
    assert stream["executor_run_s"] == pytest.approx(2.271)
    assert stream["task_max_s"] == pytest.approx(0.68)


def test_failed_tasks_are_counted():
    lines = _lines()
    i = next(k for k, l in enumerate(lines) if '"SparkListenerTaskEnd"' in l)
    ev = json.loads(lines[i])
    ev["Task Info"]["Failed"] = True
    ev["Task End Reason"] = {"Reason": "ExceptionFailure"}
    lines[i] = json.dumps(ev, separators=(",", ":")) + "\n"
    got = trace.parse_event_log(lines)
    assert sum(c["failed_tasks"] for c in got.values()) == 1


def test_layer_metrics_fill_every_layer():
    m = trace.layer_metrics(trace.parse_event_log(_lines()))
    assert len(m) == len(trace.COUNTER_LAYERS) * len(trace.COUNTERS)
    assert m["snapshot_log.tasks"] == 2
    assert m["windows.spark_jobs"] == 0


class _FakeContext:
    def __init__(self):
        self.props = {}
        self.seen = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setJobDescription(self, value):
        self.seen.append(value)
        if value is None:
            self.props.pop("spark.job.description", None)
        else:
            self.props["spark.job.description"] = value


class _Owner:
    @staticmethod
    def work(x):
        return x + 1


def test_spans_nest_set_descriptions_and_unpatch(monkeypatch):
    clock = iter([0.0, 1.0, 4.0, 10.0])
    monkeypatch.setattr(trace.time, "perf_counter", lambda: next(clock))
    sc = _FakeContext()
    tracer = trace.Tracer(sc)
    original = _Owner.work
    with tracer.span("lineage"):
        with tracer.wrapped([(_Owner, "work", "skew")]):
            assert _Owner.work(1) == 2
    assert _Owner.work is original
    assert sc.seen == ["perfbench:lineage#0", "perfbench:skew#1", "perfbench:lineage#0", None]
    assert tracer.of("skew")[0]["result"] == 2
    assert tracer.total_s("lineage") == 10.0
    assert tracer.self_s("lineage") == 7.0
