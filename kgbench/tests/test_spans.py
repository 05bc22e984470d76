"""Event-log folding over a recorded fixture.

``fixtures/eventlog`` is a real Spark 4.1 event log (uncompressed,
rolling layout), trimmed to the events and fields the fold reads.  It was
recorded from a ``local[2]`` session that ran four actions, each inside the
wall-clock window listed in ``fixtures/windows.json``:

- ``count``: ``spark.range(1000).count()``;
- ``shuffle``: a ``groupBy`` count (shuffle write and read);
- ``python``: a ``mapInPandas`` that sleeps 50 ms per batch (Python time);
- ``pool_thread``: a count launched from a separate thread (no job group).

Run with ``python3 -m pytest kgbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import (  # noqa: E402
    Span,
    Tracer,
    fold,
    layer_wall,
    per_layer_metrics,
    per_layer_units,
    read_event_log,
)

LOG = os.path.join(HERE, "fixtures", "eventlog")
LAYER_OF = {"count": "pages", "shuffle": "merge", "python": "extraction", "pool_thread": "graphs"}


@pytest.fixture(scope="module")
def events():
    return read_event_log(LOG)


@pytest.fixture(scope="module")
def windows():
    with open(os.path.join(HERE, "fixtures", "windows.json")) as f:
        return json.load(f)


def spans_for(windows, names):
    return [
        Span(i, w["name"], LAYER_OF[w["name"]], None, w["start"], w["end"])
        for i, w in enumerate(w for w in windows if w["name"] in names)
    ]


def tasks_by_job(events):
    """Independent of the fold: tasks grouped through the jobs' stage ids."""
    stage_job = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, e["Job ID"])
    out = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            out.setdefault(stage_job[e["Stage ID"]], []).append(e["Task Metrics"])
    return out


def test_reads_the_rolling_layout(events):
    kinds = [e["Event"] for e in events]
    assert kinds[0] == "SparkListenerLogStart"
    assert kinds.count("SparkListenerJobStart") == 4
    assert kinds.count("SparkListenerTaskEnd") == 12


def test_each_window_gets_its_job_and_tasks(events, windows):
    spans = spans_for(windows, LAYER_OF)
    folded = fold(events, spans)
    assert folded["unattributed_jobs"] == 0
    assert folded["unattributed_tasks"] == 0
    by_job = tasks_by_job(events)
    for job_id, s in enumerate(spans):  # the actions ran in window order
        acc = folded["spans"][s.id]
        metrics = by_job[job_id]
        assert acc["jobs"] == 1
        assert acc["tasks"] == len(metrics)
        assert acc["executor_s"] == pytest.approx(sum(m["Executor Run Time"] for m in metrics) / 1e3)
        assert acc["jvm_cpu_s"] == pytest.approx(sum(m["Executor CPU Time"] for m in metrics) / 1e9)
    layers = folded["layers"]
    assert layers["merge"]["shuffle_bytes"] > 0
    # the sleeping Python UDF shows as run time outside the JVM
    py = layers["extraction"]
    assert py["executor_s"] - py["jvm_cpu_s"] >= 0.09


def test_jobs_outside_every_span_are_counted(events, windows):
    spans = spans_for(windows, {"count", "shuffle", "python"})
    folded = fold(events, spans)
    assert folded["unattributed_jobs"] == 1
    assert folded["unattributed_tasks"] == len(tasks_by_job(events)[3])
    assert "graphs" not in folded["layers"]


def test_innermost_span_wins_and_wall_counts_outer_spans_once(events, windows):
    first, last = windows[0]["start"], windows[-1]["end"]
    outer = Span(0, "bench.all", None, None, first - 1, last + 1)
    inner = Span(1, "merge.outer", "merge", 0, windows[1]["start"] - 0.05, windows[1]["end"] + 0.05)
    nested = Span(2, "merge.inner", "merge", 1, windows[1]["start"], windows[1]["end"])
    folded = fold(events, [outer, inner, nested])
    assert folded["unattributed_jobs"] == 0
    assert folded["spans"][2]["jobs"] == 1  # the shuffle job goes to the innermost span
    assert folded["spans"][0]["jobs"] == 3
    assert set(folded["layers"]) == {"merge"}  # spans without a layer roll up nowhere
    assert layer_wall([outer, inner, nested]) == {"merge": pytest.approx(inner.end - inner.start)}


def test_per_layer_metrics_names_every_metric(events, windows):
    spans = spans_for(windows, LAYER_OF)
    counts = {"query_data.questions": 0, "merge.rows_in": 30, "merge.keys_out": 10}
    values = per_layer_metrics(fold(events, spans), spans, counts, cores=2)
    assert set(values) == set(per_layer_units())
    assert len(values) == 107
    assert values["merge.fanin"] == 3
    assert values["merge.jobs"] == 1
    assert values["query_data.jobs"] == 0  # not exercised: zeros
    w = values["extraction.wall_s"]
    assert values["extraction.core_idle_frac"] == pytest.approx(1 - values["extraction.executor_s"] / (2 * w))


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", "pages"):
        tr.count("chunking.chunks_out", 3)
    assert tr.spans == [] and tr.counts == {}
    on = Tracer(enabled=True)
    with on.span("outer"):
        assert on.call("pages", len, [1, 2]) == 2
    assert [(s.name, s.parent) for s in on.spans] == [("outer", None), ("pages.len", 0)]
