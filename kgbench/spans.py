"""Spans around layer calls, and the fold of Spark's event log into
per-layer metrics.

A span is (id, name, layer, parent, start, end) with wall-clock seconds
(``time.time()``, the same clock Spark stamps its events with).  Spans live
in memory and are written out once, when the run ends.

Folding: every Spark job is attributed to the innermost span whose window
holds the job's submission time, and every task to the innermost span
whose window holds the task's launch time.  Time windows, not job groups,
because jobs launched from pool threads (``checkpoint_concurrently``)
carry no job group.  A job or task outside every span is counted as
unattributed.  Each span's jobs and tasks then roll up to the span's
layer; spans without a layer (set-up, checks) only serve attribution.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# layer -> module; the order is the order of the mapping page
LAYERS = {
    "pages": "sources.pages",
    "chunking": "operators.chunking",
    "extraction": "operators.extraction",
    "merge": "operators.merge",
    "summary": "operators.summary",
    "graphs": "operators.graphs",
    "datapipe": "operators.datapipe",
    "query_data": "plans.query_data",
    "batch_query": "plans.batch_query",
    "kg_ingest": "streaming.kg_ingest",
    "explorer": "operators.explorer",
}
BASE_METRICS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_s", "s"),
    ("python_s", "s"),
    ("core_idle_frac", "ratio"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
# layer-specific counts: name -> unit
EXTRA_METRICS = {
    "chunking.chunks_out": "count",
    "extraction.records_out": "count",
    "extraction.model_calls": "count",
    "merge.fanin": "ratio",
    "merge.stored_partitions": "count",
    "graphs.pagerank_s": "s",
    "graphs.ppr_s": "s",
    "graphs.lpa_s": "s",
    "graphs.cc_s": "s",
    "graphs.triangles_s": "s",
    "graphs.cc_rounds": "count",
    "datapipe.bm25_s": "s",
    "datapipe.ql_s": "s",
    "query_data.jobs_per_query": "count",
    "query_data.input_rows_per_query": "count",
    "batch_query.questions_per_s": "1/s",
    "kg_ingest.write_amp": "ratio",
    "kg_ingest.graph_bytes": "bytes",
    "explorer.jobs_per_read": "count",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in mapping-page order."""
    out = {}
    for layer in LAYERS:
        for m, unit in BASE_METRICS:
            out[f"{layer}.{m}"] = unit
        out.update({k: u for k, u in EXTRA_METRICS.items() if k.startswith(layer + ".")})
    return out


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    apart from running the wrapped code."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, layer, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    def call(self, layer: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named after it, in ``layer``."""
        with self.span(f"{layer}.{fn.__name__}", layer):
            return fn(*args, **kwargs)

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to a layer counter (recorded in traced runs only)."""
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], "counts": self.counts}, f)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application under ``log_dir``, in order.
    Handles both the rolling layout (``eventlog_v2_*/events_<n>_*``) and a
    single plain file.  The log must be uncompressed."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if n.startswith(("appstatus_", ".")) or n.endswith(".crc"):
                continue
            files.append(os.path.join(root, n))

    def order(p):
        base = os.path.basename(p)
        parts = base.split("_")
        return (os.path.dirname(p), int(parts[1]) if base.startswith("events_") else 0)

    events = []
    for p in sorted(files, key=order):
        with open(p, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span whose window holds ``t``.  Spark stamps
    events in whole milliseconds, so windows get 1 ms of slack."""
    best = None
    for s in spans:
        if s.start - 1e-3 <= t <= s.end + 1e-3 and (best is None or s.start >= best.start):
            best = s
    return best


def fold(events: list[dict], spans: list[Span]) -> dict:
    """Attribute jobs and tasks to spans; return per-layer sums plus the
    unattributed job and task counts.

    Result: {"layers": {layer: {jobs, tasks, executor_s, jvm_cpu_s,
    shuffle_bytes, spill_bytes, input_rows}}, "spans": {span_id: same},
    "unattributed_jobs": n, "unattributed_tasks": n}.
    """
    zero = lambda: {  # noqa: E731
        "jobs": 0, "tasks": 0, "executor_s": 0.0, "jvm_cpu_s": 0.0,
        "shuffle_bytes": 0, "spill_bytes": 0, "input_rows": 0,
    }
    by_span: dict[int, dict] = {}
    unattributed_jobs = unattributed_tasks = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            s = _innermost(spans, ev["Submission Time"] / 1000.0)
            if s is None:
                unattributed_jobs += 1
                continue
            by_span.setdefault(s.id, zero())["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            s = _innermost(spans, info.get("Launch Time", 0) / 1000.0)
            if s is None:
                unattributed_tasks += 1
                continue
            acc = by_span.setdefault(s.id, zero())
            acc["tasks"] += 1
            acc["executor_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_bytes"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    layers: dict[str, dict] = {}
    for sid, acc in by_span.items():
        layer = spans[sid].layer
        if layer is None:
            continue
        tot = layers.setdefault(layer, zero())
        for k, v in acc.items():
            tot[k] += v
    return {
        "layers": layers,
        "spans": by_span,
        "unattributed_jobs": unattributed_jobs,
        "unattributed_tasks": unattributed_tasks,
    }


def layer_wall(spans: list[Span]) -> dict[str, float]:
    """Time inside each layer's calls: the summed duration of its spans
    that are not nested inside another span of the same layer."""
    by_id = {s.id: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        if s.layer is None:
            continue
        p = s.parent
        nested = False
        while p is not None:
            if by_id[p].layer == s.layer:
                nested = True
                break
            p = by_id[p].parent
        if not nested:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start)
    return out


def per_layer_metrics(folded: dict, spans: list[Span], counts: dict, cores: int) -> dict:
    """The per-layer metric values (every name of ``per_layer_units``);
    a layer the run did not exercise reports zeros."""
    wall = layer_wall(spans)
    out: dict[str, float] = {}
    for layer in LAYERS:
        acc = folded["layers"].get(layer, {})
        w = wall.get(layer, 0.0)
        ex = acc.get("executor_s", 0.0)
        out[f"{layer}.wall_s"] = w
        out[f"{layer}.jobs"] = acc.get("jobs", 0)
        out[f"{layer}.tasks"] = acc.get("tasks", 0)
        out[f"{layer}.executor_s"] = ex
        out[f"{layer}.python_s"] = max(0.0, ex - acc.get("jvm_cpu_s", 0.0))
        out[f"{layer}.core_idle_frac"] = (1.0 - ex / (w * cores)) if w > 0 else 0.0
        out[f"{layer}.shuffle_bytes"] = acc.get("shuffle_bytes", 0)
        out[f"{layer}.spill_bytes"] = acc.get("spill_bytes", 0)
    for name in EXTRA_METRICS:
        out[name] = counts.get(name, 0)

    # ratios, each over the base its layer counted
    def ratio(name, num, den):
        if den:
            out[name] = num / den

    layers = folded["layers"]
    q = counts.get("query_data.questions", 0)
    ratio("query_data.jobs_per_query", layers.get("query_data", {}).get("jobs", 0), q)
    ratio("query_data.input_rows_per_query", layers.get("query_data", {}).get("input_rows", 0), q)
    ratio("explorer.jobs_per_read", layers.get("explorer", {}).get("jobs", 0), counts.get("explorer.reads", 0))
    ratio("batch_query.questions_per_s", counts.get("batch_query.questions", 0), wall.get("batch_query", 0))
    ratio("merge.fanin", counts.get("merge.rows_in", 0), counts.get("merge.keys_out", 0))
    ratio("kg_ingest.write_amp", counts.get("kg_ingest.bytes_written", 0), counts.get("kg_ingest.bytes_in", 0))
    return out
