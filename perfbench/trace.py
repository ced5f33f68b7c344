"""In-memory spans around the engine's public functions.

The traced run wraps the public functions at the module attribute each
caller looks up, so the package itself is not edited:

- ``csv_ingest.read_csv`` and ``csv_ingest.write_partitioned`` (called by
  ``ingest_csv``), ``ingest_stream.write_partitioned`` (called by the
  stream's ``foreachBatch`` sink, on the stream's own thread);
- ``catalog.refresh_partitions`` and ``catalog.register_parquet_table``.

Spans are kept in memory and summarised once the run ends. The run has
one client, so at most one operation is open at a time and a span opened
on the stream's thread is parented to the span the caller waits in.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from dataclasses import dataclass

from .eventlog import EventLog
from .stats import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: int | None
    label: str = ""  # what an operation span did: "object" or "cycle"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._op: int | None = None
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._open[-1] if self._open else None
            s = Span(len(self.spans), name, time.time(), 0.0, parent, self._op)
            self.spans.append(s)
            self._open.append(s.id)
        try:
            yield s
        finally:
            with self._lock:
                s.end = time.time()
                self._open.remove(s.id)

    @contextlib.contextmanager
    def op(self, op_id: int, label: str = ""):
        """Root span of one operation; spans opened inside carry its id."""
        self._op = op_id
        try:
            with self.span("op") as s:
                s.label = label
                yield
        finally:
            self._op = None

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


class NullTracer:
    """The untraced run: spans cost one no-op context manager."""

    _NULL = contextlib.nullcontext()

    def span(self, name: str):
        return self._NULL

    def op(self, op_id: int, label: str = ""):
        return self._NULL


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Wrap the layer entry points for the duration of the block."""
    from aws_healthcare_etl_pipeline_spark.sources import catalog, csv_ingest
    from aws_healthcare_etl_pipeline_spark.streaming import ingest_stream

    targets = [
        (csv_ingest, "read_csv", "csv_ingest.read_csv"),
        (csv_ingest, "write_partitioned", "csv_ingest.write_partitioned"),
        (ingest_stream, "write_partitioned", "csv_ingest.write_partitioned"),
        (catalog, "refresh_partitions", "catalog.refresh"),
        (catalog, "register_parquet_table", "catalog.register"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for mod, attr, name in targets:
            setattr(mod, attr, tracer.wrap(name, getattr(mod, attr)))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        out[s.id] = (s.end - s.start) - union_length([k for k in kids if k[1] > k[0]])
    return out


def per_op(spans: list[Span], log: EventLog) -> list[dict]:
    """One record per operation: layer self times, span coverage and the
    Spark work (from the event log) that started inside it."""
    own = self_times(spans)
    rows = {s.id: {"op": s.op, "label": s.label, "wall_s": s.end - s.start}
            for s in spans if s.name == "op"}
    if not rows:
        raise ValueError("no operation spans recorded")
    by_id = {s.id: s for s in spans}

    def root(s: Span) -> int:
        while s.parent is not None and by_id[s.parent].name != "op":
            s = by_id[s.parent]
        return s.parent

    for s in spans:
        if s.name == "op" or s.op is None:
            continue
        row = rows[root(s)]
        row[f"{s.name}_s"] = row.get(f"{s.name}_s", 0.0) + own[s.id]
    for op_id, row in rows.items():
        o = by_id[op_id]
        kids = [(c.start, c.end) for c in spans if c.parent == op_id]
        row["trace.span_coverage"] = union_length(kids) / (o.end - o.start)
        w = log.window(o.start * 1e3, o.end * 1e3)
        row["exec.jobs"] = len(w.job_submit_ms)
        row["exec.stages"] = len(w.stage_submit_ms)
        row["exec.tasks"] = len(w.tasks)
        row["exec.task_run_ms"] = sum(t.run_ms for t in w.tasks)
        row["exec.task_cpu_ms"] = sum(t.cpu_ms for t in w.tasks)
        row["exec.gc_ms"] = sum(t.gc_ms for t in w.tasks)
        row["exec.shuffle_read_bytes"] = sum(t.shuffle_read_bytes for t in w.tasks)
        row["exec.shuffle_write_bytes"] = sum(t.shuffle_write_bytes for t in w.tasks)
        row["exec.spill_bytes"] = sum(t.spill_bytes for t in w.tasks)
        busy = union_length(
            [(max(t.launch_ms, o.start * 1e3), min(t.finish_ms, o.end * 1e3)) for t in w.tasks]
        )
        row["exec.driver_gap_s"] = row["wall_s"] - busy / 1e3
    return list(rows.values())


def summarize(rows: list[dict]) -> dict[str, float]:
    """Per-operation means of every layer metric, and the worst coverage."""
    out: dict[str, float] = {}
    for row in rows:
        for k, v in row.items():
            if k not in ("op", "label", "wall_s", "trace.span_coverage"):
                out[k] = out.get(k, 0.0) + v / len(rows)
    out["trace.span_coverage_min"] = min(r["trace.span_coverage"] for r in rows)
    return out


def repeats(rows: list[dict], keys=("exec.jobs", "exec.stages", "exec.tasks")) -> dict:
    """For each labelled operation, whether each counter read the same in
    every repetition, with the values seen."""
    seen: dict[str, dict[str, list]] = {}
    for row in rows:
        for k in keys:
            seen.setdefault(row["label"], {}).setdefault(k, []).append(row[k])
    return {
        label: {k: {"exact": len(set(v)) == 1, "values": v} for k, v in counters.items()}
        for label, counters in seen.items()
    }
