"""Spans around calls into the engine, attributed to Spark work.

A span is one call into a layer's public function. While it is open,
its id is the thread's Spark job group, so every job (and every stage)
the call fires carries the span id in the event log. After the session
stops, :func:`read_event_log` decodes the zstd event log offline with
``pyarrow`` and :func:`attribute` charges each job and task to its span.

Self ("driver") time of a span is its wall time minus the part of it
that its own jobs, and those of its child spans, cover.
"""

from __future__ import annotations

import functools
import glob
import json
import time
from dataclasses import dataclass, field

import pyarrow as pa


@dataclass
class Span:
    sid: str
    layer: str
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0
    jobs: list[tuple[float, float]] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans; with ``enabled`` False every wrapper is a plain call."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.sid, f"{span.layer}:{span.name}")

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        parent = self._stack[-1] if self._stack else None
        span = Span(f"pb{len(self.spans)}", layer, name,
                    parent.sid if parent else None, time.time() * 1000)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        try:
            return fn(*args, **kwargs)
        finally:
            span.end_ms = time.time() * 1000
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None):
        """Replace ``owner.attr`` by a traced wrapper; returns an undo."""
        original = getattr(owner, attr)
        label = name or attr

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(layer, label, original, *args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, finished) application log in ``log_dir``."""
    paths = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    path = paths[0]
    compression = "zstd" if path.endswith(".zstd") else None
    with pa.input_stream(path, compression=compression) as f:
        return [json.loads(line) for line in f.read().decode().splitlines() if line]


_TASK_FIELDS = {
    "task_s": lambda m: m.get("Executor Run Time", 0) / 1000,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1000,
    "input_bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
    "input_rows": lambda m: m.get("Input Metrics", {}).get("Records Read", 0),
    "shuffle_read_bytes": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ),
    "shuffle_write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
    "spill_bytes": lambda m: m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    "output_bytes": lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0),
    "output_rows": lambda m: m.get("Output Metrics", {}).get("Records Written", 0),
}


def _scan_kind(stage_info: dict) -> str:
    """``csv``, ``parquet`` or ``other``: which file scan a stage runs."""
    kinds = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope", "")
        if "Scan csv" in scope:
            kinds.add("csv")
        elif "Scan parquet" in scope:
            kinds.add("parquet")
    return kinds.pop() if len(kinds) == 1 else "other"


def attribute(spans: list[Span], events: list[dict]) -> None:
    """Charge jobs and task metrics to the span whose group fired them.

    Adds to ``span.counters``: ``jobs`` and every ``_TASK_FIELDS`` key,
    plus ``csv_*`` / ``parquet_*`` input counters for stages that scan
    only one of those formats.
    """
    by_id = {s.sid: s for s in spans}
    job_start: dict[int, tuple[str, float]] = {}
    stage_group: dict[int, str] = {}
    stage_kind: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_start[ev["Job ID"]] = (group, ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            group, t0 = job_start.get(ev["Job ID"], (None, 0))
            if group in by_id:
                by_id[group].jobs.append((t0, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            stage_kind[info["Stage ID"]] = _scan_kind(info)
        elif kind == "SparkListenerTaskEnd":
            span = by_id.get(stage_group.get(ev["Stage ID"]))
            metrics = ev.get("Task Metrics")
            if span is None or not metrics:
                continue
            c = span.counters
            for key, get in _TASK_FIELDS.items():
                c[key] = c.get(key, 0) + get(metrics)
            scan = stage_kind.get(ev["Stage ID"])
            if scan in ("csv", "parquet"):
                for key in ("input_bytes", "input_rows", "task_s"):
                    c[f"{scan}_{key}"] = c.get(f"{scan}_{key}", 0) + _TASK_FIELDS[key](metrics)
    for span in spans:
        span.counters["jobs"] = len(span.jobs)


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def rollup(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span id: wall_s, self (driver) seconds and counters including
    those of descendant spans."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in children.get(s.sid, []):
            out.extend(subtree(c))
        return out

    result = {}
    for s in spans:
        tree = subtree(s)
        jobs = [j for t in tree for j in t.jobs]
        totals: dict[str, float] = {}
        for t in tree:
            for k, v in t.counters.items():
                totals[k] = totals.get(k, 0) + v
        wall = s.end_ms - s.start_ms
        totals["wall_s"] = wall / 1000
        totals["driver_s"] = (wall - _covered_ms(jobs, s.start_ms, s.end_ms)) / 1000
        result[s.sid] = totals
    return result
