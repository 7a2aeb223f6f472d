"""Spans, Spark event-log attribution and streaming progress for the
traced run.

A span covers one call into a layer. Before the call the span id becomes the
Spark job group, so every job the call fires carries it in the event log and
its stages can be charged to the span. Spans stay in memory and are written
out at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1 << 20


@dataclass
class Span:
    span_id: str
    name: str
    parent: str | None
    trace_id: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; always times them.

    ``span()`` yields the :class:`Span`, so callers read ``.duration`` for
    end-to-end metrics in both modes. Disabled, it records nothing and does
    not touch the job group.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # SparkContext whose job group tracks the span stack
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._trace_id = "setup"

    def new_trace(self, trace_id: str) -> None:
        """Spans opened from now on belong to one workload pass."""
        self._trace_id = trace_id

    def _set_group(self, span: Span | None) -> None:
        if not (self.enabled and self.sc is not None):
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{next(self._ids)}-{name}", name, parent.span_id if parent else None,
                 self._trace_id, time.time())
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s)
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()
                self._set_group(parent)

    def add(self, name: str, start: float, end: float, parent: str | None,
            **attrs) -> Span:
        """A span measured elsewhere (a streaming trigger's progress)."""
        s = Span(f"s{next(self._ids)}-{name}", name, parent, self._trace_id,
                 start, end, attrs)
        if self.enabled:
            self.spans.append(s)
        return s

    def children(self, span_id: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def subtree(self, span_id: str) -> set[str]:
        ids, frontier = {span_id}, [span_id]
        while frontier:
            kids = [s.span_id for s in self.spans if s.parent in frontier]
            ids.update(kids)
            frontier = kids
        return ids

    def coverage(self, span: Span) -> float:
        """Share of ``span``'s wall time covered by its children: 1 minus
        the span's self time over its duration."""
        covered = sum(c.duration for c in self.children(span.span_id))
        return covered / span.duration if span.duration > 0 else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / MB),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / MB),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / MB),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1 / MB),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / MB),
    "data sent to Python workers": ("python_in_mb", 1 / MB),
    "data returned from Python workers": ("python_out_mb", 1 / MB),
}
LAYER_FIELDS = sorted({v[0] for v in STAGE_METRICS.values()})


@dataclass
class Job:
    group: str | None  # the span id that was the job group, if any
    stages: list  # stage ids


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, dict]]:
    """Jobs (with group and stage ids) and per-stage metric totals from the
    JSON event log(s) in ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(props.get("spark.jobGroup.id"), ev["Stage IDs"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = dict.fromkeys(LAYER_FIELDS, 0.0)
                    for acc in info.get("Accumulables", []):
                        spec = STAGE_METRICS.get(acc.get("Name"))
                        if spec:
                            m[spec[0]] += _num(acc.get("Value")) * spec[1]
                    # a retried stage is charged once per attempt
                    prev = stages.get(info["Stage ID"])
                    stages[info["Stage ID"]] = (
                        {k: prev[k] + m[k] for k in m} if prev else m)
    return jobs, stages


def attribute(jobs: dict[int, Job], stages: dict[int, dict],
              groups: set[str]) -> dict:
    """Job, stage and stage-metric totals over jobs whose group is in
    ``groups``. Stages skipped because their shuffle output was reused never
    complete and are not counted."""
    out = dict.fromkeys(LAYER_FIELDS, 0.0)
    out["jobs"] = 0
    out["stages"] = 0
    for j in jobs.values():
        if j.group not in groups:
            continue
        out["jobs"] += 1
        for sid in j.stages:
            m = stages.get(sid)
            if m is None:
                continue
            out["stages"] += 1
            for k, v in m.items():
                out[k] += v
    return out


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------
def _epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC with milliseconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


@dataclass
class Trigger:
    batch_id: int
    start: float
    duration_ms: dict
    input_rows: int
    state_rows: int
    state_memory_bytes: int
    state_commit_ms: float

    @property
    def end(self) -> float:
        return self.start + self.duration_ms.get("triggerExecution", 0) / 1000


def triggers(progress: list[dict]) -> list[Trigger]:
    out = []
    for p in progress:
        ops = p.get("stateOperators") or []
        out.append(Trigger(
            p["batchId"], _epoch(p["timestamp"]), p.get("durationMs") or {},
            int(p.get("numInputRows") or 0),
            sum(int(o.get("numRowsTotal") or 0) for o in ops),
            sum(int(o.get("memoryUsedBytes") or 0) for o in ops),
            sum(float(o.get("commitTimeMs") or 0) for o in ops),
        ))
    return out


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default
