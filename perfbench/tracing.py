"""Spans, self time and the Spark event-log reader used by the traced run.

Pure standard library: the orchestrator and the tests import it without
Spark.

A span is one call into a layer, made from the benchmark's own code:
``(name, start, end, parent, run_id)`` with epoch-second timestamps. The
benchmark sets the Spark job group to the span's id for the span's
duration, so every job Spark runs for that call carries the id in its
``spark.jobGroup.id`` property in the event log. Jobs submitted from
threads that do not inherit the group (``SuiteResult.materialize`` counts
its two frames from a thread pool) fall back to the innermost span whose
interval contains the job's submission time.

The event log must be written uncompressed
(``spark.eventLog.compress=false``): the default zstd codec cannot be read
with the standard library.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Stage accumulables summed into each span's engine counters. Executor
# times are milliseconds; Python-worker times are milliseconds too (SQL
# timing metrics); sizes are bytes.
STAGE_COUNTERS = {
    "exec_ms": ("internal.metrics.executorRunTime",),
    "py_run_ms": ("time to run Python workers",),
    "py_bytes_in": ("data sent to Python workers",),
    "shuffle_bytes": ("internal.metrics.shuffle.write.bytesWritten",),
    "spill_bytes": (
        "internal.metrics.memoryBytesSpilled",
        "internal.metrics.diskBytesSpilled",
    ),
}


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float | None = None
    parent: str | None = None
    run_id: str = ""


@dataclass
class Tracer:
    """Records spans in memory; :meth:`dump` writes them out at the end.

    ``on_enter(span_id, name)`` / ``on_exit(parent_id, parent_name)`` are
    the job-group hooks (the worker passes ``SparkContext.setJobGroup``
    wrappers); the tests run without them.
    """

    run_id: str
    on_enter: object = None
    on_exit: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}:{len(self.spans)}:{name}",
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            run_id=self.run_id,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.on_enter:
            self.on_enter(sp.id, sp.name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.on_exit:
                self.on_exit(parent.id if parent else None, parent.name if parent else None)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part of its interval that child spans
    cover (children clipped to the parent, overlaps counted once)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, [])
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def read_event_log(path: str) -> list[dict]:
    """Events of one application: ``path`` is an uncompressed event-log
    file or a rolling ``eventlog_v2_*`` directory of ``events_*`` parts."""
    if os.path.isdir(path):
        parts = sorted(
            (p for p in os.listdir(path) if p.startswith("events_")),
            key=lambda p: int(p.split("_")[1]),
        )
        files = [os.path.join(path, p) for p in parts]
    else:
        files = [path]
    events = []
    for fp in files:
        if fp.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {fp}: set spark.eventLog.compress=false")
        with open(fp, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def attribute(events: list[dict], spans: list[Span]) -> dict[str, dict[str, float]]:
    """Span id -> engine counters of the jobs that span ran.

    A job belongs to the span named by its job group; a job without a
    known group belongs to the innermost span whose interval holds its
    submission time, or to no span. A stage belongs to the first job that
    lists it (later jobs list reused stages as skipped). Counters:
    ``jobs``, ``failed_jobs``, ``stages``, the :data:`STAGE_COUNTERS` and
    ``scan_records``: rows read by stages that scan files (a ``FileScanRDD``),
    which leaves out re-reads of cached or checkpointed blocks.
    """
    by_id = {s.id: s for s in spans}
    depth: dict[str, int] = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None and p in by_id:
            d, p = d + 1, by_id[p].parent
        depth[s.id] = d

    def innermost(t_ms: float) -> str | None:
        t = t_ms / 1000.0
        best = None
        for s in spans:
            if s.start <= t <= (s.end if s.end is not None else float("inf")):
                if best is None or depth[s.id] > depth[best]:
                    best = s.id
        return best

    job_span: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    out: dict[str, dict[str, float]] = {
        s.id: dict.fromkeys(["jobs", "failed_jobs", "stages", "scan_records", *STAGE_COUNTERS], 0.0)
        for s in spans
    }
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            sid = group if group in by_id else innermost(e.get("Submission Time", 0))
            job_span[e["Job ID"]] = sid
            for st in e.get("Stage IDs", []):
                stage_job.setdefault(st, e["Job ID"])
            if sid is not None:
                out[sid]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            sid = job_span.get(e["Job ID"])
            result = (e.get("Job Result") or {}).get("Result")
            if sid is not None and result != "JobSucceeded":
                out[sid]["failed_jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = job_span.get(stage_job.get(info["Stage ID"], -1))
            if sid is None:
                continue
            out[sid]["stages"] += 1
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            for key, names in STAGE_COUNTERS.items():
                out[sid][key] += sum(_num(acc.get(n)) for n in names)
            if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                out[sid]["scan_records"] += _num(acc.get("internal.metrics.input.recordsRead"))
    return out


def rollup(spans: list[Span], counters: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Span id -> counters of the span plus all its descendants."""
    kids: dict[str, list[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def total(sid: str) -> dict[str, float]:
        acc = dict(counters[sid])
        for k in kids.get(sid, []):
            for key, v in total(k).items():
                acc[key] += v
        return acc

    return {s.id: total(s.id) for s in spans}
