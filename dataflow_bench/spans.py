"""Span recorder, Spark job-group tagging and event-log reader for the
traced run.

Spans are taken from outside the engine: ``Tracer.wrap`` replaces an
instance method or a module attribute with a wrapper that opens a span,
tags every Spark job started inside it with a job group of its own,
and restores the parent's group on exit. After the session stops, the
event log (uncompressed JSON lines) attributes each job, and the task
metrics of its stages, to the span whose group it carried.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "dfb-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Keeps spans in memory; one client thread only."""

    def __init__(self):
        self.sc = None  # set_session(); spans opened before it carry no job group
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.phase = "setup"
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.sid}", span.name)

    def open(self, name: str, **attrs) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), name, parent.sid if parent else None,
                    self.phase, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self.stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._set_group(self.stack[-1] if self.stack else None)

    def call(self, name: str, fn, *args, **kwargs):
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        except BaseException as e:
            span.attrs["error"] = type(e).__name__
            raise
        finally:
            self.close(span)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (an instance or a module) with a
        traced wrapper; ``unwrap_all`` puts the original back."""
        fn = getattr(owner, attr)
        self._restore.append((owner, attr, owner.__dict__.get(attr, _MISSING)))

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    def set_session(self, spark) -> None:
        self.sc = spark.sparkContext


_MISSING = object()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its child spans, in ms (children of one span do not overlap on a
    single client thread, but the union is taken anyway)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.sid] = (s.end - s.start - covered) * 1000.0
    return out


# -- event log ---------------------------------------------------------------
@dataclass
class JobStats:
    group: str | None
    stages: list[int]
    task_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    in_bytes: int = 0
    out_bytes: int = 0
    csv_scans: int = 0


def _plan_csv_scan_accums(plan: dict, out: set) -> None:
    """Accumulator ids of the ``number of output rows`` metric of every
    CSV scan node in a SparkPlanInfo tree."""
    if plan.get("nodeName", "").startswith("Scan csv"):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_csv_scan_accums(child, out)


def read_event_log(path: str) -> dict[int, JobStats]:
    """Job id -> stats from every event file under ``path``. A CSV scan
    counts once for the first job whose tasks update its row counter,
    i.e. once per scan node that actually ran."""
    files = []
    for root, _, names in os.walk(path):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    scan_accums: set = set()
    seen_accums: set = set()
    for f in sorted(files):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = JobStats(props.get("spark.jobGroup.id"), ev.get("Stage IDs", []))
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_csv_scan_accums(ev.get("sparkPlanInfo") or {}, scan_accums)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid is None:
                        continue
                    js = jobs[jid]
                    m = ev.get("Task Metrics") or {}
                    js.task_ms += m.get("Executor Run Time", 0)
                    js.gc_ms += m.get("JVM GC Time", 0)
                    js.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    js.in_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    js.out_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        aid = acc.get("ID")
                        if aid in scan_accums and aid not in seen_accums:
                            seen_accums.add(aid)
                            js.csv_scans += 1
    return jobs


def group_of(span: Span) -> str:
    return f"{GROUP_PREFIX}{span.sid}"
