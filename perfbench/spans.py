"""Spans around calls into the library, and the Spark records behind them.

A span is one timed public call: name, start, end, parent span and an
op id shared by the spans of one operation. With tracing on, a span
also runs its call under a job group of its own and, right after the
call, reads that group's jobs and stages from the application status
store (``statusTracker`` for the ids, ``statusStore().job`` and
``lastStageAttempt`` for the figures; both work with the UI disabled).
With tracing off a span only takes the two clock readings, so the
end-to-end run and the traced run time the same calls.

Stream triggers run on Spark's own thread under the query's ``runId``
job group; ``StreamListener`` records each trigger's progress and,
when tracing, the jobs that group launched during the trigger.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def pct(values, q: float) -> float:
    """The q-th percentile (0-100) by linear interpolation; 0.0 for no
    samples."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of ``(start_ms, end_ms)`` intervals,
    clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: stage figures summed onto each job
STAGE_SUMS = ("executor_ms", "gc_ms", "shuffle_bytes", "input_bytes")


class SparkStatus:
    """Job and stage figures from the driver's application status store."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def job(self, job_id: int) -> dict | None:
        """The job's interval and summed stage figures, or None while
        the store has not yet recorded its completion."""
        jd = self._store.job(job_id)
        if jd.completionTime().isEmpty() or jd.submissionTime().isEmpty():
            return None
        out = {
            "id": job_id,
            "start_ms": jd.submissionTime().get().getTime(),
            "end_ms": jd.completionTime().get().getTime(),
            "stages": [],
        }
        for sid in str(jd.stageIds().mkString(",")).split(","):
            if not sid:
                continue
            sd = self._store.lastStageAttempt(int(sid))
            if sd.status().toString() != "COMPLETE":
                continue  # SKIPPED stages re-use an earlier job's output
            out["stages"].append(
                {
                    "id": int(sid),
                    "tasks": sd.numTasks(),
                    "executor_ms": sd.executorRunTime(),
                    "gc_ms": sd.jvmGcTime(),
                    "shuffle_bytes": sd.shuffleWriteBytes(),
                    "input_bytes": sd.inputBytes(),
                }
            )
        for key in STAGE_SUMS:
            out[key] = sum(st[key] for st in out["stages"])
        return out


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list = field(default_factory=list)
    pending: list = field(default_factory=list)
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def job_sum(self, key: str) -> float:
        return sum(j[key] for j in self.jobs)

    def driver_ms(self) -> float:
        """Wall time not covered by any of the span's Spark jobs."""
        return self.ms - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in self.jobs],
            self.start * 1000.0,
            self.end * 1000.0,
        )


class Tracer:
    """Records spans in memory; writes them out once, at the end."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._sc = spark.sparkContext
        self._status = SparkStatus(self._sc) if enabled else None
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def status(self) -> SparkStatus | None:
        return self._status

    def add_overhead(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    @contextmanager
    def span(self, name: str, new_op: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        op = sid if (parent is None or new_op) else parent.op
        sp = Span(sid, name, op, parent.id if parent else None, 0.0)
        if self.enabled:
            t = time.time()
            sp.group = f"perfbench-{sid}"
            self._sc.setJobGroup(sp.group, name)
            self.add_overhead(time.time() - t)
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        except Exception as exc:
            sp.error = f"{type(exc).__name__}: {exc}"
            raise
        finally:
            sp.end = time.time()
            stack.pop()
            if self.enabled:
                t = time.time()
                if parent:
                    self._sc.setJobGroup(parent.group, parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._collect(sp, self._status.job_ids(sp.group))
                self.add_overhead(time.time() - t)
            with self._lock:
                self.spans.append(sp)

    def _collect(self, sp: Span, job_ids) -> None:
        for jid in job_ids:
            j = self._status.job(jid)
            if j is None:
                sp.pending.append(jid)
            else:
                sp.jobs.append(j)

    def record(self, sp: Span, job_ids) -> None:
        """Attach jobs found outside a ``span`` block (stream triggers)."""
        t = time.time()
        self._collect(sp, job_ids)
        self.add_overhead(time.time() - t)
        with self._lock:
            self.spans.append(sp)

    def new_span(self, name: str, start: float, end: float) -> Span:
        sid = next(self._ids)
        return Span(sid, name, sid, None, start, end)

    def finish(self, path: str | None) -> None:
        """Resolve jobs that were still completing when their span
        ended, then write every span as JSON lines to ``path``."""
        if self.enabled:
            for sp in self.spans:
                for jid in sp.pending:
                    for _ in range(50):
                        j = self._status.job(jid)
                        if j is not None:
                            sp.jobs.append(j)
                            break
                        time.sleep(0.02)
                sp.pending = []
        if path:
            with open(path, "w") as fh:
                for sp in sorted(self.spans, key=lambda s: s.start):
                    fh.write(
                        json.dumps(
                            {
                                "id": sp.id,
                                "name": sp.name,
                                "op": sp.op,
                                "parent": sp.parent,
                                "start": sp.start,
                                "end": sp.end,
                                "self_ms": self.self_ms(sp),
                                "jobs": sp.jobs,
                                "error": sp.error,
                            }
                        )
                        + "\n"
                    )

    def self_ms(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start * 1000.0, c.end * 1000.0) for c in self.spans if c.parent == sp.id]
        return sp.ms - union_ms(kids, sp.start * 1000.0, sp.end * 1000.0)


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class StreamListener(StreamingQueryListener):
    """Keeps every trigger's progress (``recentProgress`` holds only
    the last 100). With a tracer that is enabled, also reads the jobs
    the trigger ran under the query's ``runId`` group."""

    def __init__(self, tracer: Tracer, on_progress=None):
        self._tracer = tracer
        self._on_progress = on_progress
        self._seen: set[int] = set()
        self._lock = threading.Lock()
        self.triggers: dict[int, dict] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = _epoch(p.timestamp)
        dur = dict(p.durationMs)
        trig = {
            "batch": p.batchId,
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "duration_ms": dur,
            "span": None,
        }
        tracer = self._tracer
        if tracer.enabled:
            sp = tracer.new_span("stream.trigger", trig["start"], trig["end"])
            with self._lock:
                ids = [j for j in tracer.status.job_ids(str(p.runId)) if j not in self._seen]
                self._seen.update(ids)
            tracer.record(sp, ids)
            trig["span"] = sp
            if self._on_progress is not None:
                t = time.time()
                self._on_progress()
                tracer.add_overhead(time.time() - t)
        with self._lock:
            self.triggers[p.batchId] = trig
