"""Spans around calls into engine layers, and Spark event-log joins.

A ``Tracer`` keeps spans (name, start, end, parent, run id) in memory;
``dump`` writes them once, when the run ends. Every span is also the
timer the untraced run takes its end-to-end metrics from. With ``sc``
given (traced run), entering a span tags the thread's Spark jobs with
the job group ``<span name>#<span id>``, so the event log attributes
every job, task, shuffle byte and spill byte to the innermost span open
when the job was submitted.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    run_id: str
    start: float = 0.0
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"{self.name}#{self.sid}"


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, len(self.spans), parent.sid if parent else None, self.run_id)
        if parent is not None:
            parent.children.append(s.sid)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn):
        """``fn`` run inside a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by child spans (children run
        one after another on one thread, so they never overlap)."""
        return span.dur - sum(self.spans[c].dur for c in span.children)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "run_id": s.run_id,
                            "id": s.sid,
                            "parent": s.parent,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                        }
                    )
                    + "\n"
                )


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    # (submission, completion) epoch ms of each job
    job_spans: list[tuple[int, int]] = field(default_factory=list)


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Job-group id -> job, task, CPU, shuffle, spill and output totals.

    Spark flushes the log at every job end, so a log read after the
    run's last action holds every event of the jobs it attributes."""
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, int] = {}
    out: dict[str, GroupStats] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a line still being written
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                job_group[jid] = props.get("spark.jobGroup.id")
                job_start[jid] = ev["Submission Time"]
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g = job_group.get(jid)
                if g is not None:
                    st = out.setdefault(g, GroupStats())
                    st.jobs += 1
                    st.job_spans.append((job_start[jid], ev["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                st = out.setdefault(g, GroupStats())
                st.tasks += 1
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return out


def job_busy_s(stats: GroupStats, start: float, end: float) -> float:
    """Seconds of [start, end] (epoch s) covered by at least one job."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(stats.job_spans):
        lo, hi = max(lo / 1000, start), min(hi / 1000, end)
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
    return covered
