"""Spans around layer calls, Spark job groups, and the event-log reader.

The benchmark times every layer from outside, at the calls into its public
API.  ``Tracer.span(layer)`` always records the call's wall interval (two
clock reads); when tracing is on it also tags the calling thread's Spark
jobs with the job group ``layer`` and the description ``layer#k``, so the
event log attributes every job, stage and task to the innermost layer call
that submitted it.  ``layer_metrics`` turns spans plus the event log into
the ``<layer>.*`` metrics.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from .stats import clipped, union_length

#: Spark local properties the job-group wrapper sets and restores.
_GROUP = "spark.jobGroup.id"
_DESC = "spark.job.description"


@dataclass
class Span:
    layer: str
    key: str  # "<layer>#<k>": unique per call, the jobs' description
    parent: "str | None"
    start: float  # epoch seconds, comparable with the event log's ms stamps
    end: float = 0.0
    rep: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with ``sc`` set, also sets job groups (traced mode)."""

    sc: object = None
    rep: int = 0
    spans: "list[Span]" = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _counts: "defaultdict[str, int]" = field(default_factory=lambda: defaultdict(int))
    _local: threading.local = field(default_factory=threading.local)

    @contextmanager
    def span(self, layer: str, parent: "Span | None" = None):
        """Time one layer call.  The parent is the enclosing span of this
        thread, or ``parent`` for a call a worker thread makes on its
        behalf."""
        with self._lock:
            key = f"{layer}#{self._counts[layer]}"
            self._counts[layer] += 1
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        stack = self._local.stack
        if parent is None and stack:
            parent = stack[-1]
        s = Span(layer, key, parent.key if parent else None, 0.0, rep=self.rep)
        prev = None
        if self.sc is not None:
            prev = (self.sc.getLocalProperty(_GROUP), self.sc.getLocalProperty(_DESC))
            self.sc.setLocalProperty(_GROUP, layer)
            self.sc.setLocalProperty(_DESC, key)
        stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if prev is not None:
                self.sc.setLocalProperty(_GROUP, prev[0])
                self.sc.setLocalProperty(_DESC, prev[1])
            with self._lock:
                self.spans.append(s)


# --------------------------------------------------------------------------- #
# event log                                                                   #
# --------------------------------------------------------------------------- #
@dataclass
class Job:
    desc: str
    start: float  # epoch seconds
    end: float = 0.0


@dataclass
class StageStats:
    desc: str = ""
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    ran: bool = False


def read_event_log(path: str) -> "tuple[dict[int, Job], dict[int, StageStats]]":
    """Jobs and completed stages from a Spark JSON event log.  ``path`` is a
    log file or a directory holding one (Spark 4 may write a rolling
    ``eventlog_v2_*`` directory); unparsable lines are skipped, because
    the last line of a log still being written can be torn."""
    files = [path] if os.path.isfile(path) else sorted(
        f for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    )  # glob skips dot files, so the .crc checksums too
    jobs: "dict[int, Job]" = {}
    stages: "defaultdict[int, StageStats]" = defaultdict(StageStats)
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        props.get(_DESC, "") or "", e.get("Submission Time", 0) / 1000.0
                    )
                elif ev == "SparkListenerJobEnd":
                    j = jobs.get(e["Job ID"])
                    if j is not None:
                        j.end = e.get("Completion Time", 0) / 1000.0
                elif ev == "SparkListenerStageSubmitted":
                    props = e.get("Properties") or {}
                    stages[e["Stage Info"]["Stage ID"]].desc = props.get(_DESC, "") or ""
                elif ev == "SparkListenerStageCompleted":
                    stages[e["Stage Info"]["Stage ID"]].ran = True
                elif ev == "SparkListenerTaskEnd":
                    st = stages[e["Stage ID"]]
                    st.tasks += 1
                    m = e.get("Task Metrics") or {}
                    st.cpu_s += (m.get("Executor CPU Time") or 0) / 1e9
                    st.shuffle_write_bytes += int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written") or 0
                    )
                    st.spill_bytes += int(m.get("Memory Bytes Spilled") or 0) + int(
                        m.get("Disk Bytes Spilled") or 0
                    )
    return jobs, dict(stages)


#: The per-call event-log metrics reported for every layer.
EVENT_FIELDS = (
    "jobs", "stages", "tasks", "task_cpu_s", "shuffle_write_bytes", "spill_bytes",
    "plan_s", "gap_s",
)


def layer_metrics(
    spans: "list[Span]", jobs: "dict[int, Job]", stages: "dict[int, StageStats]"
) -> "dict[str, dict[str, float]]":
    """Per layer, sums over its calls of the ``EVENT_FIELDS``.

    Jobs, stages and tasks count toward the innermost call whose description
    they carry.  ``plan_s`` runs from a call's start to the first job it or a
    call nested in it submitted (calls without jobs add nothing);
    ``gap_s`` is the call's wall time not covered by those jobs."""
    by_key = {s.key: s for s in spans}
    children: "defaultdict[str, list[str]]" = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s.key)
    own_jobs: "defaultdict[str, list[Job]]" = defaultdict(list)
    for j in jobs.values():
        if j.desc in by_key and j.end:
            own_jobs[j.desc].append(j)
    own_stages: "defaultdict[str, list[StageStats]]" = defaultdict(list)
    for st in stages.values():
        if st.desc in by_key:
            own_stages[st.desc].append(st)

    def all_jobs(key: str) -> "list[Job]":
        out = list(own_jobs.get(key, ()))
        for c in children.get(key, ()):
            out.extend(all_jobs(c))
        return out

    out: "dict[str, dict[str, float]]" = {}
    for s in spans:
        m = out.setdefault(s.layer, {f: 0.0 for f in EVENT_FIELDS})
        m["jobs"] += len(own_jobs.get(s.key, ()))
        for st in own_stages.get(s.key, ()):
            m["stages"] += 1 if st.ran else 0
            m["tasks"] += st.tasks
            m["task_cpu_s"] += st.cpu_s
            m["shuffle_write_bytes"] += st.shuffle_write_bytes
            m["spill_bytes"] += st.spill_bytes
        inside = all_jobs(s.key)
        if inside:
            m["plan_s"] += max(0.0, min(j.start for j in inside) - s.start)
        covered = union_length(clipped([(j.start, j.end) for j in inside], s.start, s.end))
        m["gap_s"] += max(0.0, s.wall - covered)
    return out
