"""Spans around layer calls, and the Spark event log folded onto them.

A ``Tracer`` records one span per layer call the benchmark makes: name,
start, end, parent span and op id, kept in memory and written out as
JSONL when the run ends. While tracing it also tags every Spark job a
span submits with a job group, ``<op>|<span name>``, so the event log's
stage metrics can be folded back onto ops and layers. A disabled tracer
records nothing and sets no job group, so untraced runs pay nothing.

``read_event_log`` parses Spark's plain JSONL event log (written with
``spark.eventLog.compress=false`` and rolling off) into per-job-group
counts and totals.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: str
    start: float
    parent: int | None
    end: float = 0.0
    id: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags jobs when given a SparkContext; without one
    every span is a no-op."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, op: str = ""):
        if self.sc is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name=name, op=op, start=time.perf_counter(), parent=parent, id=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        self.sc.setJobGroup(f"{op}|{name}", name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup("", "")
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(f"{p.op}|{p.name}", p.name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "op": s.op, "parent": s.parent,
                                    "start": s.start, "end": s.end}) + "\n")


@dataclass
class StageStats:
    tasks: int = 0
    attempt: int = 0
    wall_ms: float = 0.0
    task_ms: list[float] = field(default_factory=list)
    run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_failures: int = 0


@dataclass
class EventLog:
    job_group: dict[int, str]                    # job id -> group
    job_site: dict[int, str]                     # job id -> its result stage's call site
    stage_jobs: dict[int, int]                   # stage id -> job id
    stages: dict[tuple[int, int], StageStats]    # (stage id, attempt) -> stats

    def restrict(self, pred) -> "EventLog":
        """The jobs whose group satisfies ``pred``, and their stages."""
        jobs = {j: g for j, g in self.job_group.items() if pred(g)}
        stage_jobs = {s: j for s, j in self.stage_jobs.items() if j in jobs}
        stages = {k: v for k, v in self.stages.items() if k[0] in stage_jobs}
        return EventLog(jobs, {j: self.job_site[j] for j in jobs}, stage_jobs, stages)

    def jobs_in(self, pred) -> int:
        return sum(1 for g in self.job_group.values() if pred(g))

    def sites_in(self, pred) -> dict[str, int]:
        """Job count per call site, over the jobs whose group satisfies ``pred``."""
        return dict(Counter(self.job_site[j] for j, g in self.job_group.items() if pred(g)))

    def summary(self, slots: int) -> dict[str, float]:
        """Totals over every stage attempt in the log."""
        st = list(self.stages.values())
        skews = [max(s.task_ms) / statistics.median(s.task_ms)
                 for s in st if len(s.task_ms) > 1 and statistics.median(s.task_ms) > 0]
        return {
            "spark.jobs": len(self.job_group),
            "spark.stages": len(st),
            "spark.tasks": sum(s.tasks for s in st),
            "spark.input_bytes": sum(s.input_bytes for s in st),
            "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in st),
            "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in st),
            "spark.spill_bytes": sum(s.spill_bytes for s in st),
            "spark.executor_run_s": sum(s.run_ms for s in st) / 1e3,
            "spark.gc_s": sum(s.gc_ms for s in st) / 1e3,
            # a stage holds every slot for its wall time; what its tasks
            # did not use was idle
            "spark.idle_slot_s": sum(max(0.0, s.wall_ms * min(slots, max(s.tasks, 1))
                                         - sum(s.task_ms)) for s in st) / 1e3,
            "spark.single_task_stages": sum(1 for s in st if s.tasks == 1),
            "spark.task_skew": statistics.median(skews) if skews else 1.0,
            "spark.task_failures": sum(s.task_failures for s in st),
            "spark.stage_retries": sum(1 for s in st if s.attempt > 0),
        }


def _acc(metrics: dict, *names: str) -> int:
    return sum(int(metrics.get(n, 0) or 0) for n in names)


def read_event_log(path: str) -> EventLog:
    job_group: dict[int, str] = {}
    job_site: dict[int, str] = {}
    stage_jobs: dict[int, int] = {}
    stages: dict[tuple[int, int], StageStats] = defaultdict(StageStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job_group[ev["Job ID"]] = props.get("spark.jobGroup.id") or ""
                result_stage = max(ev.get("Stage Infos") or [{}],
                                   key=lambda i: i.get("Stage ID", -1))
                job_site[ev["Job ID"]] = result_stage.get("Stage Name", "")
                for sid in ev.get("Stage IDs", []):
                    stage_jobs[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                s = stages[key]
                info = ev["Task Info"]
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    s.task_failures += 1
                s.task_ms.append(info["Finish Time"] - info["Launch Time"])
                m = ev.get("Task Metrics") or {}
                s.run_ms += m.get("Executor Run Time", 0)
                s.gc_ms += m.get("JVM GC Time", 0)
                s.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s.shuffle_read_bytes += _acc(m.get("Shuffle Read Metrics") or {},
                                             "Remote Bytes Read", "Local Bytes Read")
                s.spill_bytes += _acc(m, "Memory Bytes Spilled", "Disk Bytes Spilled")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                s = stages[(info["Stage ID"], info["Stage Attempt ID"])]
                s.attempt = info["Stage Attempt ID"]
                s.tasks = info["Number of Tasks"]
                if info.get("Submission Time") and info.get("Completion Time"):
                    s.wall_ms = info["Completion Time"] - info["Submission Time"]
    return EventLog(job_group, job_site, stage_jobs, dict(stages))
