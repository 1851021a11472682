"""Spans around calls into the package's layers, and the Spark event-log
parser that turns a traced run into per-layer records.

A span is (name, layer, start, end, parent). Spans are kept in memory and
written when the run ends. In a traced run every span also sets a Spark job
group, so the jobs it launches can be counted with ``sc.statusTracker()``
and its tasks found in the event log. Jobs without a group (launched from
a helper thread, whose thread-local properties are empty) fall to the
innermost span whose interval holds their submission time. Every task is
charged to exactly one span, its innermost one; a span's inclusive figures
add those of its children.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

TASK_FIELDS = (
    "tasks", "task_overhead_ms", "run_ms", "executor_cpu_s", "gc_ms",
    "shuffle_write_mb",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    pass_no: int
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    dur: float = 0.0  # perf_counter seconds
    jobs: int = 0
    counts: dict = field(default_factory=dict)
    self_tasks: dict = field(default_factory=dict)
    total_tasks: dict = field(default_factory=dict)


class Tracer:
    """Records spans. With ``traced`` set, each span is also a Spark job
    group; without it a span is only a pair of clock reads."""

    def __init__(self, traced: bool = False):
        self.traced = traced
        self.spans: list[Span] = []
        self.pass_no = -1  # -1: set-up; timed passes count from 0
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @staticmethod
    def group_id(span: Span) -> str:
        return f"perfbench-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(self.group_id(span), span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            pass_no=self.pass_no,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.traced:
            self._set_group(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.dur = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()
            if self.traced and self._sc is not None:
                s.jobs = len(
                    self._sc.statusTracker().getJobIdsForGroup(
                        self.group_id(s)
                    )
                )
                self._set_group(parent)


# ---------------------------------------------------------------- event log

def read_event_log(paths) -> list[dict]:
    """Per-task records from uncompressed Spark event logs:
    (stage, group, stage_submit_ms, launch_ms, finish_ms, run_ms, cpu_ns,
    gc_ms, shuffle_write_bytes)."""
    tasks: list[dict] = []
    for path in paths:
        stage_group: dict[int, str | None] = {}
        stage_submit: dict[int, float] = {}
        raw: list[dict] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stage_group[info["Stage ID"]] = props.get(
                        "spark.jobGroup.id"
                    )
                    stage_submit[info["Stage ID"]] = info.get(
                        "Submission Time", 0
                    )
                elif kind == "SparkListenerTaskEnd":
                    raw.append(ev)
        for ev in raw:
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            stage = ev["Stage ID"]
            tasks.append({
                "stage": stage,
                "group": stage_group.get(stage),
                "stage_submit_ms": stage_submit.get(
                    stage, info["Launch Time"]
                ),
                "launch_ms": info["Launch Time"],
                "finish_ms": info["Finish Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
            })
    return tasks


def _innermost(spans: list[Span], t_s: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t_s < s.end and (best is None or s.start >= best.start):
            best = s
    return best


def attribute_tasks(spans: list[Span], tasks: list[dict]) -> int:
    """Charge every task to one span (by job group, else by the stage's
    submission time); fill each span's self and inclusive task figures.
    Returns the number of tasks no span covers."""
    by_gid = {Tracer.group_id(s): s for s in spans}
    for s in spans:
        s.self_tasks = dict.fromkeys(TASK_FIELDS, 0)
    orphans = 0
    for t in tasks:
        s = by_gid.get(t["group"]) or _innermost(
            spans, t["stage_submit_ms"] / 1000.0
        )
        if s is None:
            orphans += 1
            continue
        a = s.self_tasks
        a["tasks"] += 1
        a["task_overhead_ms"] += (
            t["finish_ms"] - t["launch_ms"] - t["run_ms"]
        )
        a["run_ms"] += t["run_ms"]
        a["executor_cpu_s"] += t["cpu_ns"] / 1e9
        a["gc_ms"] += t["gc_ms"]
        a["shuffle_write_mb"] += t["shuffle_write_bytes"] / 1e6
    for s in spans:
        s.total_tasks = dict(s.self_tasks)
    # spans are created parent-first, so a reverse walk folds children in
    by_id = {s.id: s for s in spans}
    for s in reversed(spans):
        if s.parent is not None:
            p = by_id[s.parent].total_tasks
            for k in TASK_FIELDS:
                p[k] += s.total_tasks[k]
    return orphans


# ----------------------------------------------------------- layer metrics

def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_pass(spans: list[Span], value, passes, agg=sum) -> float:
    """Median over `passes` of agg (default: the sum) of value(span) over
    each pass's spans."""
    vals: dict[int, list] = {p: [] for p in passes}
    for s in spans:
        if s.pass_no in vals:
            vals[s.pass_no].append(value(s))
    return _median([agg(v) if v else 0.0 for v in vals.values()])


def write_records(path: Path, spans: list[Span], extra: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [s.__dict__ for s in spans],
                **extra,
            },
            f,
            indent=1,
            default=str,
        )
        f.write("\n")
