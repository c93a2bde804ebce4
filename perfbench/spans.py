"""Spans around calls into the program, and their per-layer roll-up.

The benchmark never edits package code: ``Tracer.wrap`` replaces a public
function or method with a wrapper that opens a span for the duration of
the call and tags the Spark jobs the call submits with a job group unique
to that span. After the session stops, ``parse_event_log`` joins the Spark
event log to those groups, so each job, stage and task is charged to the
innermost span that submitted it.

A span is ``(trace, id, parent, name, start, end)``. One trace is one unit
of work: an ELT cycle or a stream cycle. Spans live in memory until the
run ends; ``Tracer.dump`` writes them out.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# span name -> (per-layer time metric fed by its self time,
#               per-layer count its Spark jobs feed)
SPAN_METRIC = {
    "control.watermark": ("control.watermark_s", "control.jobs"),
    "control.runlog": ("control.runlog_s", "control.jobs"),
    "merge.history": ("merge.history_s", "merge.jobs"),
    "merge.latest": ("merge.latest_s", "merge.jobs"),
    "merge.read": ("merge.read_s", None),
    "rest.fetch": ("rest.fetch_s", None),
    "rest.stub": ("rest.stub_s", None),
    "normalize": ("normalize.s", None),
    "landing.write": ("landing.write_s", None),
    "landing.read": ("landing.read_s", None),
    "pipeline.run": ("pipeline.self_s", "pipeline.jobs"),
    "pipeline.staging": ("pipeline.self_s", "pipeline.jobs"),
    "stream.run": ("stream.overhead_s", "stream.jobs"),
    "stream.batch": ("stream.batch_s", "stream.jobs"),
}

# per-layer metric -> unit; the order is the order they are printed in
PER_LAYER_UNITS = {
    "control.watermark_s": "s",
    "control.runlog_s": "s",
    "control.jobs": "count",
    "merge.history_s": "s",
    "merge.latest_s": "s",
    "merge.read_s": "s",
    "merge.jobs": "count",
    "merge.bytes_written": "bytes",
    "rest.fetch_s": "s",
    "rest.pages": "count",
    "rest.stub_s": "s",
    "normalize.s": "s",
    "landing.write_s": "s",
    "landing.read_s": "s",
    "pipeline.self_s": "s",
    "pipeline.jobs": "count",
    "stream.batch_s": "s",
    "stream.overhead_s": "s",
    "stream.batches": "count",
    "stream.jobs": "count",
    "spark.rdd_pinned": "count",
    "exec.cpu_s": "s",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.sched_floor_s": "s",
}


@dataclass
class Span:
    trace: int
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    and ``wrap`` patches nothing, so an untraced run executes the program
    unmodified."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._traces = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._root_stack: list[Span] | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Open a span. A span opened with an empty stack starts a trace,
        unless a trace is open on another thread (a streaming foreachBatch
        callback): then it joins that trace under that thread's innermost
        open span."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._root_stack[-1] if self._root_stack else None
        with self._lock:
            sid = next(self._ids)
            trace = parent.trace if parent else next(self._traces)
        sp = Span(trace, sid, parent.id if parent else None, name, time.time())
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"pb{sid}", name)
        stack.append(sp)
        if parent is None:
            self._root_stack = stack
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if parent is None:
                self._root_stack = None
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-opening wrapper."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover.
    A span's children run one after another, including a foreachBatch
    callback, which runs on its own thread while its parent waits."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child_time.get(s.id, 0.0) for s in spans}


def _event_lines(path: str):
    """Event-log lines from a single file or a rolling-log directory."""
    files = (
        [os.path.join(path, n) for n in sorted(os.listdir(path)) if n.startswith("events")]
        if os.path.isdir(path) else [path]
    )
    for p in files:
        with open(p) as f:
            yield from f


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def parse_event_log(path: str) -> tuple[dict[int, str | None], list[dict]]:
    """Jobs and tasks of an application event log.

    Returns ``(job_group, tasks)``: the job group of every job, and one
    dict per finished task with its job, stage, launch/finish times
    (epoch seconds) and the task metrics the layers report."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for line in _event_lines(path):
        if '"SparkListenerJobStart"' in line[:60]:
            ev = json.loads(line)
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif '"SparkListenerTaskEnd"' in line[:60]:
            ev = json.loads(line)
            ti = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            out = tm.get("Output Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "launch": ti.get("Launch Time", 0) / 1000.0,
                    "finish": ti.get("Finish Time", 0) / 1000.0,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "bytes_written": out.get("Bytes Written", 0),
                }
            )
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return job_group, tasks


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(
    spans: list[Span],
    core_traces: set[int],
    job_group: dict[int, str | None],
    tasks: list[dict],
    rdd_pinned: int,
) -> dict[str, float]:
    """Per-layer metrics, each a mean per unit of work over ``core_traces``
    (the fixed schedule every run completes, so counts repeat exactly),
    except ``spark.rdd_pinned``: the peak the benchmark counted after each
    unit. Layers a workload does not touch report 0."""
    out = {name: 0.0 for name in PER_LAYER_UNITS}
    core = [s for s in spans if s.trace in core_traces]
    selfs = self_times(core)
    for s in core:
        if s.name in SPAN_METRIC:
            out[SPAN_METRIC[s.name][0]] += selfs[s.id]
    out["rest.pages"] = sum(s.name == "rest.stub" for s in core)
    out["stream.batches"] = sum(s.name == "stream.batch" for s in core)
    by_group = {f"pb{s.id}": s.name for s in core}
    job_metric = {}
    for jid, group in job_group.items():
        metric = SPAN_METRIC.get(by_group.get(group), (None, None))[1]
        if metric:
            out[metric] += 1
            job_metric[jid] = metric
    out["merge.bytes_written"] = sum(
        t["bytes_written"] for t in tasks if job_metric.get(t["job"]) == "merge.jobs"
    )
    roots = [s for s in core if s.parent is None]
    unit_tasks: list[dict] = []
    busy = 0.0
    for root in roots:
        inside = [t for t in tasks if root.start <= t["launch"] < root.end]
        unit_tasks += inside
        busy += _union_length([(t["launch"], min(t["finish"], root.end)) for t in inside])
    out["exec.cpu_s"] = sum(t["cpu_s"] for t in unit_tasks)
    out["exec.shuffle_bytes"] = sum(t["shuffle_bytes"] for t in unit_tasks)
    out["exec.spill_bytes"] = sum(t["spill_bytes"] for t in unit_tasks)
    out["exec.sched_floor_s"] = max(sum(s.end - s.start for s in roots) - busy, 0.0)
    n = max(len(core_traces), 1)
    out = {k: v / n for k, v in out.items()}
    by_stage: dict[int, list[float]] = {}
    for t in unit_tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    skews = [
        max(d) / statistics.median(d)
        for d in by_stage.values()
        if len(d) >= 2 and statistics.median(d) > 0
    ]
    out["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    out["spark.rdd_pinned"] = rdd_pinned
    return out
