"""Spans around calls into linkgraph, attributed to Spark's event log.

Tracing is installed from the benchmark's side only: the public functions
and public methods of the modules in TRACED are replaced by wrappers that
open a span and point the Spark job group at it, so every job a call
launches carries that span's id in the event log.  Spans stay in memory
(name, start, end, parent, pass id) and are written once, at exit.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import time
from dataclasses import dataclass

TRACED = (
    "linkgraph.session",
    "linkgraph.graph",
    "linkgraph.sources.derive",
    "linkgraph.tableio",
    "linkgraph.checkpoint",
    "linkgraph.algos.msbfs",
    "linkgraph.algos.pagerank",
    "linkgraph.algos.components",
    "linkgraph.algos.kcore",
    "linkgraph.algos.louvain",
    "linkgraph.algos.betweenness",
)
GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    pass_id: str
    end: float = 0.0

    @property
    def module(self) -> str:
        """Owning layer: the linkgraph module for library spans, else 'bench'."""
        return self.name.split(".", 1)[0] if "." in self.name else "bench"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.pass_id = "-"
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        from pyspark import SparkContext

        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.time(), parent and parent.id, self.pass_id)
        self.spans.append(sp)
        self._stack.append(sp)
        _set_group(SparkContext._active_spark_context, sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            _set_group(SparkContext._active_spark_context, parent and parent.id)

    # ------------------------------------------------------------ wrappers
    @property
    def installed(self) -> bool:
        return bool(self._patched)

    def install(self) -> None:
        if self._patched:
            return
        for modname in TRACED:
            mod = importlib.import_module(modname)
            label = modname.rsplit(".", 1)[-1]
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj) and not hasattr(obj, "__wrapped__"):
                    self._patch(mod, name, self._wrap(obj, f"{label}.{name}"))
                elif inspect.isclass(obj):
                    for attr, member in list(vars(obj).items()):
                        if attr.startswith("_"):
                            continue
                        tag = f"{label}.{name}.{attr}"
                        if isinstance(member, classmethod):
                            self._patch(obj, attr, classmethod(self._wrap(member.__func__, tag)))
                        elif isinstance(member, staticmethod):
                            self._patch(obj, attr, staticmethod(self._wrap(member.__func__, tag)))
                        elif inspect.isfunction(member):
                            self._patch(obj, attr, self._wrap(member, tag))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, replacement)

    def _wrap(self, fn, tag: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(tag):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "meta": meta,
                    "spans": [
                        {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "pass": s.pass_id}
                        for s in self.spans
                    ],
                },
                f,
            )


def _set_group(sc, span_id: int | None) -> None:
    if sc is None:
        return
    if span_id is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", "perfbench span")


# ------------------------------------------------------------- event log
@dataclass
class Job:
    id: int
    span: int | None
    start: float
    end: float = 0.0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    sched_delay_s: float = 0.0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0


def read_event_logs(directory: str) -> list[Job]:
    """Jobs from every uncompressed event log in `directory`, with their
    executed stages' task metrics summed in.  Each stage is charged to the
    first job that lists it (later jobs that reuse it skip it)."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(f"{directory}/*")):
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        with open(path) as f:
            for line in f:
                if not line.startswith(
                    ('{"Event":"SparkListenerJob', '{"Event":"SparkListenerTaskEnd"',
                     '{"Event":"SparkListenerStageCompleted"')
                ):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    span = int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None
                    job = Job(ev["Job ID"], span, ev["Submission Time"] / 1000.0)
                    by_id[job.id] = job
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    by_id[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    took = info["Finish Time"] - info["Launch Time"]
                    getting = (info["Finish Time"] - info["Getting Result Time"]
                               if info.get("Getting Result Time") else 0)
                    job.tasks += 1
                    job.task_run_s += run_ms / 1000.0
                    job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    job.sched_delay_s += max(
                        0, took - run_ms - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0) - getting) / 1000.0
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        jobs.extend(by_id.values())
    return jobs


class Attribution:
    """Maps spans to their subtrees and the jobs each subtree launched."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s.id)
        self.jobs_of: dict[int, list[Job]] = {}
        for j in jobs:
            if j.span is not None:
                self.jobs_of.setdefault(j.span, []).append(j)

    def subtree_jobs(self, span_id: int) -> list[Job]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.extend(self.jobs_of.get(sid, []))
            todo.extend(self.children.get(sid, []))
        return out

    def self_time(self, span: Span) -> float:
        covered = sum(self.spans[c].end - self.spans[c].start for c in self.children.get(span.id, []))
        return (span.end - span.start) - covered

    def uncovered_time(self, span: Span) -> float:
        """Span time during which none of its subtree's jobs was running."""
        return (span.end - span.start) - busy_time(self.subtree_jobs(span.id), span.start, span.end)


def busy_time(jobs: list[Job], lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of the jobs' [start, end] intervals within [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(j.start, lo), min(j.end, hi)) for j in jobs):
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
