"""Spans around calls into the pipeline's layers, and per-layer numbers
folded from Spark's public status tracker and event log.

A span records name, layer, start, end, parent and the run id. Every span
runs its Spark jobs under its own job group, so the jobs, stages and tasks
a span launched can be read back by group: from
``SparkContext.statusTracker()`` while the session is up, and from the
session's event log after it has stopped. Spans are kept in memory and
written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "canonicalize", "features", "blocking", "scoring",
    "cluster", "incremental", "streaming", "io",
)

# Reported per layer: span wall minus its children's wall; the job,
# stage and task counts from the status tracker; task time and shuffle
# bytes from the event log; and the rows the layer's output holds.
LAYER_FIELDS = {
    "self_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "task_s": "s",
    "shuffle_mb": "MB",
    "rows_out": "rows",
}


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children",
                          encoding="ascii") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except FileNotFoundError:  # exited while being read
            continue
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM and its Python workers), reaped children included."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # u/s time, + reaped
    return ticks / os.sysconf("SC_CLK_TCK")


_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    # job groups whose jobs belong to this span: its own, plus any a
    # Spark-managed thread ran them under (a streaming query's run id)
    groups: list[str] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # foreachBatch bodies run on another Python thread while the
        # caller waits; the stack is shared so their spans nest under it
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sp = Span(
                id=len(self.spans), name=name, layer=layer,
                parent=self._stack[-1] if self._stack else None,
                run_id=self.run_id, start=time.perf_counter(), attrs=attrs,
            )
            sp.groups.append(f"{self.run_id}/{sp.id}")
            self.spans.append(sp)
            self._stack.append(sp.id)
        prev_group = self.sc.getLocalProperty(_GROUP_KEY)
        prev_desc = self.sc.getLocalProperty(_DESC_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, sp.groups[0])
        self.sc.setLocalProperty(_DESC_KEY, f"{layer or name}: {name}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            self.sc.setLocalProperty(_DESC_KEY, prev_desc)
            with self._lock:
                self._stack.remove(sp.id)

    def self_time(self, sp: Span) -> float:
        """Span wall minus the part of it that its children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == sp.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, sp.start), min(e, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall - covered

    def status_counts(self) -> None:
        """Jobs, stages, tasks and failed tasks per span, read by job group
        from the status tracker. Call while the session is still up."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = stages = tasks = failed = 0
            for g in sp.groups:
                for jid in st.getJobIdsForGroup(g):
                    info = st.getJobInfo(jid)
                    if info is None:
                        continue
                    jobs += 1
                    for sid in info.stageIds:
                        si = st.getStageInfo(sid)
                        if si is None:
                            continue
                        ran = si.numCompletedTasks + si.numFailedTasks
                        if ran:  # a skipped stage reused earlier output
                            stages += 1
                            tasks += si.numCompletedTasks
                            failed += si.numFailedTasks
            sp.attrs.update(
                jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed
            )

    def fold_event_log(self, path: str) -> None:
        """Task time and shuffle bytes per span from the event log (read
        after ``spark.stop()`` has flushed it)."""
        group_of_stage: dict[int, str] = {}
        task_ms: dict[str, float] = {}
        shuffle_b: dict[str, float] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                    for sid in ev.get("Stage IDs", []):
                        # a stage shared by later jobs is skipped there:
                        # its tasks ran under the first job that listed it
                        group_of_stage.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = group_of_stage.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if g is None or not m:
                        continue
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    task_ms[g] = task_ms.get(g, 0.0) + m.get(
                        "Executor Run Time", 0
                    )
                    shuffle_b[g] = shuffle_b.get(g, 0.0) + (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
        for sp in self.spans:
            sp.attrs["task_s"] = sum(task_ms.get(g, 0.0) for g in sp.groups) / 1e3
            sp.attrs["shuffle_mb"] = (
                sum(shuffle_b.get(g, 0.0) for g in sp.groups) / 2**20
            )

    def layer_totals(self, n_ops: int) -> dict[str, float]:
        """``<layer>.<field>`` summed over every span of the layer, per
        traced operation."""
        out = {f"{ly}.{k}": 0.0 for ly in LAYERS for k in LAYER_FIELDS}
        for sp in self.spans:
            if sp.layer is None:
                continue
            out[f"{sp.layer}.self_s"] += self.self_time(sp)
            for k in LAYER_FIELDS:
                if k != "self_s":
                    out[f"{sp.layer}.{k}"] += sp.attrs.get(k, 0)
        return {k: v / max(n_ops, 1) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                [
                    {**asdict(sp), "wall_s": sp.wall,
                     "self_s": self.self_time(sp)}
                    for sp in self.spans
                ],
                f, indent=1, default=str,
            )
