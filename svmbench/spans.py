"""Spans around the benchmark's calls into each layer, and the Spark
event log read back to attribute executor work to those spans.

A span has a name, start, end (epoch seconds), the span that caused it
and a trace id shared by every span of one training job or request.
Spans stay in memory and are written out when the run ends.

Executor-side numbers come from the event log (``spark.eventLog``): a
job belongs to the span it was submitted in, and a stage is attributed
to a layer by its physical operator, ``FlatMapGroupsInPandas``
(training) or ``MapInPandas`` (scoring). SQL metrics such as the bytes
sent to Python workers are mapped to their plan node through the
accumulator ids in the logged plans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time

TRAIN_OP = "FlatMapGroupsInPandas"
SCORE_OP = "MapInPandas"


class Span:
    def __init__(self, span_id: int, name: str, parent: int | None,
                 trace_id: int):
        self.id = span_id
        self.name = name
        self.parent = parent
        self.trace_id = trace_id
        self.start = time.time()
        self.end = None

    def lazy(self, df):
        """Materialize a lazy DataFrame inside the span (the result is
        checkpointed, so nothing downstream recomputes it)."""
        return df.localCheckpoint()

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "trace": self.trace_id, "start": self.start,
                "end": self.end}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._traces = 0

    @contextlib.contextmanager
    def span(self, name: str, new_trace: bool = False):
        parent = self._stack[-1] if self._stack else None
        if new_trace or parent is None:
            self._traces += 1
            trace_id = self._traces
        else:
            trace_id = parent.trace_id
        s = Span(len(self.spans), name, parent.id if parent else None,
                 trace_id)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.to_dict() for s in self.spans], fh, indent=0)


def _union_len(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EventLog:
    """Jobs, stages and tasks of one application's event log."""

    def __init__(self, log_dir: str):
        paths = glob.glob(f"{log_dir}/*")
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {paths}")
        self.jobs = {}        # job id -> (submit s, end s, stage ids)
        self.stages = {}      # stage id -> dict
        self.tasks = []       # (stage id, launch s, finish s, metrics, acc)
        self.acc_node = {}    # accumulator id -> (plan node, metric name)
        with open(paths[0]) as fh:
            for line in fh:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            self._walk_plan(e["sparkPlanInfo"])
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = [e["Submission Time"] / 1e3, None,
                                      e["Stage IDs"]]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]][1] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            ops = {json.loads(r["Scope"])["name"]
                   for r in info["RDD Info"] if r.get("Scope")}
            self.stages[info["Stage ID"]] = {
                "start": info["Submission Time"] / 1e3,
                "end": info["Completion Time"] / 1e3, "ops": ops}
        elif kind == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            acc = {a["ID"]: int(a["Update"]) for a in ti["Accumulables"]
                   if str(a.get("Update", "")).lstrip("-").isdigit()}
            self.tasks.append((e["Stage ID"], ti["Launch Time"] / 1e3,
                               ti["Finish Time"] / 1e3,
                               e.get("Task Metrics") or {}, acc))

    def _walk_plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (node["nodeName"], m["name"])
        for child in node.get("children", []):
            self._walk_plan(child)

    def window(self, start: float, end: float) -> "Window":
        # event-log times are whole milliseconds
        lo, hi = start - 1e-3, end + 1e-3
        jobs = [j for j in self.jobs.values() if lo <= j[0] <= hi]
        stage_ids = {s for j in jobs for s in j[2] if s in self.stages}
        return Window(self, start, end, jobs, stage_ids)


class Window:
    """Everything Spark ran for jobs submitted inside one span."""

    def __init__(self, log: EventLog, start: float, end: float, jobs,
                 stage_ids):
        self.log = log
        self.wall = end - start
        self.jobs = jobs
        self.stage_ids = stage_ids
        self.tasks = [t for t in log.tasks if t[0] in stage_ids]

    def job_s(self) -> float:
        return _union_len((a, b) for a, b, _ in self.jobs if b is not None)

    def no_job_s(self) -> float:
        return self.wall - self.job_s()

    def op_stages(self, op: str) -> set[int]:
        return {s for s in self.stage_ids if op in self.log.stages[s]["ops"]}

    def op_tasks(self, op: str) -> list:
        stages = self.op_stages(op)
        return [t for t in self.tasks if t[0] in stages]

    def op_wall(self, op: str) -> float:
        st = self.log.stages
        return _union_len((st[s]["start"], st[s]["end"])
                          for s in self.op_stages(op))

    def busy_s(self, op: str) -> float:
        return sum(t[3].get("Executor Run Time", 0)
                   for t in self.op_tasks(op)) / 1e3

    def max_task_s(self, op: str) -> float:
        return max((t[2] - t[1] for t in self.op_tasks(op)), default=0.0)

    def task_metric(self, *path) -> int:
        total = 0
        for t in self.tasks:
            v = t[3]
            for key in path:
                v = v.get(key, {}) if isinstance(v, dict) else {}
            total += v if isinstance(v, int) else 0
        return total

    def sql_metric(self, node: str, name: str) -> int:
        """Sum of one SQL metric of one plan node over the window."""
        total = 0
        for t in self.tasks:
            for acc_id, update in t[4].items():
                if self.log.acc_node.get(acc_id) == (node, name):
                    total += update
        return total
