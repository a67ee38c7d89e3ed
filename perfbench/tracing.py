"""Tracing for the benchmark's traced runs: in-memory spans, Spark job
groups, and a parser for the Spark event log.

Nothing here edits the package under test. Spans are recorded around
calls into its public functions and around Spark actions; counters come
from the uncompressed, non-rolling event log that the traced session
writes (``spark.eventLog.*`` settings in ``event_log_conf``).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id.

    ``span`` nests: the innermost open span is the parent of the next.
    When ``spark`` is given, each span also tags the Spark jobs it
    starts with its name as the job group, so the event log attributes
    tasks to spans.
    """

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if sc is not None:
                outer = self.spans[self._open[-1]]["name"] if self._open else ""
                sc.setJobGroup(outer, outer)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap(module, attr: str, tracer: Tracer):
    """Replace ``module.attr`` with a function that runs the original
    inside a span of the same name. Returns a callable that restores the
    original."""
    orig = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(attr):
            return orig(*args, **kwargs)

    setattr(module, attr, traced)
    return lambda: setattr(module, attr, orig)


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Task, stage and job records from one application's event log,
    indexed by job group."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_submit: dict[int, int] = {}
        self.tasks: list[dict] = []
        for line in lines:
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                self.jobs[jid] = {"group": props.get("spark.jobGroup.id") or ""}
                for sid in ev.get("Stage IDs", []):
                    self.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    self.stage_submit[info["Stage ID"]] = info["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                self.tasks.append({
                    "stage": ev["Stage ID"],
                    "launch": info.get("Launch Time", 0),
                    "failed": bool(info.get("Failed", False)),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
        path = os.path.join(log_dir, names[0])
        if path.endswith(".inprogress"):
            raise RuntimeError("event log still in progress: stop the session first")
        with open(path) as f:
            return cls(f)

    def group_of_stage(self, sid: int) -> str:
        jid = self.stage_job.get(sid)
        return self.jobs[jid]["group"] if jid is not None else ""

    def tasks_in(self, groups) -> list[dict]:
        groups = {groups} if isinstance(groups, str) else set(groups)
        return [t for t in self.tasks if self.group_of_stage(t["stage"]) in groups]

    def jobs_in(self, groups) -> list[int]:
        groups = {groups} if isinstance(groups, str) else set(groups)
        return [j for j, rec in self.jobs.items() if rec["group"] in groups]

    def totals(self, groups) -> dict:
        tasks = self.tasks_in(groups)
        waits = [
            max(0, t["launch"] - self.stage_submit[t["stage"]])
            for t in tasks if t["stage"] in self.stage_submit
        ]
        return {
            "jobs": len(self.jobs_in(groups)),
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "wait_s": sum(waits) / 1e3,
            "shuffle_write": sum(t["shuffle_write"] for t in tasks),
            "spill": sum(t["spill"] for t in tasks),
        }

    def stage_skew(self, groups) -> float:
        """max/median task run time in the groups' busiest stage (the
        multi-task stage with the largest summed run time). Returns 1.0
        when no stage ran more than one task."""
        by_stage: dict[int, list[int]] = {}
        for t in self.tasks_in(groups):
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        multi = [v for v in by_stage.values() if len(v) > 1]
        if not multi:
            return 1.0
        runs = max(multi, key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0
