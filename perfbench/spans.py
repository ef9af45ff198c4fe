"""Spans around the benchmark's calls into the engine, joined with Spark's
own event log.

A span has a name, start, end and parent. Spans are kept in memory and
written out when the run ends. While a span is open, every Spark job the
driver submits carries the span's id as its job group, so the event log
maps tasks, CPU time and shuffle back to spans. A span's metrics include
its children's; its self time excludes the time its children cover.
"""

from __future__ import annotations

import glob
import json
import re
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None):
        self.spans: list = []
        self._stack: list = []
        self._sc = spark.sparkContext if spark is not None else None

    def _group(self):
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._group()

    def children(self, sid: int) -> list:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list:
        out = [sid]
        for c in self.children(sid):
            out.extend(self.subtree(c["id"]))
        return out

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        covered = _union([(c["start"], c["end"]) for c in self.children(sid)],
                         s["start"], s["end"])
        return (s["end"] - s["start"]) - covered

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
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


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
# the output path of a file write, from the formatted plan's node details
_INSERT = re.compile(r"\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)",
                     re.S)


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, log_dir: str):
        self.job_group: dict = {}     # job id -> job group (span) or None
        self.stage_job: dict = {}     # stage id -> job id
        self.tasks: list = []         # per task: job, start/end s, metrics
        self.writes: list = []        # (output path, start s, end s)
        sql: dict = {}
        for path in glob.glob(f"{log_dir}/*"):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line), sql)
        for ex in sql.values():
            if ex.get("out") and ex.get("end"):
                self.writes.append((ex["out"], ex["start"], ex["end"]))

    def _event(self, e: dict, sql: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            job = e["Job ID"]
            self.job_group[job] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for st in e.get("Stage IDs", []):
                self.stage_job[st] = job
        elif ev == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            self.tasks.append({
                "job": self.stage_job.get(e["Stage ID"]),
                "start": info["Launch Time"] / 1e3,
                "end": info["Finish Time"] / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                "records_read": inp.get("Records Read", 0),
            })
        elif ev == _SQL_START:
            found = _INSERT.search(e.get("physicalPlanDescription") or "")
            sql[e["executionId"]] = {"start": e["time"] / 1e3,
                                     "out": found.group(1) if found else None}
        elif ev == _SQL_END and e["executionId"] in sql:
            sql[e["executionId"]]["end"] = e["time"] / 1e3

    def tasks_of(self, span_ids) -> list:
        groups = {f"span-{i}" for i in span_ids}
        return [t for t in self.tasks if self.job_group.get(t["job"]) in groups]

    def write_seconds(self, suffix: str, lo: float, hi: float) -> float:
        """Total wall time of the writes into a path ending in `suffix`
        that started inside [lo, hi]."""
        return sum(e - s for out, s, e in self.writes
                   if out.rstrip("/").endswith(suffix) and lo <= s <= hi)


def span_metrics(tracer: Tracer, log: EventLog, sid: int) -> dict:
    """Spark work attributed to one span and its descendants."""
    tasks = log.tasks_of(tracer.subtree(sid))
    return {
        "tasks": len(tasks),
        "task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "records_read": sum(t["records_read"] for t in tasks),
    }


def serial_seconds(tracer: Tracer, log: EventLog, sid: int) -> float:
    """Time inside the span during which no task of it was running: the
    driver-side serial work (planning, scheduling, commits, py4j)."""
    s = tracer.spans[sid]
    busy = _union([(t["start"], t["end"]) for t in log.tasks_of(tracer.subtree(sid))],
                  s["start"], s["end"])
    return (s["end"] - s["start"]) - busy
