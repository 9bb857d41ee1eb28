"""Spans recorded around the runner's calls into the program, and the
reduction of Spark's event log onto those spans.

Each span sets the Spark job group to ``<op>/<span id>`` before the call it
wraps, so every job in the event log joins to exactly one (innermost) span.
Nothing here runs inside the program: spans are kept in memory by the
runner, and the event log is read after the SparkContext has stopped.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing and sets
    no job group, so untraced runs pay no tracing cost."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "op": op,
            "parent": parent["id"] if parent else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{op}/{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"{top['op']}/{top['id']}", top["name"])
            else:
                self.sc.setJobGroup("untraced", "untraced")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
        for s in spans
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], node["simpleString"], m["name"])
    for c in node.get("children", []):
        _walk_plan(c, out)


class EventLog:
    """Per-job-group totals from one application's Spark event log."""

    def __init__(self, log_dir: str):
        files = sorted(
            glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
            + glob.glob(os.path.join(log_dir, "local-*")),
            key=os.path.getmtime,
        )
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.execs: dict[int, dict] = {}
        self.acc_node: dict[int, tuple] = {}
        tasks = []
        with open(files[-1]) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "exec": int(props.get("spark.sql.execution.id", -1)),
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in e["Stage IDs"]:
                        self.stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif kind.endswith("SQLExecutionStart"):
                    self.execs[e["executionId"]] = {
                        "start": e["time"] / 1000.0, "end": None,
                        "plan": e.get("physicalPlanDescription", ""),
                    }
                    _walk_plan(e["sparkPlanInfo"], self.acc_node)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(e["sparkPlanInfo"], self.acc_node)
                elif kind.endswith("SQLExecutionEnd"):
                    if e["executionId"] in self.execs:
                        self.execs[e["executionId"]]["end"] = e["time"] / 1000.0
        self.tasks = [self._task_row(t) for t in tasks]

    def _task_row(self, e: dict) -> dict:
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        job = self.jobs.get(self.stage_job.get(e["Stage ID"], -1), {})
        sql: dict[tuple, float] = {}
        for a in info.get("Accumulables", []):
            node = self.acc_node.get(a.get("ID"))
            if node is not None:
                sql[node] = sql.get(node, 0.0) + _num(a.get("Update"))
        sw = m.get("Shuffle Write Metrics") or {}
        return {
            "group": job.get("group"),
            "stage": e["Stage ID"],
            "duration": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
            "cpu_s": _num(m.get("Executor CPU Time")) / 1e9,
            "gc_s": _num(m.get("JVM GC Time")) / 1000.0,
            "shuffle_write_bytes": _num(sw.get("Shuffle Bytes Written")),
            "spill_bytes": _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled")),
            "input_bytes": _num((m.get("Input Metrics") or {}).get("Bytes Read")),
            "sql": sql,
        }

    def jobs_in(self, groups: set[str]) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def tasks_in(self, groups: set[str]) -> list[dict]:
        return [t for t in self.tasks if t["group"] in groups]

    def totals(self, groups: set[str]) -> dict:
        ts = self.tasks_in(groups)
        out = {k: sum(t[k] for t in ts) for k in
               ("cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes")}
        out["tasks"] = len(ts)
        out["jobs"] = len(self.jobs_in(groups))
        return out

    def sql_sum(self, groups: set[str], match) -> float:
        """Sum of SQL-metric task updates whose (node name, node string,
        metric name) satisfies ``match``."""
        return sum(
            v for t in self.tasks_in(groups) for k, v in t["sql"].items() if match(*k)
        )

    def stage_skew(self, groups: set[str]) -> float:
        """max/median task time of the widest stage among the groups' tasks."""
        by_stage: dict[int, list] = {}
        for t in self.tasks_in(groups):
            by_stage.setdefault(t["stage"], []).append(t["duration"])
        if not by_stage:
            return 0.0
        d = max(by_stage.values(), key=len)
        med = statistics.median(d)
        return max(d) / med if med > 0 else 0.0

    def job_cover(self, groups: set[str]) -> float:
        """Wall time covered by at least one of the groups' jobs."""
        return union_length(
            (j["submit"], j["end"]) for j in self.jobs_in(groups) if j["end"] is not None
        )

    def sink_write_end(self, groups: set[str], store: str):
        """(start, end) of the SQL execution among the groups' jobs that
        inserts into ``store`` itself (not into its commit-log staging)."""
        ids = {j["exec"] for j in self.jobs_in(groups)}
        hits = [
            (x["start"], x["end"]) for i, x in self.execs.items()
            if i in ids and x["end"] is not None
            and "InsertIntoHadoopFsRelationCommand" in x["plan"]
            and f"{store}," in x["plan"]
        ]
        return max(hits, key=lambda h: h[1]) if hits else None
