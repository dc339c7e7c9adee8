"""Tracing for the benchmark: in-memory spans and the Spark event-log reader.

Spans are recorded by the benchmark's own code around each call into a layer
of the program (session start, plan build, write, stream start, micro-batch
progress). They stay in memory and are written once, when the run ends.

The event-log reader turns Spark's uncompressed local event log into
per-layer accounting: task metrics summed over a set of job groups, job and
task counts per streaming micro-batch, and the SQL metrics of one physical
operator (the ``MapInArrow`` stage the Avro encoder runs in).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """In-memory span recorder. Disabled, it records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.items: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, **attrs) -> int:
        """Record a finished span (wall-clock seconds); returns its id."""
        if not self.enabled:
            return 0
        span_id = next(self._ids)
        self.items.append(
            {
                "id": span_id,
                "parent": self._stack[-1] if self._stack else None,
                "name": name,
                "start": start,
                "end": end,
                **attrs,
            }
        )
        return span_id

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed block; spans opened inside it are its children."""
        if not self.enabled:
            yield
            return
        span_id = next(self._ids)
        rec = {
            "id": span_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.items.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.items, key=lambda r: r["start"]):
                fh.write(json.dumps(rec) + "\n")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for an uncompressed local event log in ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def _events(log_dir: str, app_id: str):
    """Events of one application, from a single file or a rolling log."""
    paths = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    paths += glob.glob(os.path.join(log_dir, app_id))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")

    def part_no(p: str) -> int:
        base = os.path.basename(p)
        return int(base.split("_")[1]) if base.startswith("events_") else 0

    for path in sorted(paths, key=part_no):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


class EventLog:
    """Per-layer accounting from one application's event log."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        self.job_props: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[tuple[int, dict]] = []  # (stage id, task metrics)
        self.stage_accums: list[tuple[int, int, float]] = []  # stage, accum, value
        self.accum_node: dict[int, tuple[str, str, str]] = {}  # id -> node, name, type
        for ev in _events(log_dir, app_id):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                self.job_props[ev["Job ID"]] = ev.get("Properties") or {}
                for sid in ev["Stage IDs"]:
                    self.stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                self.tasks.append((ev["Stage ID"], ev["Task Metrics"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                for acc in info.get("Accumulables", []):
                    try:
                        value = float(acc["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                    self.stage_accums.append((info["Stage ID"], acc["ID"], value))
            elif kind.endswith(
                ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
            ):
                self._index_plan(ev["sparkPlanInfo"])

    def _index_plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.accum_node[m["accumulatorId"]] = (
                node["nodeName"],
                m["name"],
                m["metricType"],
            )
        for child in node.get("children", []):
            self._index_plan(child)

    def _job_of_stage(self, stage_id: int) -> dict:
        return self.job_props.get(self.stage_job.get(stage_id, -1), {})

    def _selected(self, stage_id: int, groups: set[str]) -> bool:
        return self._job_of_stage(stage_id).get("spark.jobGroup.id") in groups

    def task_totals(self, groups: set[str]) -> dict[str, float]:
        """Spark's task accounting summed over the jobs of ``groups``."""
        out = defaultdict(float)
        for stage_id, tm in self.tasks:
            if not self._selected(stage_id, groups):
                continue
            out["executor_run_ms"] += tm.get("Executor Run Time", 0)
            out["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            out["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
            out["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            out["shuffle_fetch_wait_ms"] += tm.get("Shuffle Read Metrics", {}).get(
                "Fetch Wait Time", 0
            )
        return dict(out)

    def node_metric(self, groups: set[str], node: str, metric: str) -> float:
        """One SQL metric of one physical operator, summed over the stages of
        ``groups``; timings come back in milliseconds."""
        total = 0.0
        for stage_id, acc_id, value in self.stage_accums:
            where = self.accum_node.get(acc_id)
            if where is None or where[0] != node or where[1] != metric:
                continue
            if self._selected(stage_id, groups):
                total += value / 1e6 if where[2] == "nsTiming" else value
        return total

    def batches(self, groups: set[str]) -> list[dict]:
        """Jobs, tasks and widest stage of every streaming micro-batch run by
        the streams whose run ids are ``groups``."""
        jobs = defaultdict(set)
        for job_id, props in self.job_props.items():
            batch = props.get("streaming.sql.batchId")
            group = props.get("spark.jobGroup.id")
            if batch is not None and group in groups:
                jobs[(group, int(batch))].add(job_id)
        stage_tasks = defaultdict(int)
        for stage_id, _tm in self.tasks:
            stage_tasks[stage_id] += 1
        out = []
        for key, job_ids in sorted(jobs.items()):
            stages = [s for s, j in self.stage_job.items() if j in job_ids]
            out.append(
                {
                    "run": key[0],
                    "batch": key[1],
                    "jobs": len(job_ids),
                    "tasks": sum(stage_tasks[s] for s in stages),
                    "widest_stage_tasks": max(
                        (stage_tasks[s] for s in stages), default=0
                    ),
                }
            )
        return out
