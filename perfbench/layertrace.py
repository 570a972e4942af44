"""Spans around layer calls, and per-layer task metrics from Spark's
event log.

A span is (name, start, end, parent, run_id), kept in memory and written
out once at the end. While a span is open its name is the Spark job
group, so every task the layer runs can be attributed to it from the
``SparkListenerJobStart`` / ``SparkListenerTaskEnd`` records of the event
log.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import uuid

# per-layer task metrics, reduced from SparkListenerTaskEnd records
TASK_METRICS = (
    "task_s",
    "task_max_over_median",
    "sched_delay_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
)
# reported per pipeline and per incremental run only: at this scale they
# read 0 in most single layers
RARE_METRICS = ("spill_bytes", "gc_s")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(parent, parent)
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent,
                 "run_id": self.run_id}
            )

    def walls(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The event log of app_id: one file, or (rolling logs, Spark 4's
    default) a directory of numbered event files."""
    for name in os.listdir(log_dir):
        if app_id in name:
            path = os.path.join(log_dir, name)
            if not os.path.isdir(path):
                return [path]
            files = [n for n in os.listdir(path) if n.startswith("events_")]
            files.sort(key=lambda n: int(n.split("_")[1]))
            return [os.path.join(path, n) for n in files]
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def layer_task_metrics(log_paths: list[str]) -> dict[str, dict]:
    """Reduce an event log to TASK_METRICS plus a job count per job group.

    sched_delay_s follows the Spark UI: task duration minus run,
    deserialize, result-serialize and getting-result time. The skew figure
    is max/median executor run time within the layer's heaviest stage.
    """
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, dict[int, list[tuple[dict, dict]]]] = {}
    for ev in _events(log_paths):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                jobs[group] = jobs.get(group, 0) + 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is not None and ev.get("Task Metrics"):
                tasks.setdefault(group, {}).setdefault(ev["Stage ID"], []).append(
                    (ev["Task Info"], ev["Task Metrics"])
                )
    out = {}
    for group, stages in tasks.items():
        r = dict.fromkeys((*TASK_METRICS, *RARE_METRICS, "input_bytes"), 0.0)
        heaviest, heaviest_s = [], -1.0
        for ts in stages.values():
            runs = [m["Executor Run Time"] / 1000.0 for _, m in ts]
            if sum(runs) > heaviest_s:
                heaviest, heaviest_s = runs, sum(runs)
            for info, m in ts:
                run = m["Executor Run Time"]
                dur = info["Finish Time"] - info["Launch Time"]
                delay = dur - run - m["Executor Deserialize Time"] - m[
                    "Result Serialization Time"
                ] - (info["Finish Time"] - info["Getting Result Time"]
                     if info.get("Getting Result Time") else 0)
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                r["task_s"] += run / 1000.0
                r["sched_delay_s"] += max(delay, 0) / 1000.0
                r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                r["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                r["gc_s"] += m["JVM GC Time"] / 1000.0
                r["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        med = statistics.median(heaviest) if heaviest else 0.0
        r["task_max_over_median"] = max(heaviest) / med if med > 0 else 1.0
        r["jobs"] = jobs.get(group, 0)
        out[group] = r
    return out


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)
