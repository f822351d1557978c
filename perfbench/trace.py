"""Spans around calls into the engine, attributed through Spark's event log.

Each span sets its own Spark job group, so every job, stage and task the
call issues carries the span's id in the event log. Spans stay in memory
until the run ends; the event log is read once, after the session stops
and Spark has flushed it.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{len(self.spans)}-{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            for prop in _GROUP_PROPS:
                self.sc.setLocalProperty(prop, None)
            self.spans.append({"name": name, "group": group, "start": t0, "end": t1})



def write_spans(spans: list[dict], path: str) -> None:
    with open(path, "w") as f:
        json.dump(spans, f, indent=1)


def group_metrics(log_path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks and summed task metrics."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    with open(log_path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or m is None:
                    continue
                g = out[group]
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return out

