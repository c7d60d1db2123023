"""Reader for Spark's JSON event log, grouped by job group.

The traced run starts its session with ``spark.eventLog.enabled=true``,
``spark.eventLog.dir`` under the work directory and
``spark.eventLog.compress=false`` (Spark 4.1 compresses with zstd by
default, which Python cannot read here). Spark 4.1 writes a rolling log:
``eventlog_v2_<app>/events_<n>_<app>`` files, read in ``n`` order. The log
is complete only once the SparkContext has stopped.

Every measured phase of the traced run sets its own job group, so the
reader sums task metrics per group: executor CPU and GC time, spill,
peak execution memory, input records, shuffle bytes, and the MapInArrow
node's Python metrics (bytes to and from the Python workers, worker start
and initialisation time).
"""

from __future__ import annotations

import glob
import json
import os
import re

_PYTHON_ACCUMS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
}


def _event_files(log_dir: str) -> list[str]:
    apps = sorted(glob.glob(os.path.join(log_dir, "*")))
    files = []
    for app in apps:
        if os.path.isdir(app):
            parts = glob.glob(os.path.join(app, "events_*"))
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
            files += parts
        elif not os.path.basename(app).startswith("."):
            files.append(app)  # a non-rolling log is one file per app
    return files


class EventLog:
    def __init__(self, log_dir: str):
        self.job_group: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.tasks_by_stage: dict[int, list[dict]] = {}
        for path in _event_files(log_dir):
            with open(path) as f:
                for line in f:
                    self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.job_group[e["Job ID"]] = props.get("spark.jobGroup.id")
            self.job_stages[e["Job ID"]] = e["Stage IDs"]
        elif kind == "SparkListenerTaskEnd":
            self.tasks_by_stage.setdefault(e["Stage ID"], []).append(e)

    def jobs(self, group: str) -> list[int]:
        return sorted(j for j, g in self.job_group.items() if g == group)

    def totals(self, group: str) -> dict:
        """Task metrics summed over every task of every job in ``group``."""
        stages = {s for j in self.jobs(group) for s in self.job_stages[j]}
        out = {
            "jobs": len(self.jobs(group)),
            "tasks": 0,
            "cpu_ns": 0,
            "gc_ms": 0,
            "spill_bytes": 0,
            "peak_exec_mem": 0,
            "records_read": 0,
            "shuffle_bytes_written": 0,
            **{v: 0 for v in _PYTHON_ACCUMS.values()},
        }
        for sid in stages:
            for t in self.tasks_by_stage.get(sid, ()):
                m = t.get("Task Metrics") or {}
                out["tasks"] += 1
                out["cpu_ns"] += m.get("Executor CPU Time", 0)
                out["gc_ms"] += m.get("JVM GC Time", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                out["peak_exec_mem"] = max(out["peak_exec_mem"], m.get("Peak Execution Memory", 0))
                out["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                out["shuffle_bytes_written"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                for acc in t["Task Info"].get("Accumulables", ()):
                    key = _PYTHON_ACCUMS.get(acc.get("Name"))
                    if key:
                        out[key] += int(acc.get("Update", 0))
        return out
