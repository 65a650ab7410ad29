"""Reduce a Spark event log to per-job-group execution figures.

Spark 4 writes one directory per application (``eventlog_v2_<app>``)
holding rolling ``events_<n>_<app>`` files of JSON lines; the session
must run with ``spark.eventLog.compress=false``. Every job carries the
``spark.jobGroup.id`` and ``perfbench.layer`` properties that were set
when it was submitted, so each job, and each task of its stages, is
attributed to one operation and to the layer path open at the time.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

from spans import LAYER_PROPERTY


@dataclass
class Job:
    group: str
    layer: str
    submitted_ms: int
    completed_ms: int = 0
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    bytes_written: int = 0

    @property
    def seconds(self) -> float:
        return max(0, self.completed_ms - self.submitted_ms) / 1000.0


def _event_files(log_dir: str, app_id: str) -> list[str]:
    app_dir = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(app_dir):
        files = glob.glob(os.path.join(app_dir, "events_*"))
        return sorted(files, key=lambda p: int(re.search(r"events_(\d+)_", p).group(1)))
    single = os.path.join(log_dir, app_id)
    if os.path.exists(single):
        return [single]
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def read_jobs(log_dir: str, app_id: str) -> list[Job]:
    """Every job of the application, with its tasks' metrics summed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job = Job(
                        group=props.get("spark.jobGroup.id", ""),
                        layer=props.get(LAYER_PROPERTY, ""),
                        submitted_ms=e["Submission Time"],
                    )
                    jobs[e["Job ID"]] = job
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].completed_ms = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"], -1))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.stages.add(e["Stage ID"])
                    job.tasks += 1
                    job.run_ms += m["Executor Run Time"]
                    job.cpu_ns += m["Executor CPU Time"]
                    job.gc_ms += m["JVM GC Time"]
                    job.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    job.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    sr = m["Shuffle Read Metrics"]
                    job.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    job.bytes_written += m["Output Metrics"]["Bytes Written"]
    return list(jobs.values())


def by_group(jobs: list[Job]) -> dict[str, list[Job]]:
    out: dict[str, list[Job]] = defaultdict(list)
    for j in jobs:
        out[j.group].append(j)
    return out


def in_layer(job: Job, name: str) -> bool:
    return name in job.layer.split("/")
