"""Spark event-log reader: jobs, stages, tasks, task time, GC time and shuffle
bytes per job group.

Every traced span runs under its own Spark job group. A stage belongs to the
group named in the properties of the job (or stage submission) that ran it,
and every ``SparkListenerTaskEnd`` adds its metrics to its stage's group.
The log must be written uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: set[int] = field(default_factory=set)
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    task_s: float = 0.0  # executor run time
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        self.jobs |= other.jobs
        self.stages |= other.stages
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.gc_s += other.gc_s
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes


def read_events(path: str) -> Iterator[dict]:
    """Events from an event-log file, or from every file below a directory
    (Spark's rolling logs are a directory of parts). Lines that are not JSON
    (a truncated last line of a log still being written) are skipped."""
    if os.path.isdir(path):
        files = sorted(
            p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
        )
    else:
        files = [path]
    for p in files:
        with open(p) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def summarize(events: Iterable[dict]) -> dict[str | None, GroupStats]:
    """Per job group (None for jobs run outside any group) statistics."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, GroupStats] = {}

    def stats(group: str | None) -> GroupStats:
        return out.setdefault(group, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            stats(group).jobs.add(ev["Job ID"])
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info", {})
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            sid = info.get("Stage ID")
            stage_group[sid] = group
            stats(group).stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            s = stats(stage_group.get(sid))
            tm = ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            s.tasks += 1
            s.task_s += tm.get("Executor Run Time", 0) / 1e3
            s.gc_s += tm.get("JVM GC Time", 0) / 1e3
            s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return out
