"""Task-level counts from Spark's event log.

The traced run starts the session with ``spark.eventLog.enabled``; after the
session stops, the log is parsed here into jobs, stages and tasks with wall
clock times, so each job can be attributed to the benchmark span that was
open when it started.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    id: int
    tasks: list[float] = field(default_factory=list)  # task durations, s
    shuffle_write_bytes: int = 0


@dataclass
class Job:
    id: int
    start: float
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def task_seconds(self, lo: float, hi: float) -> float:
        """Summed duration of tasks of jobs that started in [lo, hi]."""
        return sum(
            sum(self.stages[s].tasks)
            for j in self.jobs.values() if lo <= j.start <= hi
            for s in j.stage_ids if s in self.stages
        )

    def jobs_in(self, lo: float, hi: float) -> list[Job]:
        return [j for j in self.jobs.values() if lo <= j.start <= hi]

    def main_stage(self, jobs: list[Job]) -> Stage | None:
        """The stage with the most task time among ``jobs`` (the apply
        kernel's stage)."""
        stages = [self.stages[s] for j in jobs for s in j.stage_ids
                  if s in self.stages and self.stages[s].tasks]
        return max(stages, key=lambda st: sum(st.tasks), default=None)


def load(eventlog_dir: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    paths = sorted(os.path.join(d, n) for d, _, ns in os.walk(eventlog_dir)
                   for n in ns if not n.startswith("."))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                                             stage_ids=list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                    st.tasks.append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
    return EventLog(jobs, stages)


def max_over_median(xs: list[float]) -> float:
    med = statistics.median(xs) if xs else 0.0
    return max(xs) / med if med > 0 else 0.0
