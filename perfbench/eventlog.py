"""Fold Spark's uncompressed JSON event log into per-job-group counts.

The traced run tags every timed call with ``sc.setJobGroup(tag, ...)``;
each job carries that tag in its properties, and each task in a stage
counts toward the group of the first job that listed the stage. Stdlib
only: the log is written with ``spark.eventLog.compress=false``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Group:
    jobs: int = 0
    spans_ms: list[tuple[int, int]] = field(default_factory=list)
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_s: float = 0.0
    spill_bytes: int = 0
    python_worker_s: float = 0.0
    # (stage, attempt) -> shuffle records read by each task
    task_records: dict[tuple[int, int], list[int]] = field(default_factory=dict)

    def job_s(self) -> float:
        """Length of the union of this group's job spans."""
        total, end = 0, None
        for s, e in sorted(self.spans_ms):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total / 1e3

    def max_task_share(self) -> float:
        """Largest share of a shuffle-reading stage's records that one
        task read (1/n_tasks when perfectly even)."""
        shares = [max(r) / sum(r) for r in self.task_records.values()
                  if len(r) > 1 and sum(r) > 0]
        return max(shares, default=0.0)


def fold(path: str) -> dict[str, Group]:
    groups: dict[str, Group] = {}
    stage_group: dict[int, str] = {}
    open_jobs: dict[int, tuple[str, int]] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                tag = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if tag is None:
                    continue
                open_jobs[e["Job ID"]] = (tag, e["Submission Time"])
                for s in e["Stage IDs"]:
                    stage_group.setdefault(s, tag)
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in open_jobs:
                tag, start = open_jobs.pop(e["Job ID"])
                g = groups.setdefault(tag, Group())
                g.jobs += 1
                g.spans_ms.append((start, e["Completion Time"]))
            elif kind == "SparkListenerTaskEnd":
                tag = stage_group.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if tag is None or tm is None:
                    continue
                g = groups.setdefault(tag, Group())
                g.executor_cpu_s += tm["Executor CPU Time"] / 1e9
                g.gc_s += tm["JVM GC Time"] / 1e3
                sw = tm["Shuffle Write Metrics"]
                g.shuffle_write_bytes += sw["Shuffle Bytes Written"]
                g.shuffle_write_s += sw["Shuffle Write Time"] / 1e9
                g.spill_bytes += tm["Disk Bytes Spilled"]
                key = (e["Stage ID"], e["Stage Attempt ID"])
                g.task_records.setdefault(key, []).append(
                    tm["Shuffle Read Metrics"]["Total Records Read"])
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Name") == "time to run Python workers":
                        g.python_worker_s += float(a["Update"]) / 1e3
    return groups
