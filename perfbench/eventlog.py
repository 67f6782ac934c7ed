"""Offline attribution from Spark's local event log (no UI, no REST).

Jobs are tagged ``<workload>/<op>/<phase>`` with ``setJobGroup``; the
stage-submitted event carries that tag in its properties, and every task
and stage metric below is summed per tag.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # per stage id: its tasks' wall ms, and its own wall ms
    stage_tasks: dict[int, list[int]] = field(default_factory=dict)
    stage_wall_ms: dict[int, int] = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        for k in (
            "jobs", "stages", "tasks", "cpu_ns", "input_bytes", "input_records",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.stage_tasks.update(other.stage_tasks)
        self.stage_wall_ms.update(other.stage_wall_ms)

    def slowest_stage_skew(self) -> float | None:
        """max / median task time in the group's slowest stage."""
        if not self.stage_wall_ms:
            return None
        stage = max(self.stage_wall_ms, key=lambda s: (self.stage_wall_ms[s], s))
        times = self.stage_tasks.get(stage) or []
        med = statistics.median(times) if times else 0
        if med <= 0:
            return 1.0 if times else None
        return max(times) / med


_GROUP = "spark.jobGroup.id"


def parse(lines) -> dict[str, GroupStats]:
    """Per-job-group stats from event-log JSON lines. Events of untagged
    jobs are grouped under ``""``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            groups[(ev.get("Properties") or {}).get(_GROUP, "")].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(_GROUP, "")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            g = groups[stage_group.get(sid, "")]
            g.stages += 1
            if "Completion Time" in info and "Submission Time" in info:
                g.stage_wall_ms[sid] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = groups[stage_group.get(sid, "")]
            g.tasks += 1
            info = ev.get("Task Info") or {}
            if "Finish Time" in info and "Launch Time" in info:
                g.stage_tasks.setdefault(sid, []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
            m = ev.get("Task Metrics") or {}
            g.cpu_ns += m.get("Executor CPU Time", 0)
            inp = m.get("Input Metrics") or {}
            g.input_bytes += inp.get("Bytes Read", 0)
            g.input_records += inp.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(groups)


def read_dir(path: str) -> dict[str, GroupStats]:
    """Parse the single application log Spark wrote into ``path``."""
    files = [f for f in os.listdir(path) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {files}")
    with open(os.path.join(path, files[0]), encoding="utf-8") as fh:
        return parse(fh)


def timed(tag: str) -> bool:
    """True for the tag of a timed operation: not untagged, not set-up,
    not a correctness check."""
    return tag != "" and tag.split("/")[1] not in ("setup", "check")


def select(groups: dict[str, GroupStats], pred) -> GroupStats:
    """Sum of the groups whose tag satisfies ``pred``."""
    out = GroupStats()
    for tag, g in groups.items():
        if pred(tag):
            out.add(g)
    return out


def median_skew(groups: dict[str, GroupStats], heads) -> float:
    """Median over operations of each one's slowest-stage skew; ``heads``
    are the tag prefixes, one per operation."""
    skews = []
    for head in heads:
        skew = select(groups, lambda t: t.startswith(head)).slowest_stage_skew()
        if skew is not None:
            skews.append(skew)
    return statistics.median(skews) if skews else 0.0
