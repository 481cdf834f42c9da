"""Per-job-group totals from a Spark event log.

The traced run tags every layer's jobs with `setJobGroup(<layer>)`;
this reader attributes each stage to the group of the first job that
lists it (a stage reused by a later job ran its tasks only once) and
sums the stage's task metrics into that group.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    task_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    # per stage: [sum of task ms, longest task ms]
    stages: dict[int, list[int]] = field(default_factory=dict)

    @property
    def max_task_share(self) -> float:
        """Longest task's share of its stage's task time, for the stage
        with the most task time in the group (1.0 = fully serialized)."""
        if not self.stages:
            return 0.0
        total, longest = max(self.stages.values())
        return longest / total if total else 0.0


def read_groups(path: str) -> dict[str, GroupStats]:
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    with open(path, encoding="utf-8", errors="replace") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, group or "")
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                g = groups.setdefault(stage_group.get(sid, ""), GroupStats())
                info = ev.get("Task Info") or {}
                ms = max(info.get("Finish Time", 0) - info.get("Launch Time", 0), 0)
                tm = ev.get("Task Metrics") or {}
                g.task_ms += ms
                g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                g.records_read += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                st = g.stages.setdefault(sid, [0, 0])
                st[0] += ms
                st[1] = max(st[1], ms)
    return groups


def app_log(log_dir: str) -> str:
    """The single application log a traced run leaves in `log_dir`."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
