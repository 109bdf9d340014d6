"""Offline reader for Spark's own JSON event log.

The log must be uncompressed and non-rolling (one JSON object per
line). Jobs are attributed to the ``spark.jobGroup.id`` local property
they were submitted under; stages and tasks follow their job.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

NO_GROUP = "(none)"


@dataclass
class GroupStats:
    jobs: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    stage_ids: set = field(default_factory=set)

    @property
    def stages(self) -> int:
        """Completed stages; stages a job skipped are not counted."""
        return len(self.stage_ids)


def read_groups(lines) -> dict[str, GroupStats]:
    """Per job group: jobs, completed stages and summed task metrics. ``lines`` is any iterable of event-log lines."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, NO_GROUP)].stage_ids.add(sid)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], NO_GROUP)]
            m = ev.get("Task Metrics") or {}
            g.task_run_s += m.get("Executor Run Time", 0) / 1e3
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out = m.get("Output Metrics") or {}
            g.output_bytes += out.get("Bytes Written", 0)
            g.output_records += out.get("Records Written", 0)
    return dict(groups)


def read_file(path: str) -> dict[str, GroupStats]:
    with open(path) as f:
        return read_groups(f)
