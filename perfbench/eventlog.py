"""Fold a Spark event log (uncompressed JSON lines) into per-job-group totals.

Each job carries the job group that was set on the submitting thread
(``spark.jobGroup.id`` in the JobStart properties); its stages and their
tasks inherit it.  Task metrics give executor CPU, shuffle, spill and
output bytes; the ``ArrowEvalPython`` SQL metrics, reported per task as
named accumulables, give the time spent in Python workers and the bytes
that crossed the Arrow boundary in each direction.  Jobs submitted with no
group set fall under ``UNGROUPED``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass

UNGROUPED = "<none>"
PYTHON_TIME = "time to run Python workers"
ARROW_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    python_s: float = 0.0
    arrow_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    out_bytes: int = 0

    def add(self, other: "GroupMetrics") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def parse(lines) -> dict[str, GroupMetrics]:
    """``lines``: an iterable of event-log lines (an open file works)."""
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    stage_group: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            m = groups[stage_group.get(ev["Stage ID"], UNGROUPED)]
            m.tasks += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                m.failed_tasks += 1
            tm = ev.get("Task Metrics") or {}
            m.cpu_s += (
                tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)
            ) / 1e9
            m.shuffle_bytes += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            m.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            m.out_bytes += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            for acc in ev["Task Info"].get("Accumulables", []):
                name = acc.get("Name")
                if name == PYTHON_TIME:
                    m.python_s += _num(acc.get("Update")) / 1e3
                elif name in ARROW_BYTES:
                    m.arrow_bytes += int(_num(acc.get("Update")))
    return dict(groups)


def parse_file(path: str) -> dict[str, GroupMetrics]:
    with open(path) as f:
        return parse(f)


def total(groups: dict[str, GroupMetrics], names=None) -> GroupMetrics:
    out = GroupMetrics()
    for g, m in groups.items():
        if names is None or g in names:
            out.add(m)
    return out
