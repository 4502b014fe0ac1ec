"""Per-job-group Spark metrics from an uncompressed event log.

The benchmark tags every phase it runs with ``sc.setJobGroup`` and
switches the event log on (``spark.eventLog.compress=false`` and
rolling off, so the log is one JSON-lines file). This module reads that
file and sums task metrics per job group. It needs nothing but the
standard library, so it runs (and is tested) without Spark.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

# physical operators that hand rows to a Python worker; a stage whose
# RDDs were created under one of these scopes is a Python stage
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "AggregateInPandas", "WindowInPandas",
)

_NO_GROUP = ""


@dataclass
class GroupStats:
    """Totals for one job group (ms, ns and bytes as Spark reports them)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_run_ms: int = 0
    python_stages: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class _State:
    stage_group: dict[tuple[int, int], str] = field(default_factory=dict)
    stage_run_ms: dict[tuple[int, int], int] = field(default_factory=dict)


def read_events(path: str) -> Iterator[dict]:
    """Events of one log file. A torn last line (log still being
    written) is skipped; any other malformed line raises."""
    with open(path, encoding="utf-8") as fh:
        lines = fh.readlines()
    for i, line in enumerate(lines):
        try:
            yield json.loads(line)
        except json.JSONDecodeError:
            if i == len(lines) - 1:
                return
            raise


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or _NO_GROUP


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope") or ""
        if any(f'"name":"{n}"' in scope for n in PYTHON_NODES):
            return True
    return False


def group_stats(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Sum jobs, stages, tasks and task metrics per job group. Work run
    outside any group lands under the empty-string key."""
    out: dict[str, GroupStats] = {}
    st = _State()

    def g(name: str) -> GroupStats:
        return out.setdefault(name, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g(_group(ev.get("Properties"))).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st.stage_group[key] = _group(ev.get("Properties"))
            g(st.stage_group[key]).stages += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if _is_python_stage(info):
                grp = g(st.stage_group.get(key, _NO_GROUP))
                grp.python_stages += 1
                grp.python_run_ms += st.stage_run_ms.get(key, 0)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            grp = g(st.stage_group.get(key, _NO_GROUP))
            grp.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                grp.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            grp.run_ms += run_ms
            st.stage_run_ms[key] = st.stage_run_ms.get(key, 0) + run_ms
            grp.cpu_ns += m.get("Executor CPU Time", 0)
            grp.gc_ms += m.get("JVM GC Time", 0)
            grp.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            grp.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            grp.shuffle_write_records += sw.get("Shuffle Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            grp.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return out


def total(stats: dict[str, GroupStats], groups: Iterable[str]) -> GroupStats:
    """Sum of the named groups (missing groups count as empty)."""
    acc = GroupStats()
    for name in groups:
        if name in stats:
            acc.add(stats[name])
    return acc
