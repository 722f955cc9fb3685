"""Spark event-log reader: per-job-group stage and task metrics.

The benchmark tags every timed call with ``sc.setJobGroup`` and runs the
traced session with ``spark.eventLog.enabled``. ``read_groups`` folds the
JSON-lines log into one :class:`GroupStats` per job group.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

_MB = 1024.0 * 1024.0
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupStats:
    """What Spark ran for one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    result_mb: float = 0.0
    peak_exec_mem_mb: float = 0.0
    python_sent_mb: float = 0.0
    python_returned_mb: float = 0.0
    # max over median task time, in the stage where that ratio is worst
    task_skew: float = 1.0
    # (submission, completion) of every stage, epoch milliseconds
    stage_intervals: list[tuple[int, int]] = field(default_factory=list)


def span_s(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of ``[start, end]`` millisecond intervals, in s."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def event_log_file(log_dir: Path) -> Path:
    """The single application log a session wrote into ``log_dir``."""
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]


def read_groups(path: Path) -> dict[str, GroupStats]:
    """Fold the event log at ``path`` into per-job-group statistics.
    Jobs launched outside any job group are ignored."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}
    task_times: dict[int, list[int]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                stats.setdefault(group, GroupStats()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                _add_task(stats[group], ev)
                info = ev["Task Info"]
                task_times.setdefault(ev["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None or "Submission Time" not in info:
                    continue
                g = stats[group]
                g.stages += 1
                g.stage_intervals.append(
                    (info["Submission Time"], info["Completion Time"])
                )
                times = task_times.pop(info["Stage ID"], [])
                if len(times) >= 2:
                    med = statistics.median(times)
                    g.task_skew = max(g.task_skew, max(times) / med if med else 1.0)
    return stats


def _add_task(g: GroupStats, ev: dict) -> None:
    g.tasks += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        g.tasks_failed += 1
    m = ev.get("Task Metrics") or {}
    g.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
    g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1000.0
    read = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_mb += (
        read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    ) / _MB
    g.shuffle_write_mb += (
        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
    )
    g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
    g.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
    g.result_mb += m.get("Result Size", 0) / _MB
    g.peak_exec_mem_mb = max(g.peak_exec_mem_mb, m.get("Peak Execution Memory", 0) / _MB)
    for acc in ev["Task Info"].get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if name == _PY_SENT:
            g.python_sent_mb += float(update) / _MB
        elif name == _PY_RETURNED:
            g.python_returned_mb += float(update) / _MB
