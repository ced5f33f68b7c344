"""Reader for Spark's plain-JSON event log.

The traced run starts its session with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``,
so the log is one JSON object per line. Only jobs, completed stages and
finished tasks are kept; each carries its wall-clock time in epoch
milliseconds, so the benchmark attributes them to operations by time
window (one client, so operations never overlap).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Task:
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ms: float
    gc_ms: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    job_submit_ms: list[int] = field(default_factory=list)
    stage_submit_ms: list[int] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)

    def window(self, start_ms: float, end_ms: float) -> "EventLog":
        """Jobs, stages and tasks that started inside ``[start_ms, end_ms]``."""

        def inside(t: float) -> bool:
            return start_ms <= t <= end_ms

        return EventLog(
            [t for t in self.job_submit_ms if inside(t)],
            [t for t in self.stage_submit_ms if inside(t)],
            [t for t in self.tasks if inside(t.launch_ms)],
        )


def _task(event: dict) -> Task:
    info = event["Task Info"]
    m = event.get("Task Metrics") or {}
    read = m.get("Shuffle Read Metrics") or {}
    write = m.get("Shuffle Write Metrics") or {}
    return Task(
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read_bytes=read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
        shuffle_write_bytes=write.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            log.job_submit_ms.append(event["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            submitted = event["Stage Info"].get("Submission Time")
            if submitted is not None:
                log.stage_submit_ms.append(submitted)
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(event))
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)
