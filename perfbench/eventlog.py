"""Spark event-log reader: per-stage metrics and per-window summaries.

The benchmark turns on Spark's JSON event log (uncompressed, not rolling)
and reads it after ``spark.stop()`` has finalized it. Nothing inside the
engine is instrumented: every number here comes from the listener events
Spark already writes.

- ``TaskEnd`` metrics are *accumulated* per (stage, attempt). A later
  ``StageCompleted`` only adds the stage's name, task count and interval;
  it never replaces what the tasks reported.
- Only the finalized log is read. A file still named ``*.inprogress``
  belongs to a session that has not stopped, and its tail is missing.
- A window (the wall interval of one timed pass) is summarised as the
  stages that ran inside it, their task time, shuffle bytes and spill,
  and the driver-serial gap: window wall minus the union of the stage
  intervals, i.e. time during which no stage was running.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

MB = 1024.0 * 1024.0


@dataclass
class Stage:
    stage_id: int
    attempt: int
    name: str = ""
    n_tasks: int = 0
    t0: float | None = None  # submission, epoch seconds
    t1: float | None = None  # completion, epoch seconds
    tasks_ended: int = 0
    task_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled

    @property
    def wall_s(self) -> float:
        if self.t0 is None or self.t1 is None:
            return 0.0
        return max(0.0, self.t1 - self.t0)


def find_log(event_dir: str) -> str:
    """The one finalized event-log file under ``event_dir``.

    Raises FileNotFoundError when only an ``.inprogress`` log exists (the
    session was not stopped) or when the directory holds no log at all.
    """
    names = sorted(os.listdir(event_dir))
    done = [
        n for n in names
        if not n.endswith(".inprogress") and os.path.isfile(os.path.join(event_dir, n))
    ]
    if not done:
        raise FileNotFoundError(
            f"no finalized event log in {event_dir} (found {names}); "
            "stop the SparkSession before reading its log"
        )
    if len(done) > 1:
        raise ValueError(f"expected one event log in {event_dir}, found {done}")
    return os.path.join(event_dir, done[0])


def _stage(stages: dict, stage_id: int, attempt: int) -> Stage:
    st = stages.get((stage_id, attempt))
    if st is None:
        st = stages[(stage_id, attempt)] = Stage(stage_id, attempt)
    return st


def read_stages(path: str) -> dict[tuple[int, int], Stage]:
    """Parse one event-log file into {(stage id, attempt): Stage}."""
    stages: dict[tuple[int, int], Stage] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                si = ev["Stage Info"]
                st = _stage(stages, si["Stage ID"], si.get("Stage Attempt ID", 0))
                st.name = si["Stage Name"].split("\n")[0]
                st.n_tasks = si["Number of Tasks"]
                if "Submission Time" in si:
                    st.t0 = si["Submission Time"] / 1000.0
                if "Completion Time" in si:
                    st.t1 = si["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = _stage(stages, ev["Stage ID"], ev["Stage Attempt ID"])
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                st.tasks_ended += 1
                st.task_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st.shuffle_read_bytes += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                st.shuffle_write_bytes += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                )
                st.spill_bytes += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
    return stages


def in_window(stages: dict, t0: float, t1: float, slack_s: float = 0.05) -> list[Stage]:
    """Stages submitted and completed inside [t0, t1], with slack for the
    whole-millisecond event-log clock."""
    return sorted(
        (
            s for s in stages.values()
            if s.t0 is not None and s.t1 is not None
            and s.t0 >= t0 - slack_s and s.t1 <= t1 + slack_s
        ),
        key=lambda s: (s.t0, s.stage_id),
    )


def busy_s(stages: list[Stage], t0: float, t1: float) -> float:
    """Length of the union of the stage intervals, clipped to [t0, t1]."""
    busy, cur = 0.0, None
    for a, b in sorted((max(s.t0, t0), min(s.t1, t1)) for s in stages):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            if cur is not None:
                busy += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        busy += cur[1] - cur[0]
    return busy


def summarize(stages: list[Stage], t0: float, t1: float) -> dict:
    """Totals for the stages of one window [t0, t1] (epoch seconds)."""
    wall = max(0.0, t1 - t0)
    task_s = sum(s.task_ms for s in stages) / 1000.0
    stage_wall = sum(s.wall_s for s in stages)
    return {
        "wall_s": wall,
        "stages": len(stages),
        "tasks": sum(s.tasks_ended for s in stages),
        "single_task_stages": sum(1 for s in stages if s.n_tasks == 1),
        "task_s": task_s,
        "cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1000.0,
        "stage_wall_s": stage_wall,
        # mean number of running tasks while a stage of the window ran
        "parallelism": task_s / stage_wall if stage_wall > 0 else 0.0,
        "input_mb": sum(s.input_bytes for s in stages) / MB,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / MB,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MB,
        "spill_mb": sum(s.spill_bytes for s in stages) / MB,
        "driver_gap_s": max(0.0, wall - busy_s(stages, t0, t1)),
    }
