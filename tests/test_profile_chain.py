"""scripts/profile_chain.py reads its event log through perfbench/eventlog:
task time survives StageCompleted, the finalized log is the one read, and
the driver-serial gap is printed."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profile_chain():
    spec = importlib.util.spec_from_file_location(
        "profile_chain", os.path.join(REPO, "scripts", "profile_chain.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_report_reads_task_time_and_driver_gap(tmp_path):
    info = {"Stage ID": 7, "Stage Attempt ID": 0, "Stage Name": "count at pipeline.py:1",
            "Number of Tasks": 2, "Submission Time": 1000, "Completion Time": 3000}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 7, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": 700, "JVM GC Time": 5}}
    with open(tmp_path / "local-0", "w") as fh:
        for ev in ({"Event": "SparkListenerStageSubmitted", "Stage Info": info}, task, task,
                   {"Event": "SparkListenerStageCompleted", "Stage Info": info}):
            fh.write(json.dumps(ev) + "\n")
    (tmp_path / "local-1.inprogress").write_text("")  # a live session's log: skipped

    lines = _profile_chain().report(str(tmp_path), [(0.5, 4.0)], cpus=4)
    text = "\n".join(lines)
    assert "driver-gap=1.5s" in text
    assert "task-time=1.4s" in text and "parallelism=0.7/4" in text
    stage = [ln for ln in lines if ln.lstrip().startswith("stage")]
    assert len(stage) == 1 and "1.4s tasks" in stage[0] and "count at pipeline.py:1" in stage[0]
    assert lines[-1].endswith(str(tmp_path / "local-0"))
