"""The event-log reader: finalized logs only, TaskEnd metrics accumulated
per stage, and real numbers from a tiny shuffling job."""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402


def _events(path, events) -> None:
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_only_the_finalized_log_is_read(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "local-0").write_text("")
    assert eventlog.find_log(str(tmp_path)) == str(tmp_path / "local-0")


def test_stage_completed_keeps_task_metrics(tmp_path):
    info = {"Stage ID": 3, "Stage Attempt ID": 0, "Stage Name": "collect at x\nmore",
            "Number of Tasks": 2, "Submission Time": 1000, "Completion Time": 3000}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": 700, "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 10,
                                                      "Local Bytes Read": 20},
                             "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}}
    log = tmp_path / "local-0"
    _events(log, [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info},
        task, task,
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ])
    st = eventlog.read_stages(str(log))[(3, 0)]
    assert (st.task_ms, st.gc_ms, st.tasks_ended) == (1400, 10, 2)
    assert (st.shuffle_write_bytes, st.shuffle_read_bytes, st.spill_bytes) == (2048, 60, 6)
    assert st.name == "collect at x" and st.wall_s == 2.0
    s = eventlog.summarize([st], 0.5, 4.0)
    assert s["task_s"] == 1.4 and s["single_task_stages"] == 0
    assert s["driver_gap_s"] == pytest.approx(1.5)


def test_busy_time_is_the_union_of_stage_intervals():
    a = eventlog.Stage(1, 0, t0=1.0, t1=3.0)
    b = eventlog.Stage(2, 0, t0=2.0, t1=4.0)
    c = eventlog.Stage(3, 0, t0=6.0, t1=7.0)
    assert eventlog.busy_s([a, b, c], 0.0, 10.0) == pytest.approx(4.0)
    assert eventlog.busy_s([a, b, c], 2.5, 6.5) == pytest.approx(2.0)


def test_tiny_shuffling_job(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        t0 = time.time()
        rows = (
            spark.range(0, 2_000_000, 1, 4)
            .groupBy((F.col("id") % 97).alias("k"))
            .agg(F.sum("id").alias("s"))
            .collect()
        )
        t1 = time.time()
        assert len(rows) == 97
    finally:
        spark.stop()
    stages = eventlog.read_stages(eventlog.find_log(str(events)))
    window = eventlog.in_window(stages, t0, t1)
    s = eventlog.summarize(window, t0, t1)
    assert s["stages"] >= 2 and s["tasks"] >= 4
    assert s["task_s"] > 0
    assert s["shuffle_write_mb"] > 0 and s["shuffle_read_mb"] > 0
    assert s["driver_gap_s"] >= 0
