"""S1 resume under a real kill: SIGKILL the job mid-run, rerun, exactly-once.

Stronger than the in-process max_commits simulation (test_checkpoint_resume):
the job dies from outside at an arbitrary point between bucket-group commits,
and the restarted process must produce exactly the single-shot result.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest

from pdf_parser_spark.plans.snapshots import SnapshotTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "submit_extraction_job.py")
N_DOCS = 400
N_BUCKETS = 8


def _commits(spark, out_dir: str) -> int:
    """Group commits so far: the snapshot log's head version."""
    if not os.path.isdir(os.path.join(out_dir, "metadata")):
        return 0
    return SnapshotTable(spark, out_dir).current_version()


def _run(out_dir: str, timeout: int = 300) -> dict:
    import json

    res = subprocess.run(
        [
            sys.executable, SCRIPT,
            "--synthetic", str(N_DOCS),
            "--output", out_dir,
            "--n-buckets", str(N_BUCKETS),
            "--buckets-per-commit", "1",
        ],
        capture_output=True, text=True, timeout=timeout,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_sigkill_mid_job_then_resume(tmp_path, spark):
    out = str(tmp_path / "out")

    # start the job, SIGKILL it once >=2 bucket groups have committed
    proc = subprocess.Popen(
        [
            sys.executable, SCRIPT,
            "--synthetic", str(N_DOCS),
            "--output", out,
            "--n-buckets", str(N_BUCKETS),
            "--buckets-per-commit", "1",
        ],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4"),
    )
    deadline = time.time() + 240
    try:
        while time.time() < deadline and _commits(spark, out) < 2:
            if proc.poll() is not None:
                break  # finished before we could kill it — resume still tested below
            time.sleep(0.5)
        if proc.poll() is None:
            proc.kill()  # SIGKILL: no atexit, no Spark shutdown hooks
            proc.wait(30)
    finally:
        if proc.poll() is None:
            proc.send_signal(signal.SIGKILL)
    committed_after_kill = _commits(spark, out)
    assert committed_after_kill >= 1, "job was killed before any commit"

    # restart: must complete the remaining buckets only
    summary = _run(out)
    assert summary["committed"] == N_BUCKETS
    assert summary["total_docs"] == N_DOCS

    # exactly-once: identical to a clean single-shot run
    got = SnapshotTable(spark, out).read()
    assert got.count() == got.select("txn_id").distinct().count()

    clean = str(tmp_path / "clean")
    clean_summary = _run(clean)
    expect = SnapshotTable(spark, clean).read()
    assert clean_summary["total_docs"] == N_DOCS
    assert got.count() == expect.count()
    a = got.select("txn_id", "amount").orderBy("txn_id").toPandas()
    b = expect.select("txn_id", "amount").orderBy("txn_id").toPandas()
    assert a.equals(b)
