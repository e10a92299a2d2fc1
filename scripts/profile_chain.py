"""Full-chain profiler: per-window and per-stage breakdown from the event log.

Runs the transactions pipeline `repeats` times (protocol-identical: cold
caches, eager barrier) at a given parallelism and corpus size with Spark
event logging on, stops the session, then reads the finalized log with
perfbench/eventlog.py — the reader the benchmark itself uses — and prints,
per timed window:
  - wall, driver-serial gap (wall not covered by any running stage), task
    time, CPU, GC, parallelism (task time / stage wall), shuffle and spill;
  - one line per stage with the same figures.

Usage: python scripts/profile_chain.py [cpus] [n_docs] [repeats]
                                       [shuffle_partitions] [driver_mem]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))

import eventlog  # noqa: E402


def report(event_dir: str, windows: list[tuple[float, float]], cpus: int) -> list[str]:
    """The printed profile of each (t0, t1) window, read from the one
    finalized event log under `event_dir`."""
    log = eventlog.find_log(event_dir)
    stages = eventlog.read_stages(log)
    out = []
    for w0, w1 in windows:
        win = eventlog.in_window(stages, w0, w1)
        s = eventlog.summarize(win, w0, w1)
        out.append(
            f"\n=== window wall={s['wall_s']:.1f}s  driver-gap={s['driver_gap_s']:.1f}s  "
            f"stages={s['stages']}  tasks={s['tasks']}  cpus={cpus} ==="
        )
        out.append(
            f"task-time={s['task_s']:.1f}s  task-cpu={s['cpu_s']:.1f}s  gc={s['gc_s']:.1f}s  "
            f"parallelism={s['parallelism']:.1f}/{cpus}  "
            f"shuffle r/w={s['shuffle_read_mb']:.1f}/{s['shuffle_write_mb']:.1f}MB  "
            f"spill={s['spill_mb']:.1f}MB"
        )
        for st in win:
            task_s = st.task_ms / 1000.0
            out.append(
                f"  stage {st.stage_id:>4} {st.wall_s:7.2f}s wall {task_s:8.1f}s tasks "
                f"({st.n_tasks:>4}t, par={task_s / max(st.wall_s, 1e-9):5.1f}) "
                f"gc={st.gc_ms / 1000.0:5.1f}s  "
                f"shuffle w={st.shuffle_write_bytes / eventlog.MB:7.1f}MB  "
                f"spill={st.spill_bytes / eventlog.MB:6.1f}MB  {st.name[:70]}"
            )
    out.append(f"\nevent log: {log}")
    return out


def main() -> None:
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 600000
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    shuffle_parts = int(sys.argv[4]) if len(sys.argv) > 4 else None
    driver_mem = sys.argv[5] if len(sys.argv) > 5 else None
    if driver_mem:
        os.environ["SPARK_DRIVER_MEM"] = driver_mem

    evdir = tempfile.mkdtemp(prefix="spark-ev-")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)

    from pdf_parser_spark.session import get_spark
    from pdf_parser_spark.fixtures import pages_spark
    from pdf_parser_spark.plans import pipeline

    spark = get_spark(
        app_name=f"profile-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle_parts,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    pages = pages_spark(spark, n_docs=n_docs, partitions=128).persist()
    pages.count()
    warm = pages_spark(spark, n_docs=256, partitions=cpus)
    pipeline.transactions_pipeline(warm).write.format("noop").mode("overwrite").save()
    pipeline.release_pipeline_caches()

    windows = []
    for _ in range(repeats):
        spark.catalog.clearCache()
        pages.persist()
        pages.count()
        time.sleep(1.0)  # separate the timed window in the event log
        t0 = time.time()
        pipeline.transactions_pipeline(pages).count()
        windows.append((t0, time.time()))
        pipeline.release_pipeline_caches()
    spark.stop()  # finalizes the event log

    print("\n".join(report(evdir, windows, cpus)))


if __name__ == "__main__":
    main()
