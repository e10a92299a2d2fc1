"""Repository benchmark: extraction and full-chain docs/s, N→4N scaling,
resumable snapshot commits, and a per-layer trace taken from outside.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 20 --trace 0

One run:

1. set-up (``setup_s`` is its wall time): start a worker process, which
   starts a ``local[N]`` JVM; build the seeded corpus from
   ``fixtures.page_row`` in this process meanwhile, with every url's
   expected extraction record; the worker then runs an untimed warm-up
   chain and job commit and computes the expected digests;
2. run the timed extract, chain and job passes while sampling the
   worker's process tree RSS through /proc;
3. check every pass against the expected records and print a full
   report line, then the result line (the last line of stdout).

``--trace 1`` turns Spark's event log on, adds the per-layer passes and
the in-process Python layer timings, then runs extract and chain passes on
a second worker at ``local[1]`` for the N→1 scaling, and prints the
per-layer metrics. The process exits non-zero if any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DEFAULT_DOCS = 1500
LAYER_SAMPLE_DOCS = 300
STEAL_FLAG_PCT = 1.0  # a pass that lost more CPU than this to steal is flagged
N_BUCKETS, BUCKETS_PER_COMMIT = 8, 4  # two commits: one before the stop, one resumed
# Timed passes of each kind per level (local[N], then local[1] in traced
# runs) at --seconds NOMINAL_SECONDS; other --seconds scale the counts. The
# counts are fixed, not fitted to a time budget: every pass still runs
# faster than the one before it (JIT), so a median over a varying number
# of passes moves with the count. A chain pass or a job run costs 2-6 s
# at this corpus size whatever the level (planning, scheduling and stage
# start-up, not rows), and extraction passes are short, so they repeat
# more. The JVM start and warm-up already cost more than the passes, which
# is why the counts stay small, and why the local[1] side (a second JVM and
# ~10 s of passes) runs only in traced runs, which report the scaling as
# per-layer metrics.
NOMINAL_SECONDS = 20
UNTRACED_PASSES = ({"extract": 5, "chain": 2, "job": 2},)
TRACED_PASSES = ({"extract": 2, "chain": 1}, {"extract": 2, "chain": 1})
READY_TIMEOUT_S = 300
PASS_TIMEOUT_S = 300
MB = 1024.0 * 1024.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "extract_docs_per_s": "docs/s",
    "chain_docs_per_s": "docs/s",
    "job_docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
    "bad_doc_ratio": "ratio",
}


def _unit(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name.endswith("ms_per_doc"):
        return "ms/doc"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("parallelism", "bytes_per_input_byte", "scaling_eff")):
        return "ratio"
    return "count"


class Worker:
    """One worker.py process (and the JVM it starts), in its own session
    so that everything it starts can be stopped together."""

    def __init__(self, spec: dict, run_dir: str) -> None:
        self.level = spec["level"]
        path = os.path.join(run_dir, f"spec-{self.level}.json")
        with open(path, "w") as fh:
            json.dump(spec, fh)
        tmp = os.path.join(run_dir, f"tmp-{self.level}")
        os.makedirs(tmp, exist_ok=True)
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            SPARK_LOCAL_DIRS=os.path.join(run_dir, f"spark-local-{self.level}"),
            SPARK_DRIVER_MEM="2g",
            TMPDIR=tmp,
        )
        self.log_path = os.path.join(run_dir, f"worker-{self.level}.log")
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, "-u", os.path.join(HERE, "worker.py"), path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            env=env, cwd=ROOT, text=True, start_new_session=True,
        )
        self.result_path = spec["result"]
        self.tree: list[int] = []

    def expect(self, token: str, timeout_s: float) -> str:
        """Read stdout lines until one starts with ``token``."""
        deadline = time.monotonic() + timeout_s
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise RuntimeError(f"local[{self.level}] worker: no {token} in {timeout_s}s")
            ready, _, _ = select.select([self.proc.stdout], [], [], left)
            if not ready:
                continue
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"local[{self.level}] worker exited before {token}")
            if line.startswith(token):
                return line[len(token):].strip()

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def finish(self, timeout_s: float = 120) -> dict:
        if self.proc.wait(timeout=timeout_s) != 0:
            raise RuntimeError(f"local[{self.level}] worker failed")
        with open(self.result_path) as fh:
            return json.load(fh)

    def stop(self) -> None:
        """Stop every process the worker started and wait until all are
        gone. PySpark's Python daemon runs in a process group of its own,
        so the tree is listed before anything is killed (orphans are
        re-parented and could not be found afterwards)."""
        pids = procstat.tree_pids(self.proc.pid) if self.proc.poll() is None else []
        pids = set(pids) | set(self.tree)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            for _ in range(100):
                self.proc.poll()
                pids = {p for p in pids if _alive(p)}
                if not pids:
                    break
                time.sleep(0.05)
        self.proc.wait()
        self.log.close()

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][0] != "Z"
    except OSError:
        return False


def _median_rec(recs: list[dict], kind: str) -> dict:
    """The record of ``kind`` with the median wall time."""
    of_kind = sorted((r for r in recs if r["kind"] == kind), key=lambda r: r["wall_s"])
    return of_kind[(len(of_kind) - 1) // 2]


def _rate(n_docs: int, recs: list[dict], kind: str) -> float:
    return n_docs / statistics.median(r["wall_s"] for r in recs if r["kind"] == kind)


def _environment() -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
    }


def _check(info: dict, results: dict[int, dict]) -> dict:
    """Fold the per-pass checks into correct / attempted / failed."""
    n = info["n_docs"]
    recs = [r for res in results.values() for r in res["warm_records"] + res["records"]]
    checked = [r for r in recs if "ok" in r]
    failed = sum(
        r["bad_docs"] if r["kind"] == "extract" else (0 if r["ok"] else n)
        for r in checked
    )
    chain = [r for r in recs if r["kind"] == "chain"]
    # the decorations (and whole rows) must not depend on the repeat or level
    stable = all(
        len({(r[f"{d}_xor"], r[f"{d}_sum"]) for r in chain}) <= 1 for d in ("deco", "row")
    )
    redo = sum(r.get("redo_docs", 0) for r in checked)
    return {
        "correct": all(r["ok"] for r in checked) and stable and failed == 0 and redo == 0,
        "attempted": n * len(checked),
        "failed": failed,
        "chain_digests_stable": stable,
        "failed_passes": [
            {"kind": r["kind"], "t0": r["t0"]} for r in checked if not r["ok"]
        ],
    }


def _end_to_end(args, info, setup, results, peaks) -> dict:
    n, hi = info["n_docs"], args.cpus
    recs = results[hi]["records"]
    return {
        "setup_s": setup["setup_s"],
        "extract_docs_per_s": _rate(n, recs, "extract"),
        "chain_docs_per_s": _rate(n, recs, "chain"),
        "job_docs_per_s": _rate(n, recs, "job"),
        "peak_rss_mb": peaks[hi] / MB,
    }


def _per_layer(info, results, layers, hi) -> dict:
    n = info["n_docs"]
    recs, lo = results[hi]["records"], results[1]["records"]
    one = {r["kind"]: r for r in recs if r["kind"] not in ("extract", "chain")}
    ex = _median_rec(recs, "extract")
    top = ex.get("top_stage") or {}
    chain = _median_rec(recs, "chain")["window"]
    commit = one["commit"]
    task_ms_per_doc = 1000.0 * top.get("task_s", 0.0) / n
    return {
        "pages.scan_s": one["scan"]["wall_s"],
        # from the scan pass: a stage that feeds a Python UDF reads its
        # input on another thread, whose file-system bytes Spark misses
        "pages.input_mb": one["scan"]["window"]["input_mb"],
        "extract.stage_wall_s": top.get("stage_wall_s", 0.0),
        "extract.task_s": top.get("task_s", 0.0),
        "extract.task_ms_per_doc": task_ms_per_doc,
        "extract.parallelism": top.get("parallelism", 0.0),
        "extract.gc_s": top.get("gc_s", 0.0),
        "extract.tasks": top.get("tasks", 0),
        **layers,
        "extract.udf_gap_ms_per_doc": task_ms_per_doc - layers["extract.python_ms_per_doc"],
        "barrier.fill_s": one["barrier"]["wall_s"],
        "barrier.task_s": one["barrier"]["window"]["task_s"],
        "barrier.cache_mb": one["barrier"]["cache_mb"],
        "barrier.rows": one["barrier"]["rows"],
        "bank_match.s": one["bank_match"]["wall_s"],
        "bank_match.shuffle_mb": one["bank_match"]["window"]["shuffle_write_mb"],
        "pairing.s": one["pairing"]["wall_s"],
        "pairing.task_s": one["pairing"]["window"]["task_s"],
        "pairing.shuffle_mb": one["pairing"]["window"]["shuffle_write_mb"],
        "pairing.spill_mb": one["pairing"]["window"]["spill_mb"],
        "pairing.rows_out": one["pairing"]["rows"],
        "decorate.s": one["decorate"]["wall_s"],
        "decorate.shuffle_mb": one["decorate"]["window"]["shuffle_write_mb"],
        "decorate.spill_mb": one["decorate"]["window"]["spill_mb"],
        "chain.stages": chain["stages"],
        "chain.tasks": chain["tasks"],
        "chain.single_task_stages": chain["single_task_stages"],
        "chain.task_s": chain["task_s"],
        "chain.shuffle_mb": chain["shuffle_write_mb"],
        "chain.spill_mb": chain["spill_mb"],
        "chain.driver_gap_s": chain["driver_gap_s"],
        "commit.count": len(commit["commits_s"]),
        "commit.p50_s": statistics.median(commit["commits_s"]),
        "commit.max_s": max(commit["commits_s"]),
        "commit.written_mb": commit["written_bytes"] / MB,
        "commit.bytes_per_input_byte": commit["written_bytes"] / info["pages_bytes"],
        "resume.committed_s": commit["resume_committed_s"],
        "resume.redo_docs": commit["redo_docs"],
        "extract.scaling_eff": _rate(n, recs, "extract") / _rate(n, lo, "extract") / hi,
        "chain.scaling_eff": _rate(n, recs, "chain") / _rate(n, lo, "chain") / hi,
        "traced.extract_docs_per_s": _rate(n, recs, "extract"),
        "traced.chain_docs_per_s": _rate(n, recs, "chain"),
    }


def run(args, run_dir: str) -> dict:
    import corpus

    marks = {"start": time.monotonic()}
    data = os.path.join(run_dir, "data")
    levels = [args.cpus, 1] if args.trace else [args.cpus]
    passes = dict(zip(levels, TRACED_PASSES if args.trace else UNTRACED_PASSES))
    workers = {}
    try:
        for level in levels:
            job = level == args.cpus  # the job and the traced commit pass
            spec = {
                "level": level, "trace": bool(args.trace), "job": job,
                "n_docs": args.docs, "run_dir": run_dir,
                "pages": os.path.join(data, "pages"),
                "expected": os.path.join(data, "expected"),
                # a warm chain also warms extraction
                "warm": ["chain", "job"] if job else ["chain"],
                "result": os.path.join(run_dir, f"result-{level}.json"),
                "passes": {
                    k: max(1, round(n * args.seconds / NOMINAL_SECONDS))
                    for k, n in passes[level].items()
                },
                "n_buckets": N_BUCKETS, "buckets_per_commit": BUCKETS_PER_COMMIT,
                "corrupt_expected": args.corrupt_expected,
            }
            workers[level] = Worker(spec, run_dir)
        # build the corpus while the workers start their JVMs
        info = corpus.build(args.workload, args.seed, args.docs, data)
        for w in workers.values():
            w.send("DATA")
        marks["corpus"] = time.monotonic()
        ready = {lv: json.loads(w.expect("READY", READY_TIMEOUT_S)) for lv, w in workers.items()}
        marks["ready"] = time.monotonic()
        peaks, results = {}, {}
        for level in levels:
            w = workers[level]
            with procstat.PeakRss(w.proc.pid) as rss:
                w.send("GO")
                w.expect("DONE", PASS_TIMEOUT_S)
                w.tree = procstat.tree_pids(w.proc.pid)
            peaks[level] = rss.peak
            # the worker stops its JVM now: before the next level's passes
            results[level] = w.finish()
            marks[f"passes_{level}"] = time.monotonic()
        layers = None
        if args.trace:
            import layers as layers_mod

            layers = layers_mod.measure(info["rows"][:LAYER_SAMPLE_DOCS])
    except Exception:
        for w in workers.values():
            sys.stderr.write(f"--- local[{w.level}] worker log tail ---\n{w.log_tail()}")
        raise
    finally:
        for w in workers.values():
            w.stop()
    marks["stop"] = time.monotonic()

    setup = {
        "corpus_s": marks["corpus"] - marks["start"],
        "worker_ready_s": ready,
        # wall time from the start until every worker is warm and ready
        "setup_s": marks["ready"] - marks["start"],
    }
    check = _check(info, results)
    steals = [r["steal_pct"] for res in results.values()
              for r in res["warm_records"] + res["records"]]
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "levels": levels,
        "corpus": {k: v for k, v in info.items() if k != "rows"},
        "environment": _environment(),
        "setup": setup,
        "check": check,
        "steal": {"max_pass_pct": max(steals), "flagged": max(steals) > STEAL_FLAG_PCT},
        "peak_rss_mb": {lv: p / MB for lv, p in peaks.items()},
        "passes": {lv: res["records"] for lv, res in results.items()},
        "warm_passes": {lv: res["warm_records"] for lv, res in results.items()},
        # seconds since the start of set-up at the end of each phase
        "timeline_s": {k: t - marks["start"] for k, t in marks.items()},
    }
    if args.trace:
        metrics = _per_layer(info, results, layers, args.cpus)
    else:
        metrics = _end_to_end(args, info, setup, results, peaks)
        metrics["bad_doc_ratio"] = check["failed"] / check["attempted"]
    report["metrics"] = {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=DEFAULT_DOCS, help="corpus size")
    ap.add_argument("--cpus", type=int, default=4, help="primary level N of local[N]")
    ap.add_argument("--report", help="also write the full report JSON here")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="flip the expected digests (the run must then fail)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import corpus
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in corpus.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(corpus.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(base, str(os.getpid()))
    os.makedirs(run_dir)
    try:
        report = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    if args.report:
        with open(args.report, "w") as fh:
            json.dump(report, fh, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k not in ("passes", "warm_passes")}))
    metrics = dict(report["metrics"])
    metrics.pop("bad_doc_ratio", None)  # it rides in failed / attempted
    check = report["check"]
    print(json.dumps({
        "correct": check["correct"], "attempted": check["attempted"],
        "failed": check["failed"], "metrics": metrics,
    }))
    return 0 if check["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
