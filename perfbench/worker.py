"""One Spark parallelism level of a benchmark run, in its own process and JVM.

``run.py`` starts this with a JSON spec path. Protocol:

- starts Spark, then waits for ``DATA`` on stdin (the corpus is being
  built meanwhile);
- runs one untimed warm-up pass of each kind in ``spec["warm"]`` on the
  real corpus, computes the expected digests, then prints ``READY <json>``;
- waits for ``GO`` on stdin, then runs the timed passes;
- prints ``DONE`` when the timed passes are over;
- checks every pass, stops Spark, reads the finalized event log (traced runs only) and
  writes its result JSON to ``spec["result"]``.

Every pass is checked against the expected records by an order-independent
digest: row count, XOR and 32-bit sum of per-row xxhash64 values.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import procstat  # noqa: E402
from corpus import DIGEST_COLUMNS  # noqa: E402
from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pdf_parser_spark.operators import classify as classify_op  # noqa: E402
from pdf_parser_spark.operators import extract as extract_op  # noqa: E402
from pdf_parser_spark.operators import normalize as normalize_op  # noqa: E402
from pdf_parser_spark.operators import pairing as pairing_op  # noqa: E402
from pdf_parser_spark.plans import pipeline  # noqa: E402
from pdf_parser_spark.plans.checkpoint import SnapshotExtractionJob  # noqa: E402
from pdf_parser_spark.session import get_spark  # noqa: E402
from pdf_parser_spark.sources.pages import read_pages_table  # noqa: E402

# transactions_pipeline columns that the relational tail decides
DECORATION_COLUMNS = [
    "sourceType", "has_bank_match", "displayAmount", "vendor_key", "account",
    "classificationSource", "pairId", "eventLeader", "pairedWith", "pairReason",
]
MAD = StorageLevel.MEMORY_AND_DISK


def _row_hash(cols):
    return F.xxhash64(F.to_json(F.struct(*cols)))


def _digest(h, name: str) -> list:
    """XOR plus the sum of the low 32 bits: duplicates cancel in a XOR
    but not in the sum, and the sum cannot overflow a long."""
    return [
        F.bit_xor(h).alias(f"{name}_xor"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias(f"{name}_sum"),
    ]


def _same(got: dict, exp: dict, name: str) -> bool:
    return all(got[f"{name}_{k}"] == exp[f"{name}_{k}"] for k in ("xor", "sum"))


def _txn_ids(extracted):
    """txn ids of extraction rows, as extracted_transactions forms them."""
    return extracted.select("url", F.explode("txns.txn_index").alias("i")).select(
        F.concat_ws("#", "url", F.col("i").cast("string")).alias("txn_id")
    )


class Level:
    def __init__(self, spark, spec: dict) -> None:
        self.spark = spark
        self.spec = spec
        self.n_docs = spec["n_docs"]
        self.records: list[dict] = []
        self.warm_records: list[dict] = []

    def pages(self):
        return read_pages_table(self.spark, self.spec["pages"])

    # -- set-up (untimed) ---------------------------------------------------

    def warm(self) -> None:
        """One pass of each warm-up kind on the real corpus. The first pass
        of a kind in a fresh JVM runs 20-30% slower than the next ones
        (class loading, JIT, code generation, Python worker start), which
        would skew a median of few passes. A warm-up chain is checked like
        the timed ones, and kept apart from them; the job warms up on one
        group commit, which is not checked."""
        passes = {"extract": self.extract_pass, "chain": self.chain_pass,
                  "job": self._warm_job}
        for kind in self.spec["warm"]:
            passes[kind]("warm")
        self.warm_records, self.records = self.records, []

    def _warm_job(self, _rep) -> None:
        out_dir = os.path.join(self.spec["run_dir"], f"job-{self.spec['level']}-warm")
        self._job(out_dir).run(self.pages, max_commits=1)
        shutil.rmtree(out_dir)

    def expect(self) -> None:
        """Expected digests of the expected-record table."""
        exp = self.spark.read.parquet(self.spec["expected"])
        self.exp_rows = exp.agg(
            F.count("*").alias("rows"), *_digest(_row_hash(DIGEST_COLUMNS), "row")
        ).collect()[0].asDict()
        self.exp_txns = _txn_ids(exp).agg(
            F.count("*").alias("rows"), *_digest(F.xxhash64("txn_id"), "txn")
        ).collect()[0].asDict()
        if self.spec["corrupt_expected"]:
            self.exp_rows["row_xor"] ^= 1
            self.exp_txns["txn_xor"] ^= 1

    # -- timed passes -------------------------------------------------------

    def _timed(self, kind: str, fn) -> dict:
        pipeline.release_pipeline_caches()
        self.spark.catalog.clearCache()
        ticks, load = procstat.cpu_ticks(), procstat.load1()
        e0, t0 = time.time(), time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        rec = {
            "kind": kind, "t0": e0, "t1": time.time(), "wall_s": wall,
            "steal_pct": procstat.steal_pct(ticks, procstat.cpu_ticks()),
            "load1": load, **out,
        }
        self.records.append(rec)
        return rec

    def extract_pass(self, _rep: int = 0) -> dict:
        def run():
            df = extract_op.extract_documents(self.pages(), keep_text=True)
            return df.agg(
                F.count("*").alias("rows"),
                *_digest(_row_hash(DIGEST_COLUMNS), "row"),
                F.sum(F.col("parse_failed").cast("long")).alias("parse_failed"),
            ).collect()[0].asDict()

        return self._timed("extract", run)

    def _mismatched_docs(self) -> int:
        """Docs whose extraction differs from the expected record (untimed,
        run only after a digest mismatch)."""
        got = extract_op.extract_documents(self.pages(), keep_text=True).select(
            "url", _row_hash(DIGEST_COLUMNS).alias("h")
        )
        exp = self.spark.read.parquet(self.spec["expected"]).select(
            "url", _row_hash(DIGEST_COLUMNS).alias("h_exp")
        )
        return got.join(exp, "url", "full_outer").where(
            ~F.col("h").eqNullSafe(F.col("h_exp"))
        ).count()

    def chain_pass(self, _rep: int = 0) -> dict:
        def run():
            out = pipeline.transactions_pipeline(self.pages())
            return out.agg(
                F.count("*").alias("rows"),
                *_digest(F.xxhash64("txn_id"), "txn"),
                *_digest(_row_hash(out.columns), "row"),
                *_digest(_row_hash(["txn_id", *DECORATION_COLUMNS]), "deco"),
            ).collect()[0].asDict()

        rec = self._timed("chain", run)
        pipeline.release_pipeline_caches()
        return rec

    def _job(self, out_dir: str):
        return SnapshotExtractionJob(
            self.spark, out_dir, n_buckets=self.spec["n_buckets"],
            buckets_per_commit=self.spec["buckets_per_commit"],
        )

    def _n_groups(self) -> int:
        return math.ceil(self.spec["n_buckets"] / self.spec["buckets_per_commit"])

    def _job_digest(self, job, rec: dict) -> None:
        """Docs over lineage(), docs of buckets committed twice, and the
        txn-id digest of output() (untimed)."""
        seen: set[int] = set()
        docs = redo = 0
        for row in sorted(job.lineage().collect(), key=lambda r: r["version"]):
            buckets = set(row["buckets"])
            if buckets & seen:
                redo += row["docs"]
            seen |= buckets
            docs += row["docs"]
        got = job.output().agg(
            F.count("*").alias("rows"), *_digest(F.xxhash64("txn_id"), "txn")
        ).collect()[0].asDict()
        rec.update(lineage_docs=docs, redo_docs=redo, **got)

    def job_pass(self, i) -> dict:
        """First job commits about half the bucket groups and stops; a new
        job object on the same directory resumes and commits the rest."""
        out_dir = os.path.join(self.spec["run_dir"], f"job-{self.spec['level']}-{i}")

        def run():
            t0 = time.perf_counter()
            self._job(out_dir).run(self.pages, max_commits=self._n_groups() // 2)
            first = time.perf_counter() - t0
            self._job(out_dir).run(self.pages)
            return {"first_s": first, "resumed_s": time.perf_counter() - t0 - first}

        rec = self._timed("job", run)
        self._job_digest(self._job(out_dir), rec)
        shutil.rmtree(out_dir)
        return rec

    # -- traced-only passes -------------------------------------------------

    def scan_pass(self) -> dict:
        """The columns extraction reads, scanned and summed."""
        return self._timed("scan", lambda: self.pages().agg(
            F.count("*").alias("rows"),
            *[F.sum(F.length(c)).alias(c) for c in ("url", "html", "lang", "source_type_hint")],
        ).collect()[0].asDict())

    def layer_passes(self) -> None:
        """The chain's pieces forced one at a time on a filled barrier."""
        held = []

        def fill(df):
            df = df.persist(MAD)
            held.append(df)
            return df, df.count()

        def barrier():
            ex = extract_op.extract_documents(self.pages(), keep_text=False)
            df, rows = fill(normalize_op.assign_source_type(extract_op.extracted_transactions(ex)))
            self.base = df
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            cached = sum(i.memSize() + i.diskSize() for i in infos)
            return {"rows": rows, "cache_mb": cached / eventlog.MB}

        def bank_match():
            self.flags, rows = fill(normalize_op.bank_match_flags(self.base))
            return {"rows": rows}

        def pairing():
            self.decorations, rows = fill(pairing_op.pair_decorations(self.base))
            return {"rows": rows}

        def decorate():
            out = (
                self.base.join(self.flags, "txn_id", "left")
                .join(self.decorations, "txn_id", "left")
                .withColumn("has_bank_match", F.coalesce(F.col("has_bank_match"), F.lit(False)))
            )
            out = classify_op.classify(normalize_op.with_display_amount(out))
            return out.agg(
                F.count("*").alias("rows"), *_digest(F.xxhash64("txn_id"), "txn")
            ).collect()[0].asDict()

        pipeline.release_pipeline_caches()
        self.spark.catalog.clearCache()
        for kind, fn in (("barrier", barrier), ("bank_match", bank_match),
                         ("pairing", pairing), ("decorate", decorate)):
            # no cache reset between these: each reads the ones before it
            ticks, load = procstat.cpu_ticks(), procstat.load1()
            e0, t0 = time.time(), time.perf_counter()
            out = fn()
            self.records.append({
                "kind": kind, "t0": e0, "t1": time.time(),
                "wall_s": time.perf_counter() - t0,
                "steal_pct": procstat.steal_pct(ticks, procstat.cpu_ticks()),
                "load1": load, **out,
            })
        for df in held:
            df.unpersist()

    def commit_pass(self) -> dict:
        """The resumable job driven one group commit at a time."""
        out_dir = os.path.join(self.spec["run_dir"], f"job-traced-{self.spec['level']}")
        groups = self._n_groups()
        commits = []

        def commit(job):
            t0 = time.perf_counter()
            job.run(self.pages, max_commits=1)
            commits.append(time.perf_counter() - t0)

        def run():
            job = self._job(out_dir)
            for _ in range(groups // 2):
                commit(job)
            t0 = time.perf_counter()
            resumed = self._job(out_dir)
            resumed.committed()
            committed_s = time.perf_counter() - t0
            for _ in range(groups - groups // 2):
                commit(resumed)
            written = sum(f["bytes"] for f in resumed.table.snapshot()["files"])
            return {"commits_s": commits, "resume_committed_s": committed_s,
                    "written_bytes": written}

        rec = self._timed("commit", run)
        self._job_digest(self._job(out_dir), rec)
        shutil.rmtree(out_dir)
        return rec

    # -- checks (untimed) ---------------------------------------------------

    def judge(self) -> None:
        """Check every pass, the warm-up ones included, against the
        expected digests."""
        exp_rows, exp_txns = self.exp_rows, self.exp_txns
        for rec in self.warm_records + self.records:
            kind = rec["kind"]
            if kind == "extract":
                rec["ok"] = rec["rows"] == exp_rows["rows"] and _same(rec, exp_rows, "row")
                rec["bad_docs"] = rec["parse_failed"] + (
                    0 if rec["ok"] else self._mismatched_docs()
                )
            elif kind in ("chain", "decorate", "job", "commit"):
                rec["ok"] = rec["rows"] == exp_txns["rows"] and _same(rec, exp_txns, "txn")
                if kind in ("job", "commit"):
                    rec["ok"] &= rec["lineage_docs"] == self.n_docs and rec["redo_docs"] == 0

    # -- schedule -----------------------------------------------------------

    def run(self) -> None:
        """Round-robin over the pass kinds until each has run its count."""
        spec = self.spec
        if spec["trace"] and spec["job"]:
            self.scan_pass()
            self.layer_passes()
            self.commit_pass()
        passes = {"extract": self.extract_pass, "chain": self.chain_pass, "job": self.job_pass}
        for i in range(max(spec["passes"].values())):
            for kind, n in spec["passes"].items():
                if i < n:
                    passes[kind](i)


def _spark_conf(spec: dict) -> dict:
    run_dir, level = spec["run_dir"], spec["level"]
    tmp = os.path.join(run_dir, f"tmp-{level}")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, f"spark-local-{level}"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, f"warehouse-{level}"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if spec["trace"]:
        events = os.path.join(run_dir, f"events-{level}")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _attach_windows(records: list[dict], event_dir: str) -> None:
    stages = eventlog.read_stages(eventlog.find_log(event_dir))
    for rec in records:
        window = eventlog.in_window(stages, rec["t0"], rec["t1"])
        rec["window"] = eventlog.summarize(window, rec["t0"], rec["t1"])
        if window:
            top = max(window, key=lambda s: s.task_ms)
            rec["top_stage"] = eventlog.summarize([top], top.t0, top.t1)


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    ready = {}
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{spec['level']}", master=f"local[{spec['level']}]",
        extra_conf=_spark_conf(spec),
    )
    level = Level(spark, spec)
    ready["session_s"] = time.perf_counter() - t0
    # the corpus is built while the session starts; wait for it
    if sys.stdin.readline().strip() != "DATA":
        spark.stop()
        sys.exit(1)
    # warm-up first: the expected digests cost several seconds in a cold JVM
    t = time.perf_counter()
    level.warm()
    ready["warm_s"] = time.perf_counter() - t
    t = time.perf_counter()
    level.expect()
    ready["expect_s"] = time.perf_counter() - t
    print(f"READY {json.dumps(ready)}", flush=True)
    if sys.stdin.readline().strip() != "GO":
        spark.stop()
        sys.exit(1)
    level.run()
    print("DONE", flush=True)
    level.judge()
    spark.stop()
    if spec["trace"]:
        _attach_windows(level.records, os.path.join(spec["run_dir"], f"events-{spec['level']}"))
    with open(spec["result"], "w") as fh:
        json.dump({"records": level.records, "warm_records": level.warm_records,
                   "exp_rows": level.exp_rows, "exp_txns": level.exp_txns}, fh)


if __name__ == "__main__":
    main(sys.argv[1])
