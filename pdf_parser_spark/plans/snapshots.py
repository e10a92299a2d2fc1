"""Iceberg-style snapshot log over a parquet table (A7/A8/S1 at table level).

The north rule targets "partitioned Iceberg tables" with jobs that "resume
from the last committed snapshot". This sandbox has no Iceberg runtime jar,
so this module implements the snapshot SEMANTICS from scratch — the same
public design the Iceberg spec describes (and the same on-disk idioms:
``metadata/v{N}.json`` + ``version-hint.text``):

- a table is a directory: ``data/`` (immutable parquet files) +
  ``metadata/`` (one JSON snapshot per version, newest wins);
- every snapshot carries a MANIFEST: the full list of data files with
  file-level stats (row count, byte size, per-column min/max for the
  declared stats columns) read from parquet FOOTERS via pyarrow — no data
  scan to build metadata;
- commits are ATOMIC and OPTIMISTICALLY CONCURRENT: the snapshot JSON is
  written to a tmp file and published with ``os.link`` (hard link fails if
  the target exists), so two racing writers cannot both claim version N —
  the loser gets ``CommitConflict`` and retries on the new base, exactly
  Iceberg's optimistic-concurrency loop;
- readers never list ``data/``: they read the manifest of the version they
  want (time travel = pick an older version; rollback = a NEW snapshot
  that re-publishes an old file set, history is never rewritten);
- ``plan_files`` prunes manifests by min/max stats BEFORE Spark sees a
  path — the Iceberg scan-planning step that keeps a 10^12-row table's
  query from listing a million files;
- ``expire_snapshots`` retires old versions and deletes data files no
  retained snapshot references (the GC story);
- every snapshot carries forward the IDEMPOTENCY IDS committed so far
  (bucket or batch id → the version that committed it), so "what have I
  committed?" is one read of the head snapshot — exact after any
  ``expire_snapshots``, and a ``rollback`` restores the restored
  version's id set together with its files.

This log is the one commit protocol of the package: the extraction job
(plans/checkpoint), the stream sinks, the near-dup index, the rollup and
the change-log sync all commit and resume through it. On a real cluster
the same call sites switch to ``df.writeTo(...)`` /
``spark.read.option("snapshot-id", ...)``; the job loops are unchanged.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META = "metadata"
_DATA = "data"
_HINT = "version-hint.text"

# writer-unique suffix: pid alone is NOT enough — two streaming sinks in
# one driver process racing to commit would share a pid-named tmp/claim
# file and the "winner" could publish the loser's payload. pid + thread
# + a process-global counter is unique across every writer this process
# can host; pid keeps it unique across processes.
_SEQ = itertools.count()


def _writer_tag() -> str:
    return f"{os.getpid()}-{threading.get_ident()}-{next(_SEQ)}"


class CommitConflict(RuntimeError):
    """Another writer published this version first — rebase and retry."""


def _atomic_write(path: str, payload: str) -> None:
    tmp = path + f".tmp.{_writer_tag()}"
    with open(tmp, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _publish_exclusive(path: str, payload: str) -> None:
    """Create `path` atomically, failing if it already exists."""
    tmp = path + f".claim.{_writer_tag()}"
    with open(tmp, "w") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)  # atomic + exclusive on POSIX
    except FileExistsError as exc:
        raise CommitConflict(f"version file already published: {path}") from exc
    finally:
        os.unlink(tmp)


def pin_meta(path: str, meta: dict) -> dict:
    """Publish ``meta`` at ``path`` unless a meta file is already there;
    return the committed one. The publish is exclusive, so of two first
    writers with different geometry exactly one wins and the other sees
    the winner's meta — callers compare it with what they asked for."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            _publish_exclusive(path, json.dumps(meta))
        except CommitConflict:
            pass  # lost the race: the winner's meta is read below
    with open(path) as fh:
        return json.load(fh)


_HIVE_ESC = re.compile("%([0-9A-Fa-f]{2})")


def _file_key(path: str) -> str:
    """Spelling-independent identity of a data file: the path suffix from
    its writer-unique ``snap-v...`` directory. Manifests store whatever
    root spelling the writing session used (relative vs absolute), so raw
    string comparison across sessions mis-identifies live files; the snap
    suffix is unique by construction (writer-unique subdir + partition
    dir + task filename) and survives any root respelling."""
    i = path.rfind("snap-v")
    return path[i:] if i >= 0 else os.path.normpath(os.path.abspath(path))


def _hive_unescape(raw: str) -> str:
    """Undo partitionBy's Hive directory-name escaping (%XX per char)."""
    return _HIVE_ESC.sub(lambda m: chr(int(m.group(1), 16)), raw)


# -- per-file Bloom summaries (Iceberg stores the same idea as Puffin
# blob sidecars — public spec). Min/max stats cannot prune files on a
# UNIFORM key (every large file spans ~the whole value range: band
# hashes, xxhash64 ids), but exact-match probes against such keys are
# file-sparse — a file holding 10^7 of 2^64 possible hashes almost never
# contains a given probe value unless it actually holds a matching row.
# A small per-file Bloom over the column turns that sparsity into scan
# pruning: files whose Bloom rejects every probe value are skipped.
# The bit layout is operators/bloom's (double hashing in pure integer
# arithmetic — stable across processes, no PYTHONHASHSEED dependence); the
# manifests persist it, so k and the sizing below are fixed.

_BLOOM_K = 4
_BLOOM_BITS_PER_VALUE = 16  # ~0.2% FPR at k=4


def _bloom_build(values) -> dict | None:
    """values (int64 array-like) → manifest-storable bloom dict."""
    import base64

    import numpy as np

    from pdf_parser_spark.operators.bloom import _positions, _set_bits

    v = np.unique(np.asarray(values, dtype=np.int64))
    if v.size == 0:
        return {"bits": 8, "b64": base64.b64encode(b"\x00").decode()}
    n_bits = 1 << int(
        np.ceil(np.log2(max(64, int(v.size) * _BLOOM_BITS_PER_VALUE)))
    )
    bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
    _set_bits(bitmap, _positions(v, n_bits, _BLOOM_K))
    return {"bits": n_bits, "b64": base64.b64encode(bitmap.tobytes()).decode()}


def _bloom_any_maybe(bloom: dict, values) -> bool:
    """True iff ANY probe value is possibly in the file (conservative)."""
    import base64

    import numpy as np

    from pdf_parser_spark.operators.bloom import _positions, _test_bits

    bitmap = np.frombuffer(base64.b64decode(bloom["b64"]), dtype=np.uint8)
    pos = _positions(np.asarray(values, dtype=np.int64), int(bloom["bits"]), _BLOOM_K)
    return bool(_test_bits(bitmap, pos).any())


def _parquet_file_entry(
    path: str, stats_cols: tuple[str, ...], bloom_cols: tuple[str, ...] = ()
) -> dict:
    """Manifest entry from the parquet FOOTER (plus, for the declared
    ``bloom_cols``, ONE column read of the just-written local file to
    build its Bloom — the only data touched, at write time, never read)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    for col in stats_cols:
        i = names.get(col)
        if i is None:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        # binary columns: footer stats are raw bytes with no faithful JSON
        # representation (a lossy errors='replace' decode would corrupt the
        # bounds and let pruning drop files that DO contain matching rows) —
        # record nothing, which plan_entries treats as "always keep"
        if lo is not None and not isinstance(lo, bytes):
            mins[col] = lo
            maxs[col] = hi
    entry = {
        "path": path,
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "min": mins,
        "max": maxs,
    }
    blooms = {}
    for col in bloom_cols:
        if names.get(col) is None:
            continue
        tbl = pq.read_table(path, columns=[col])
        b = _bloom_build(tbl.column(col).to_numpy(zero_copy_only=False))
        if b is not None:
            blooms[col] = b
    if blooms:
        entry["bloom"] = blooms
    return entry


class SnapshotTable:
    """A parquet directory with an Iceberg-shaped snapshot log.

    Single table, many versions; every mutation is a new immutable
    snapshot. ``partition_col`` is the layout key (the bucket id from
    sources/pages.with_bucket); ``stats_cols`` are footer-stat columns
    recorded per file for scan pruning.
    """

    def __init__(self, spark: SparkSession, path: str,
                 partition_col: str = "bucket",
                 stats_cols: tuple[str, ...] = (),
                 bloom_cols: tuple[str, ...] = ()) -> None:
        self.spark = spark
        self.path = path
        self.partition_col = partition_col
        self.stats_cols = tuple(stats_cols)
        self.bloom_cols = tuple(bloom_cols)
        self.meta_dir = os.path.join(path, _META)
        self.data_dir = os.path.join(path, _DATA)
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- versions -----------------------------------------------------------

    def current_version(self) -> int:
        # hint fast path with forward probe: a hint lost to a writer race
        # can only be STALE-LOW, so probing v{hint+1}, v{hint+2}, ... always
        # reaches the true head without trusting the hint's exactness. A
        # missing/corrupt hint (or one pointing at an expired snapshot)
        # falls back to the authoritative directory scan.
        try:
            with open(os.path.join(self.meta_dir, _HINT)) as fh:
                h = int(fh.read().strip())
        except (FileNotFoundError, ValueError):
            h = -1
        if h < 0 or (h > 0 and not os.path.exists(self._snapshot_path(h))):
            versions = [
                int(n[1:-5])
                for n in os.listdir(self.meta_dir)
                if n.startswith("v") and n.endswith(".json")
            ]
            h = max(versions, default=0)
        while os.path.exists(self._snapshot_path(h + 1)):
            h += 1
        return h

    def _snapshot_path(self, v: int) -> str:
        return os.path.join(self.meta_dir, f"v{v}.json")

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "operation": "none", "files": [],
                    "partitions": {}, "ts": 0.0}
        with open(self._snapshot_path(v)) as fh:
            return json.load(fh)

    def snapshots(self) -> DataFrame:
        """Metadata table: one row per retained snapshot."""
        rows = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as fh:
                    s = json.load(fh)
                rows.append((
                    s["version"], s["operation"], len(s["files"]),
                    int(sum(f["rows"] for f in s["files"])),
                    int(sum(f["bytes"] for f in s["files"])), float(s["ts"]),
                ))
        return self.spark.createDataFrame(
            rows,
            "version int, operation string, n_files int, n_rows long, "
            "n_bytes long, ts double",
        )

    # -- commits ------------------------------------------------------------

    def _write_data_files(self, df: DataFrame, v: int) -> list[dict]:
        """Write df under a version-unique subdir; return manifest entries.

        Data files are SINGLE-PARTITION by construction (partitionBy layout
        — the Iceberg data-file invariant): without it, a file spanning two
        bucket values would make a later single-bucket overwrite either
        lose rows (drop the file) or duplicate them (keep it).
        """
        # the subdir is WRITER-unique (pid+thread+seq), not just
        # version-unique: two optimistic committers racing from the same
        # base — including two threads of one process — must never share
        # a directory, or the winner's os.walk would sweep the loser's
        # files into its manifest (duplicated rows with no conflict error)
        sub = os.path.join(self.data_dir, f"snap-v{v}-w{_writer_tag()}")
        # parse the partition value back with the COLUMN'S type, not a
        # guess from the digits: a string column holding '03' must stay
        # '03' (int coercion would alias it with 3), and Hive %XX-escaped
        # characters ('a:b' → a%3Ab) must unescape so manifest values
        # compare equal to DataFrame values in merge/overwrite. Only
        # integral and string layouts are supported AT ALL: any other type
        # (date, bool, float) round-trips through Hive's directory-name
        # serialization differently than through Python equality, so
        # merge/overwrite partition membership would silently mismatch —
        # refuse loudly instead (bucket ids and label strings are the
        # layouts this table is for).
        from pyspark.sql.types import IntegralType, StringType

        ptype = df.schema[self.partition_col].dataType
        is_int = isinstance(ptype, IntegralType)
        if not is_int and not isinstance(ptype, StringType):
            raise ValueError(
                f"partition column {self.partition_col!r} has type {ptype}: "
                "only integral or string partition layouts are supported "
                "(derive a bucket, e.g. pmod(xxhash64(col), n))"
            )
        df.write.partitionBy(self.partition_col).mode("error").parquet(sub)
        marker = f"{self.partition_col}="
        entries = []
        for root, _, names in os.walk(sub):
            part = None
            for seg in os.path.relpath(root, sub).split(os.sep):
                if seg.startswith(marker):
                    raw = seg[len(marker):]
                    if raw == "__HIVE_DEFAULT_PARTITION__":  # null value
                        # a null partition value has no manifest
                        # representation here; skipping the file would
                        # SILENTLY drop its rows from every read, so
                        # refuse the commit instead (append/merge_rows
                        # are public APIs — callers must derive a
                        # non-null bucket, e.g. xxhash64 % n)
                        raise ValueError(
                            f"null {self.partition_col!r} partition value: "
                            "rows with a null partition column cannot be "
                            "committed; coalesce the partition column to a "
                            "non-null bucket before append/merge"
                        )
                    raw = _hive_unescape(raw)
                    part = int(raw) if is_int else raw
            for name in sorted(names):
                if name.endswith(".parquet") and part is not None:
                    e = _parquet_file_entry(
                        os.path.join(root, name), self.stats_cols,
                        self.bloom_cols,
                    )
                    # the partition value lives in the path, not the footer
                    e["min"][self.partition_col] = part
                    e["max"][self.partition_col] = part
                    e["base"] = sub
                    entries.append(e)
        return entries

    def _publish(self, operation: str, files: list[dict], base_version: int,
                 summary: dict | None = None, ids=(),
                 ids_of: int | None = None) -> int:
        """Publish version ``base_version + 1``. Its id map is the one of
        ``ids_of`` (default: the base; a rollback passes the version it
        restores) plus ``ids``, each mapped to the new version."""
        v = base_version + 1
        src = base_version if ids_of is None else ids_of
        committed = dict(self.snapshot(src).get("ids", {}))
        committed.update((str(int(i)), v) for i in ids)
        snap = {
            "version": v,
            "operation": operation,
            "base_version": base_version,
            "files": files,
            "summary": summary or {},
            "ids": committed,
            "ts": time.time(),
        }
        _publish_exclusive(self._snapshot_path(v), json.dumps(snap))
        # the hint is a cache of max(vN); losing a race here is harmless
        # because readers fall back to scanning metadata/ for the max
        _atomic_write(os.path.join(self.meta_dir, _HINT), str(v))
        return v

    def committed_ids(self) -> dict[int, int]:
        """Idempotency ids committed so far → the version that committed
        each: one read of the head snapshot, unaffected by expiry."""
        return {int(i): v for i, v in self.snapshot().get("ids", {}).items()}

    def append(self, df: DataFrame, ids=()) -> int:
        """New snapshot = old files + df's files; ``ids`` (integers) join
        the committed id set in the same atomic publish.

        One shuffle keyed on the partition column so each partition value
        lands in one file (pages.write_table's small-files discipline; at
        real scale a target-file-size split would follow, which Iceberg's
        writers do and parquet row groups approximate here).
        """
        base = self.current_version()
        new = self._write_data_files(df.repartition(self.partition_col), base + 1)
        return self._publish(
            "append", self.snapshot(base)["files"] + new, base, ids=ids
        )

    def overwrite_partitions(self, df: DataFrame, base: int | None = None,
                             ids=(), summary=None) -> int:
        """Replace exactly the partitions present in df (dynamic overwrite).

        A file is replaced iff its partition_col min==max value appears in
        df — which holds by construction because data files are written
        repartitioned by the partition column.

        ``base`` pins the snapshot this overwrite was COMPUTED FROM
        (merge_rows passes the version it read): a commit landing between
        that read and this publish then raises CommitConflict instead of
        being silently overwritten — the optimistic-concurrency contract.
        Default (None) reads the current head, which is only safe when df
        does not derive from the table itself.

        ``ids`` join the committed id set (see append).

        ``summary`` (() -> dict) is called AFTER the data write, just
        before the publish — so a summary can observe the write's cost
        (wall-clock throughput metrics) while still riding the same
        atomic commit.
        """
        if base is None:
            base = self.current_version()
        out = df.repartition(self.partition_col)
        new = self._write_data_files(out, base + 1)
        touched = {f["min"][self.partition_col] for f in new}
        # every data file is single-partition (see _write_data_files), so
        # membership of its one value decides replacement exactly
        kept = [
            f
            for f in self.snapshot(base)["files"]
            if f["min"].get(self.partition_col) not in touched
        ]
        return self._publish(
            "overwrite_partitions", kept + new, base,
            summary() if summary is not None else None, ids,
        )

    def merge_rows(self, df: DataFrame, key_cols: tuple[str, ...]) -> int:
        """MERGE (upsert): rows in df replace same-key rows, others append.

        The copy-on-write formulation Iceberg calls MERGE INTO: only the
        PARTITIONS df touches are rewritten — their current rows are
        anti-joined on key_cols against df (drop the matched), unioned
        with df, and committed as one overwrite_partitions snapshot
        PINNED to the base version read here (a racing commit to a
        touched partition raises CommitConflict rather than being lost).
        Untouched partitions' files carry over by reference. df must
        include the partition column, and keys are expected to be
        partition-stable (a key that moves partitions is an insert in the
        new one, not a delete in the old — same caveat as any
        partition-scoped merge).
        """
        base = self.current_version()
        # pin df: it is read THREE times (touched-set collect, the
        # anti-join branch, the union branch of the write) — without the
        # barrier a non-deterministic input could present different
        # partitions to the write than to the collect, leaving a written
        # partition un-anti-joined (duplicate keys)
        df = df.localCheckpoint()
        touched = {
            r[0]
            for r in df.select(self.partition_col).distinct().collect()
        }
        old_entries = [
            f
            for f in self.snapshot(base)["files"]
            if f["min"].get(self.partition_col) in touched
        ]
        if old_entries:
            current = self._read_entries(old_entries)
            keep = current.join(
                df.select(*key_cols).distinct(), list(key_cols), "left_anti"
            )
            out = keep.unionByName(df, allowMissingColumns=True)
        else:
            out = df
        return self.overwrite_partitions(out, base=base)

    def rollback(self, version: int) -> int:
        """New snapshot re-publishing `version`'s file set and committed
        ids (history kept)."""
        return self._publish(
            "rollback", self.snapshot(version)["files"],
            self.current_version(), ids_of=version,
        )

    # -- reads --------------------------------------------------------------

    def plan_entries(self, version: int | None = None,
                     min_max: dict[str, tuple] | None = None,
                     bloom_probe: dict[str, list] | None = None) -> list[dict]:
        """Manifest-level scan planning: file entries, stats-pruned.

        min_max: {col: (lo, hi)} keeps a file only if its [min, max] for
        col overlaps [lo, hi] (files without stats are kept — pruning is
        always conservative).

        bloom_probe: {col: [values]} keeps a file only if its per-file
        Bloom (declared via ``bloom_cols`` at write time) says SOME probe
        value may be present — the equi-join scan-pruning min/max cannot
        give on uniform hash keys. Files written without a Bloom for the
        column are kept; an empty probe list prunes everything (no probe
        values → no possible match).
        """
        files = self.snapshot(version)["files"]
        if min_max:
            for col, (lo, hi) in min_max.items():
                files = [
                    f
                    for f in files
                    if f["min"].get(col) is None
                    or not (f["max"][col] < lo or f["min"][col] > hi)
                ]
        if bloom_probe:
            for col, values in bloom_probe.items():
                files = [
                    f
                    for f in files
                    if (f.get("bloom") or {}).get(col) is None
                    or (len(values) > 0
                        and _bloom_any_maybe(f["bloom"][col], values))
                ]
        return files

    def plan_files(self, version: int | None = None,
                   min_max: dict[str, tuple] | None = None,
                   bloom_probe: dict[str, list] | None = None) -> list[str]:
        return [
            f["path"] for f in self.plan_entries(version, min_max, bloom_probe)
        ]

    def _read_entries(self, entries: list[dict]) -> DataFrame:
        # the partition value lives in the directory name, so each snap
        # subdir is read with its own basePath and the groups unioned
        by_base: dict[str, list[str]] = {}
        for f in entries:
            by_base.setdefault(f["base"], []).append(f["path"])
        out = None
        for base, paths in sorted(by_base.items()):
            part = self.spark.read.option("basePath", base).parquet(*paths)
            # additive schema evolution: snapshots written before a column
            # existed read back with that column null (Iceberg's add-column
            # semantics); readers always see the union schema
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        return out

    def read(self, version: int | None = None,
             min_max: dict[str, tuple] | None = None,
             bloom_probe: dict[str, list] | None = None) -> DataFrame:
        entries = self.plan_entries(version, min_max, bloom_probe)
        if entries:
            return self._read_entries(entries)
        all_entries = self.snapshot(version)["files"]
        if all_entries:  # pruned to nothing: keep the schema, drop the rows
            return self._read_entries(all_entries).limit(0)
        # a never-committed table has NO schema to honor — fabricating one
        # (the old behavior: a single int partition column) mis-types
        # string layouts and breaks any select downstream; refuse with a
        # clear error so callers guard on current_version() instead
        raise ValueError(
            f"snapshot table at {self.path} has no committed data to read "
            "(version 0); guard bootstrap reads with current_version() > 0"
        )

    def changes(self, from_version: int,
                to_version: int | None = None) -> DataFrame:
        """Incremental (CDC) read: rows ADDED between two snapshots.

        Walks the log from ``from_version`` (exclusive) to ``to_version``
        (inclusive, default current) and reads, per snapshot, the data
        files NEW relative to its base — with a ``_change_version``
        column. Semantics per operation (the copy-on-write contract,
        matching Iceberg's incremental-read restrictions — public spec):

        - ``append``: exactly the appended rows;
        - ``overwrite_partitions`` (including merge_rows, which commits
          as one): the rewritten partitions' full contents — an UPSERT
          IMAGE, not a row-level delta; downstream consumers keep the
          latest ``_change_version`` per key;
        - ``compact`` / ``rollback``: layout-/history-only, contribute
          nothing (compaction rewrites identical rows; rollback
          re-publishes an old file set).

        Scan cost is proportional to the CHANGED files only — the log
        diff happens driver-side on manifests, Spark never lists the
        table directory.
        """
        to_version = (
            self.current_version() if to_version is None else to_version
        )
        parts = []
        for v in range(from_version + 1, to_version + 1):
            try:
                snap = self.snapshot(v)
            except FileNotFoundError as exc:
                raise ValueError(
                    f"CDC window expired: snapshot v{v} was removed by "
                    "expire_snapshots — incremental readers must consume "
                    "changes before history is retired (re-read the full "
                    "table instead)"
                ) from exc
            if snap["operation"] not in ("append", "overwrite_partitions"):
                continue
            try:
                base_paths = {
                    f["path"] for f in self.snapshot(snap["base_version"])["files"]
                }
            except FileNotFoundError:
                # base expired but v's own manifest survived: every file of
                # v not seen in a PRIOR retained manifest is still exactly
                # the new set — fall back to the previous retained version
                # walked in this loop when available, else treat all of v's
                # files as new (conservative: an upsert image, never a loss)
                base_paths = set()
            new_entries = [
                f for f in snap["files"] if f["path"] not in base_paths
            ]
            if new_entries:
                parts.append(
                    self._read_entries(new_entries).withColumn(
                        "_change_version", F.lit(v)
                    )
                )
        if not parts:
            return self.read(to_version).limit(0).withColumn(
                "_change_version", F.lit(0)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -- maintenance ----------------------------------------------------------

    def compact(self, min_files_per_partition: int = 2) -> int | None:
        """Rewrite fragmented partitions into one file each (Iceberg's
        rewrite_data_files): partitions with >= min_files_per_partition
        files are read back and re-published as a 'compact' snapshot; data
        is bit-identical, only the file layout changes. Old files stay
        referenced by older snapshots until expire_snapshots drops them.
        Returns the new version, or None if nothing was fragmented.
        """
        base = self.current_version()
        files = self.snapshot(base)["files"]
        per_part: dict = {}
        for f in files:
            per_part.setdefault(f["min"].get(self.partition_col), []).append(f)
        frag = {p for p, fs in per_part.items() if len(fs) >= min_files_per_partition}
        if not frag:
            return None
        frag_entries = [f for p in frag for f in per_part[p]]
        rewritten = self._write_data_files(
            self._read_entries(frag_entries).repartition(self.partition_col),
            base + 1,
        )
        kept = [f for f in files if f["min"].get(self.partition_col) not in frag]
        return self._publish(
            "compact", kept + rewritten, base,
            {"rewrote_files": len(frag_entries), "into": len(rewritten)},
        )

    def vacuum_orphans(self, min_age_s: float = 3600.0) -> int:
        """Delete data files referenced by NO snapshot at all — the debris
        a writer leaves when it crashes (or loses a commit race) between
        the data write and the snapshot publish. ``min_age_s`` guards
        in-flight writers: only files older than it are removed. Returns
        the number of files deleted. Complements expire_snapshots, which
        only sees files some snapshot once referenced.
        """
        # compare by _file_key, not raw strings: manifests store whatever
        # root spelling the writing session opened the table under
        # (relative vs absolute), and raw comparison against os.walk's
        # output would make every live file of a differently-spelled
        # session look orphaned — and delete it
        referenced = set()
        for name in os.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as fh:
                    referenced.update(
                        _file_key(f["path"]) for f in json.load(fh)["files"]
                    )
        now = time.time()
        dropped = 0
        for root, _, names in os.walk(self.data_dir):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                if _file_key(full) in referenced:
                    continue
                try:
                    if now - os.path.getmtime(full) >= min_age_s:
                        os.unlink(full)
                        dropped += 1
                except FileNotFoundError:
                    pass
        return dropped

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop all but the newest `keep_last` snapshots; delete data files
        referenced by NO retained snapshot. Returns {'snapshots': n, 'files': n}.
        """
        if keep_last < 1:
            # keep_last=0 would retain NOTHING — including the current
            # snapshot — and delete every manifest and data file: a
            # table-destroying typo, not a retention policy
            raise ValueError("keep_last must be >= 1 (the head must survive)")
        current = self.current_version()
        versions = sorted(
            int(n[1:-5])
            for n in os.listdir(self.meta_dir)
            if n.startswith("v") and n.endswith(".json")
        )
        retained = [v for v in versions if v > current - keep_last]
        keep_files = set()
        for v in retained:
            keep_files.update(_file_key(f["path"]) for f in self.snapshot(v)["files"])
        dropped_files = 0
        for v in versions:
            if v in retained:
                continue
            for f in self.snapshot(v)["files"]:
                if _file_key(f["path"]) not in keep_files and os.path.exists(f["path"]):
                    os.unlink(f["path"])
                    dropped_files += 1
            os.unlink(self._snapshot_path(v))
        return {"snapshots": len(versions) - len(retained), "files": dropped_files}
