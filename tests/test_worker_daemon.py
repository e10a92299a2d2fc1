"""Worker bootstrap: the stat-guarded ``zipimporter.invalidate_caches`` and
the daemon module that installs it in ``get_spark`` workers."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from pdf_parser_spark import worker_daemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Count central-directory reads, per archive path."""
    counts: dict[str, int] = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def test_unchanged_archive_is_read_once(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, ["mod_a"])
    imp = zipimport.zipimporter(path)
    before = reads.get(path, 0)
    for _ in range(5):
        worker_daemon.invalidate_caches(imp)
    assert reads[path] - before == 1
    assert imp.find_spec("mod_a") is not None


def test_changed_archive_is_reread(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, ["mod_a"])
    imp = zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(imp)
    assert imp.find_spec("mod_b") is None
    _write_zip(path, ["mod_a", "mod_b"])
    before = reads[path]
    worker_daemon.invalidate_caches(imp)
    worker_daemon.invalidate_caches(imp)
    assert reads[path] - before == 1
    assert imp.find_spec("mod_b") is not None


def test_missing_archive_behaves_like_original(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, ["mod_a"])
    guarded, stock = zipimport.zipimporter(path), zipimport.zipimporter(path)
    worker_daemon.invalidate_caches(guarded)
    os.remove(path)
    before = reads[path]
    worker_daemon.invalidate_caches(guarded)  # must not raise
    worker_daemon.invalidate_caches(guarded)
    assert reads[path] - before == 2  # a failed stat always takes the original
    zipimport.zipimporter.invalidate_caches(stock)
    assert guarded._files == stock._files == {}
    assert guarded.find_spec("mod_a") is None


@pytest.mark.spark
def test_get_spark_workers_run_the_guarded_daemon(spark):
    def probe(batches):
        import pandas as pd

        for _ in batches:
            name = zipimport.zipimporter.invalidate_caches.__module__
            yield pd.DataFrame({"module": [name]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "module string").collect()
    assert [r.module for r in rows] == ["pdf_parser_spark.worker_daemon"]
    # importing the module patched nothing in this process
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
