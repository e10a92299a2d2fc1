"""Python worker daemon: the stock ``pyspark.daemon`` with a stat-guarded
``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.13 each ``zipimporter`` answers by re-reading
its archive's whole central directory, and local workers import pyspark
from ``pyspark.zip`` (plus py4j and the spark-core jar on ``sys.path``):
about 26,700 entries per task, which at ``local[4]`` costs about as much
as the extraction Python of a task. The guarded version re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read by that
importer; the first call, a changed archive and a failed ``os.stat`` all
take the original path, so a rewritten archive is still re-read.

``session.get_spark`` starts local workers through this module
(``spark.python.daemon.module``). Importing it patches nothing; only
running it as the daemon calls ``install()``, then reads every archive
once before forking workers. It writes nothing to stdout: the JVM reads
the daemon's port from there.
"""

from __future__ import annotations

import os
import zipimport

_original = zipimport.zipimporter.invalidate_caches


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    try:
        st = os.stat(importer.archive)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        sig = None
    if sig is None or sig != getattr(importer, "_read_sig", None):
        _original(importer)
        importer._read_sig = sig


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    # run as ``-m``, this file is ``__main__``: install the function from
    # the importable module so workers report it under its real name
    from pdf_parser_spark.worker_daemon import install as _install
    from pyspark import daemon

    _install()
    # read each archive once here: forked workers inherit the read and its
    # signature, so their first task re-reads nothing either
    importlib.invalidate_caches()
    daemon.manager()
