"""SparkSession factory with the scale-tuned defaults used everywhere.

Local-mode testing (local[N]) with the same config surface a multi-executor
spark-submit would use; AQE on, Arrow on, shuffle partitions sized to cores.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


def package_files() -> list[str]:
    """Every file the ``--py-files`` zip carries: the package's modules
    plus its ``data/`` files (read through pkgutil, so they load from the
    zip too)."""
    data_dir = os.path.join(_PACKAGE_DIR, "data")
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(_PACKAGE_DIR)
        for f in files
        if f.endswith(".py") or root == data_dir
    ]


def build_pyfiles_zip(out: str) -> str:
    """Write the importable package (``package_files()``) to the zip at
    ``out`` — what ``spark-submit --py-files`` / ``addPyFile`` ship."""
    os.makedirs(os.path.dirname(out), exist_ok=True)
    repo = os.path.dirname(_PACKAGE_DIR)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for full in package_files():
            z.write(full, os.path.relpath(full, repo))
    return out


def _export_package_path() -> None:
    """Make pdf_parser_spark importable in Spark Python workers.

    Workers inherit PYTHONPATH, not the driver's sys.path mutations — the
    local-mode analog of `spark-submit --py-files pdf_parser_spark.zip`.
    Must run before the session (and its worker daemons) start.
    """
    root = os.path.dirname(_PACKAGE_DIR)
    current = os.environ.get("PYTHONPATH", "")
    if root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + current if current else "")


def get_spark(
    app_name: str = "pdf_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _export_package_path()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N] → N threads; shuffle partitions should match parallelism,
    # not the 200 default (which would create tiny partitions at test scale
    # and is retuned by AQE coalescing at cluster scale anyway)
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
