"""SparkSession factory with the settings this library assumes."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the js_hll_spark package so executors can import it — the same
    artifact a cluster run passes via ``spark-submit --py-files``."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), "js_hll_spark_pkg.zip")
    # write-to-temp + atomic rename: two concurrent sessions (gate run
    # beside a bench) would otherwise race ZipFile's in-place truncate
    # against the other's addPyFile copy and ship a corrupt zip
    fd, tmp = tempfile.mkstemp(
        suffix=".zip", prefix="js_hll_spark_pkg.", dir=tempfile.gettempdir()
    )
    os.close(fd)
    with zipfile.ZipFile(tmp, "w") as zf:
        for dirpath, _, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    os.replace(tmp, out)
    return out


def ship_package(spark: SparkSession) -> None:
    """Make js_hll_spark importable on executor Python workers (local-mode
    workers do not inherit the driver's sys.path mutations).

    The first import of the package in a worker wraps
    ``zipimporter.invalidate_caches`` (``js_hll_spark._worker``): a zip
    archive on the worker's path, this one and ``pyspark.zip`` included,
    is re-read at a task's start only when its stat changed since its
    last read, instead of once per importer on every task (CPython 3.11
    and 3.12). Re-shipping a changed zip is still picked up by the next
    task. The driver is never patched, nor is CPython >= 3.13, which
    re-reads lazily."""
    spark.sparkContext.addPyFile(package_zip())


def get_spark(
    app_name: str = "js_hll_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """A session with the library's settings, with the package shipped to
    the workers (``ship_package``). Each Python worker pays its zip import
    set-up on its first task only; later tasks skip re-reading unchanged
    archives (see ``ship_package``)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # epoch arithmetic (sessionize, windowed aggs) must not depend on
        # the JVM's local zone — a DST transition would shift NTZ->epoch
        # casts by ±3600 s vs timezone-free oracles
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    ship_package(spark)
    return spark
