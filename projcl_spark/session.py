"""SparkSession factory tuned for the engine.

Local-mode defaults match the sandbox (one JVM, N threads); the same config
block is what we'd ship to a 1000-executor cluster minus the master/memory
overrides.  AQE + skew-join splitting are always on (the north rule's skew
handling), Arrow batches are sized so each pandas-UDF call sees ProjCL-like
batch sizes (10⁴–10⁵ points per call).

Also process-level plumbing every session shares: the zip-directory cache
that keeps a Python worker's per-task ``importlib.invalidate_caches()``
cheap, and ``file_versions``, the file listing that memo keys are built
from.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession

ARROW_BATCH = 65536  # points per UDF call — the reference's sweet spot is large batches


def _archive_version(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


# archive path -> (size, mtime_ns) it had when its cached directory was read
_READ_AT: dict[str, tuple[int, int] | None] = {}


def _read_directory_stamped(archive: str) -> dict:
    # stat before reading: a rewrite during the read shows as a change later
    version = _archive_version(archive)
    files = _read_directory_stamped.stock(archive)
    _READ_AT[archive] = version
    return files


def _reread_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive directory
    only when the archive's (size, mtime) changed or cannot be stat'ed —
    the rule ``FileFinder`` applies to directories.  Importers of one
    archive (one per package prefix) share its cached directory, so a
    changed archive is read once, not once per importer."""
    version = _archive_version(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if version is None or version != _READ_AT.get(self.archive) or files is None:
        _reread_if_changed.stock(self)
    else:
        self._files = files


def install_zip_cache() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading unchanged zips.

    A PySpark worker calls it before every task; CPython's zipimporter
    (3.11, 3.12) then re-parses the central directory of every archive on
    ``sys.path`` — pyspark.zip once per package importer, the py4j zip and
    the spark-core jar: a one-task pandas-UDF job took 277 ms with it and
    130 ms without (median, 4 vCPUs, CPython 3.11).  Installed once per process
    by importing the package (so a worker gets it when it unpickles an
    engine UDF).  Archives already cached are stamped with their current
    version, so only the first task of a worker pays.  Not caught: an
    archive rewritten with the same size and mtime, or one rewritten
    between its last read and that stamp.
    """
    stock = zipimport.zipimporter.invalidate_caches
    if stock.__module__ == __name__:
        return
    for archive in list(zipimport._zip_directory_cache):
        _READ_AT[archive] = _archive_version(archive)
    _read_directory_stamped.stock = zipimport._read_directory
    _reread_if_changed.stock = stock
    zipimport._read_directory = _read_directory_stamped
    zipimport.zipimporter.invalidate_caches = _reread_if_changed


def file_versions(spark: SparkSession, paths) -> tuple[tuple[str, int, int, bool], ...]:
    """Sorted ``(path, size, mtime_ms, is_dir)`` of what a read of ``paths``
    sees: a file stands for itself, a directory for its direct children,
    without the ``_``/``.``-prefixed names Spark's file index skips.  One
    Hadoop listing per path (any filesystem Spark reads); the memo keys of
    ``pip._prepare`` and the spatial sink are built from it."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    Path = spark._jvm.org.apache.hadoop.fs.Path
    out = []
    for p in paths:
        path = Path(p)
        for st in path.getFileSystem(hconf).listStatus(path):
            f = st.getPath().toString()
            if not f.rsplit("/", 1)[-1].startswith(("_", ".")):
                out.append((f, st.getLen(), st.getModificationTime(), st.isDirectory()))
    return tuple(sorted(out))


def get_spark(
    app: str = "projcl_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    n = os.cpu_count() or 8 if cores == "*" else int(cores)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(2 * n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
