"""Stage-level checkpointing with per-file row counts + metrics (north
rule: every pipeline stage checkpoints so runs resume mid-pipeline).

The reference has no persistence at all (its "sink" is a blocking device
read-back, ``src/projcl_run.c:273-285``); this is engine-added scaffolding
for 10^12-row pipelines where any stage can die and re-running finished
stages is unaffordable.

Layout (table-format-agnostic: parquet dirs in the sandbox; pass
``table_format="iceberg"`` to target Iceberg tables via ``df.writeTo(...)``
on a cluster with the iceberg-spark runtime — ``tests/test_checkpoint.py::
test_iceberg_seam`` drives that path, skip-marked where the jar is absent):

    {root}/{run_id}/{stage}/data/   stage output (parquet)
    {root}/{run_id}/{stage}/_OK     commit marker (atomic rename), JSON
        {"stage", "wall_ms", "inputs", "finished_at", "rows": [n_file0, ...]}

Resume contract: a stage re-runs iff it has no ``_OK`` marker with
``rows``; finished stages are served from their checkpoint, so a driver
crash between stages loses at most the in-flight stage.  ``rows`` counts
the rows of each data file (sorted path order) from table metadata after
the write — what was written, not what the planner intended.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..session import file_versions, parquet_footer


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the iceberg-spark runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class Pipeline:
    """``table_format="parquet"`` (sandbox default) checkpoints to parquet
    dirs; ``"iceberg"`` checkpoints each stage to an Iceberg table via
    ``df.writeTo(...).using("iceberg").createOrReplace()`` — requires the
    iceberg-spark runtime jar + a configured catalog (``catalog`` names it;
    stage tables land in ``{catalog}.{namespace}``).  Same stage/lineage/
    resume contract either way; ``_OK`` markers stay filesystem-side so
    resume logic is format-agnostic."""

    def __init__(self, spark: SparkSession, root: str, run_id: str,
                 table_format: str = "parquet",
                 catalog: str = "projcl", namespace: str = "checkpoints"):
        if table_format not in ("parquet", "iceberg"):
            raise ValueError(f"unknown table_format {table_format!r}")
        if table_format == "iceberg":
            if not iceberg_available(spark):
                raise RuntimeError(
                    "table_format='iceberg' needs the iceberg-spark-runtime jar "
                    "(spark.jars.packages=org.apache.iceberg:iceberg-spark-"
                    "runtime-4.0_2.13:<ver>) and a spark.sql.catalog config")
            if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
                raise RuntimeError(
                    f"table_format='iceberg' needs spark.sql.catalog.{catalog} "
                    "configured (SparkCatalog/REST/Hive/JDBC) — the jar alone "
                    "is not enough")
            # Hive/REST/JDBC catalogs do not auto-create namespaces
            spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.table_format = table_format
        self.catalog = catalog
        self.namespace = namespace
        self._stages: list[str] = []
        self.ran: list[str] = []      # stages executed this invocation
        self.resumed: list[str] = []  # stages served from checkpoint

    # ----------------------------------------------------------- storage ---

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, self.run_id, stage)

    def _ok(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_OK")

    def _marker(self, stage: str) -> dict | None:
        """The stage's commit record, or None while it is uncommitted (a
        marker from before per-file counts has no ``rows``: re-run it)."""
        try:
            with open(self._ok(stage)) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return None
        return meta if "rows" in meta else None

    def is_done(self, stage: str) -> bool:
        return self._marker(stage) is not None

    def _table(self, path: str) -> str:
        """Map a checkpoint path to an Iceberg table identifier."""
        rel = os.path.relpath(path, self.root)
        part = rel.replace(os.sep, "_").replace(".", "_").replace("-", "_")
        return f"{self.catalog}.{self.namespace}.{part}"

    @staticmethod
    def _fs_url(path: str) -> str:
        """Parquet data must land on the same mounted filesystem the
        os-level ``_OK`` checks inspect — qualify with file: so a
        cluster whose fs.defaultFS is an object store can't silently
        split the two."""
        return path if "://" in path else f"file://{path}"

    def _write(self, df: DataFrame, path: str) -> None:
        if self.table_format == "iceberg":
            df.writeTo(self._table(path)).using("iceberg").createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self._fs_url(path))

    def _read(self, path: str) -> DataFrame:
        if self.table_format == "iceberg":
            return self.spark.read.table(self._table(path))
        return self.spark.read.parquet(self._fs_url(path))

    def _file_rows(self, path: str) -> list[int]:
        """Rows of each data file written at ``path``, in sorted path order,
        from table metadata: no data is read."""
        if self.table_format == "iceberg":
            files = self.spark.read.table(self._table(path) + ".files")
            return [r.record_count for r in
                    files.orderBy("file_path").select("record_count").collect()]
        return [sum(b.getRowCount() for b in parquet_footer(self.spark, f).getBlocks())
                for f, *_ in file_versions(self.spark, [self._fs_url(path)])]

    # ------------------------------------------------------------ stages ---

    def stage(
        self,
        name: str,
        fn: Callable[..., DataFrame],
        inputs: tuple[str, ...] = (),
    ) -> DataFrame:
        """Run (or resume) one named stage.

        ``fn`` receives the checkpointed DataFrames of ``inputs`` and must
        return the stage's output DataFrame.  Output is checkpointed before
        anything downstream sees it — downstream stages therefore re-read a
        stable, re-partitionable parquet snapshot instead of recomputing the
        upstream plan (also breaks lineage for very deep plans).
        """
        if name in self._stages:
            raise ValueError(f"duplicate stage {name!r}")
        self._stages.append(name)
        data_path = os.path.join(self._dir(name), "data")
        if self.is_done(name):
            self.resumed.append(name)
            return self._read(data_path)

        t0 = time.time()
        out = fn(*[self._read(os.path.join(self._dir(i), "data")) for i in inputs])
        self._write(out, data_path)
        wall_ms = int((time.time() - t0) * 1000)

        rows = self._file_rows(data_path)
        # atomic commit: write-then-rename so a crash mid-write can never
        # leave a marker that is_done() would trust
        os.makedirs(self._dir(name), exist_ok=True)  # iceberg mode: no parquet dir
        tmp = self._ok(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"stage": name, "wall_ms": wall_ms, "inputs": list(inputs),
                       "finished_at": datetime.now(timezone.utc).isoformat(),
                       "rows": rows}, f)
        os.replace(tmp, self._ok(name))
        self.ran.append(name)
        return self._read(data_path)

    # ----------------------------------------------------------- queries ---

    def lineage(self) -> DataFrame:
        """One row per data file of every committed stage, built from the
        commit markers (no Spark job runs).  ``partition_id`` is the file's
        ordinal in sorted path order; ``n_rows`` the rows it holds."""
        rows = [(self.run_id, s, i, n, m["wall_ms"], ",".join(m["inputs"]),
                 datetime.fromisoformat(m["finished_at"]))
                for s in self._stages if (m := self._marker(s))
                for i, n in enumerate(m["rows"])]
        return self.spark.createDataFrame(
            rows, "run_id string, stage string, partition_id int, n_rows long, "
                  "wall_ms int, inputs string, finished_at timestamp")

    def metrics(self) -> dict:
        """Per-stage wall/row metrics from the commit markers."""
        return {s: {"wall_ms": m["wall_ms"], "n_rows": sum(m["rows"]), "inputs": m["inputs"]}
                for s in self._stages if (m := self._marker(s))}
