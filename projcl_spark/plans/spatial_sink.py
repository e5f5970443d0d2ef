"""Z-order-clustered parquet sink — spatial layout for O(range) reads.

The reference's only persistence is raw host buffers
(``pl_load_buffer``/``pl_unload_buffer``, src/projcl_run.c); it has no
layout story at all.  At 100 TB the LAYOUT is the query plan: writing
points clustered by Morton key turns every quadrant/tile read into one
contiguous key range, so parquet min-max statistics prune files and row
groups instead of scanning the corpus.

``write_spatial`` = morton key → ``repartitionByRange`` (range-partitioned
shuffle: each output file owns a disjoint key interval) →
``sortWithinPartitions`` (row groups inside a file are internally ordered)
→ parquet.  ``read_spatial_cell`` maps a quadtree cell at any coarser
resolution to its half-open morton interval (``morton_range_np`` — the
Z-order prefix property) and reads only the files whose ``_morton``
[min, max] overlaps it, with the range filter pushed into the scan
(`PushedFilters: [GreaterThanOrEqual(_morton,..), LessThan(_morton,..)]`)
so row groups inside those files are pruned too.  Spark prunes plain
parquet by footer statistics only per row group, so the file skip is the
sink's own.

Each sink is resolved once: a bounded memo holds its schema (no
schema-inference job per read) and each file's ``_morton`` bounds, read
from the parquet footers' row-group statistics.  The memo key is the
sink's file listing — path, size and mtime of every data file
(``session.file_versions``) — so an added, removed or rewritten file
misses it; a rewrite that keeps both a file's size and its mtime does not.
A file without ``_morton`` statistics is always read.  A sink with
subdirectories (partitioned by a column) is read whole, schema given.

Scale notes: repartitionByRange samples the key distribution, so skewed
data still yields balanced files; ``buckets`` should target ~128 MB files
at production scale.  The morton key is carried as a column (`_morton`)
— readers that don't know the scheme see ordinary parquet.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..index.cells import morton_col, morton_range_np
from ..session import file_versions

MORTON_COL = "_morton"


def write_spatial(
    df: DataFrame,
    path: str,
    lon: str = "lon",
    lat: str = "lat",
    res: int = 12,
    buckets: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` to ``path`` clustered by the res-``res`` Morton key."""
    keyed = df.withColumn(MORTON_COL, morton_col(F.col(lon), F.col(lat), res))
    n = buckets or df.sparkSession.sparkContext.defaultParallelism
    (
        keyed.repartitionByRange(n, MORTON_COL)
        .sortWithinPartitions(MORTON_COL)
        .write.mode(mode)
        .parquet(path)
    )


# resolved sinks: (path, file versions) -> (schema, [(file, lo, hi)] or None
# when the sink has subdirectories); bounded — a session reads a few sinks
_SINKS: dict[tuple, tuple[StructType, list | None]] = {}


def _morton_bounds(spark: SparkSession, file: str) -> tuple[int | None, int | None]:
    """[min, max] of ``_morton`` over a parquet file's row groups, from its
    footer; ``(None, None)`` when a row group carries no statistics."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    try:
        footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            hconf, jvm.org.apache.hadoop.fs.Path(file))
        idx = footer.getFileMetaData().getSchema().getFieldIndex(MORTON_COL)
        lo = hi = None
        for block in footer.getBlocks():
            st = block.getColumns().get(idx).getStatistics()
            if not st.hasNonNullValue():
                return None, None
            b_lo, b_hi = st.genericGetMin(), st.genericGetMax()
            lo = b_lo if lo is None else min(lo, b_lo)
            hi = b_hi if hi is None else max(hi, b_hi)
        return lo, hi
    except Py4JError:
        return None, None


def _resolve(spark: SparkSession, path: str) -> tuple[StructType, list | None]:
    files = file_versions(spark, [path])
    key = (path, files)
    if key not in _SINKS:
        schema = spark.read.parquet(path).schema
        bounds = None if any(is_dir for *_, is_dir in files) else [
            (f, *_morton_bounds(spark, f)) for f, *_ in files]
        if len(_SINKS) >= 16:
            _SINKS.clear()
        _SINKS[key] = (schema, bounds)
    return _SINKS[key]


def read_spatial_cell(
    spark: SparkSession,
    path: str,
    cell_id: int,
    cell_res: int,
    res: int = 12,
) -> DataFrame:
    """All rows of a spatial sink inside one cell at ``cell_res`` — the
    files whose morton bounds overlap the cell, filtered by one
    pushed-down range predicate on the sink's morton column."""
    lo, hi = morton_range_np(cell_id, cell_res, res)
    schema, files = _resolve(spark, path)
    if files is None:
        df = spark.read.schema(schema).parquet(path)
    else:
        hit = [f for f, f_lo, f_hi in files
               if f_lo is None or (f_lo < hi and f_hi >= lo)]
        if not hit:
            return spark.createDataFrame([], schema)
        df = spark.read.schema(schema).parquet(*hit)
    return df.filter((F.col(MORTON_COL) >= F.lit(lo)) & (F.col(MORTON_COL) < F.lit(hi)))
