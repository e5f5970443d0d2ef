"""Discrete global grid index (S2/Z-order-style quadkeys) — engine-added.

The reference has no spatial index (SURVEY.md §2 Table B); the north star
requires an H3/S2-style cell id powering partitioning, salting, and join
pruning.  We use an equirectangular 2^res × 2^res grid over the lon/lat
envelope with two encodings:

- ``cell_id``  = ix·2^res + iy — row-major, trivially SQL-expressible (used
  by the DuckDB correctness oracles and as the equi-join key);
- ``morton``   = bit-interleaved (ix, iy) — Z-order, so numerically-close ids
  are geographically close; prefixes of it drive range partitioning and
  salting at scale.

Both are implemented twice with identical semantics: as **pure Spark Column
expressions** (JVM whole-stage codegen — the hot path; no Python) and as
numpy (for driver-side planning, polygon covers, and tests).  Zero native
dependencies, deterministic across platforms.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_RES = 30


def _scale(res: int) -> int:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    return 1 << res


# ---------------------------------------------------------------- numpy ----

def cell_xy_np(lon, lat, res: int):
    n = _scale(res)
    ix = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def cell_id_np(lon, lat, res: int):
    ix, iy = cell_xy_np(lon, lat, res)
    return ix * _scale(res) + iy


def _spread_bits_np(v):
    """Interleave zeros between bits (supports 31-bit inputs)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def morton_np(lon, lat, res: int):
    ix, iy = cell_xy_np(lon, lat, res)
    return (_spread_bits_np(ix) << np.uint64(1) | _spread_bits_np(iy)).astype(np.int64)


def cell_morton_np(cell_id, res: int):
    """Morton key of a CELL (row-major id → Z-order id, same res)."""
    n = _scale(res)
    cell_id = np.asarray(cell_id, dtype=np.int64)
    ix, iy = cell_id // n, cell_id % n
    return (_spread_bits_np(ix) << np.uint64(1) | _spread_bits_np(iy)).astype(np.int64)


def morton_range_np(cell_id: int, cell_res: int, sink_res: int) -> tuple[int, int]:
    """Half-open morton range [lo, hi) at ``sink_res`` covering one cell at
    the coarser ``cell_res`` — the Z-order prefix property: a quadtree
    cell IS a contiguous morton interval, so a quadrant query over a
    morton-sorted layout becomes one range predicate (file/row-group
    min-max pruning does the rest)."""
    if sink_res < cell_res:
        raise ValueError(f"sink_res {sink_res} < cell_res {cell_res}")
    m = int(cell_morton_np(np.asarray([cell_id]), cell_res)[0])
    shift = 2 * (sink_res - cell_res)
    return m << shift, (m + 1) << shift


def neighbors_np(cell_id: int, res: int, ring: int = 1) -> np.ndarray:
    """All cell ids within a square (2·ring+1)² window.

    Longitude WRAPS (ix modulo 2^res — the grid is a cylinder, so a cell
    at ix=0 is adjacent to ix=2^res−1 across the antimeridian); latitude
    clips at the poles (no wrap — the grid is not a sphere topologically,
    and pole-adjacent queries escalate in the kNN certificate instead)."""
    n = _scale(res)
    ix, iy = cell_id // n, cell_id % n
    dx = np.arange(-ring, ring + 1)
    gx, gy = np.meshgrid(ix + dx, iy + dx, indexing="ij")
    gx = np.mod(gx, n)  # lon wrap
    ok = (gy >= 0) & (gy < n)  # lat clip
    return np.unique((gx[ok] * n + gy[ok]).astype(np.int64))


def cell_bounds_np(cell_id, res: int):
    """(lon_min, lat_min, lon_max, lat_max) of cells."""
    n = _scale(res)
    cell_id = np.asarray(cell_id, dtype=np.int64)
    ix, iy = cell_id // n, cell_id % n
    lon0 = ix / n * 360.0 - 180.0
    lat0 = iy / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


# -------------------------------------------------------- Spark columns ----

def cell_xy_col(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    n = _scale(res)
    ix = F.least(F.greatest(F.floor((lon + 180.0) / 360.0 * n), F.lit(0)), F.lit(n - 1))
    iy = F.least(F.greatest(F.floor((lat + 90.0) / 180.0 * n), F.lit(0)), F.lit(n - 1))
    return ix.cast("long"), iy.cast("long")


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    """Row-major cell id as a pure JVM-codegen column expression."""
    ix, iy = cell_xy_col(lon, lat, res)
    return (ix * _scale(res) + iy).alias("cell_id")


def _spread_bits_col(v: Column) -> Column:
    masks = (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    )
    for shift, mask in masks:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def morton_col(lon: Column, lat: Column, res: int) -> Column:
    """Z-order key as a pure column expression (prefix ≈ locality)."""
    ix, iy = cell_xy_col(lon, lat, res)
    return (F.shiftleft(_spread_bits_col(ix), 1).bitwiseOR(_spread_bits_col(iy))).alias("morton")


def cell_id_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The SAME cell id as ANSI SQL — runnable by both Spark and DuckDB.

    Keeps the correctness oracle and the engine bit-for-bit comparable.
    """
    n = _scale(res)
    ix = f"least(greatest(CAST(floor(({lon_expr} + 180.0) / 360.0 * {n}) AS BIGINT), 0), {n - 1})"
    iy = f"least(greatest(CAST(floor(({lat_expr} + 90.0) / 180.0 * {n}) AS BIGINT), 0), {n - 1})"
    return f"({ix} * {n} + {iy})"


def ring_cells_sql(cell_expr: str, res: int, ring: int = 1) -> str:
    """array<bigint> of the square ring around the cell id ``cell_expr``,
    as Spark SQL (higher-order functions).

    Used to explode query-side cells for kNN candidate pruning.  Longitude
    WRAPS (ix modulo 2^res): a query next to ±180° prunes against the
    cells on the other side of the antimeridian, so the kNN certificate
    can certify there instead of brute-forcing the corpus.  Latitude clips
    at the poles (pole-adjacent windows still escalate).  ``array_distinct``
    guards the degenerate 2·ring+1 ≥ 2^res case where the wrap laps the
    globe and x offsets collide.
    """
    n = _scale(res)
    # exact integer decomposition (n = 2^res): float division would lose
    # precision for cell ids beyond 2^53 (res > 26)
    ix = f"shiftright({cell_expr}, {res})"
    iy = f"({cell_expr} & {n - 1})"
    offs = f"sequence({-ring}, {ring})"
    # lambda names cannot shadow a column that cell_expr references
    xy = (f"flatten(transform({offs}, _ring_dx -> transform({offs}, _ring_dy -> "
          f"named_struct('x', pmod({ix} + _ring_dx, {n}), 'y', {iy} + _ring_dy))))")
    valid = f"filter({xy}, _ring_c -> _ring_c.y >= 0 AND _ring_c.y < {n})"
    return f"array_distinct(transform({valid}, _ring_c -> _ring_c.x * {n} + _ring_c.y))"


def ring_cells_col(cell: str, res: int, ring: int = 1) -> Column:
    """``ring_cells_sql`` over the cell-id column named ``cell``, as one
    parsed expression (one py4j call, not one per operator)."""
    return F.expr(ring_cells_sql(f"`{cell}`", res, ring))


def compact_cover(cells: DataFrame, res: int, min_res: int,
                  cell: str = "cell_id") -> DataFrame:
    """S2-style cell-cover compaction: wherever all four children of a
    parent cell are present, replace them by the parent, recursively up
    to ``min_res``.  Returns (level, cell_id) — the mixed-resolution
    cover that represents the same region in the fewest cells (what a
    spatial catalog stores per file/partition for min/max pruning, and
    what keeps a broadcast cover small when a polygon spans both a
    continent and a coastline detail).

    Plan: one groupBy-count + anti-join per level — a FIXED res−min_res
    rounds (resolution depth, not data size), each over a strictly
    shrinking cell table; the point corpus is never touched.  All
    integer arithmetic ⇒ bit-exact vs the unrolled-CTE SQL twin.

    Cell ids follow this module's row-major convention
    (id = ix·2^res + iy); a child (ix, iy) at res r has parent
    (ix//2, iy//2) at r−1.
    """
    levels = []
    cur = cells.select(F.col(cell).cast("long").alias("c")).distinct()
    for r in range(res, min_res, -1):
        n = _scale(r)
        half = n // 2
        par = cur.select(
            "c",
            (F.floor(F.floor(F.col("c") / n) / 2) * half
             + F.floor((F.col("c") % n) / 2)).cast("long").alias("par"),
        )
        full = (par.groupBy("par").agg(F.count("*").alias("_n"))
                .where(F.col("_n") == 4).select("par"))
        kept = par.join(full, "par", "left_anti").select(
            F.lit(r).alias("level"), F.col("c").alias(cell))
        levels.append(kept)
        cur = full.select(F.col("par").alias("c"))
    levels.append(cur.select(F.lit(min_res).alias("level"),
                             F.col("c").alias(cell)))
    out = levels[0]
    for more in levels[1:]:
        out = out.unionByName(more)
    return out


def adaptive_tiles(leaf_counts: DataFrame, res_max: int, res_min: int,
                   cap_den: int = 150, cell: str = "cell_id",
                   val: str = "cnt") -> DataFrame:
    """Adaptive quadtree tiling — the inverse of ``compact_cover``:
    starting from leaf-resolution counts, each region is represented at
    the COARSEST level whose tile holds ≤ total/cap_den of the corpus
    (denser areas recurse deeper, down to ``res_max``).  The output
    (level, cell_id, cnt) is the mixed-resolution tile set a map server
    or partitioner wants: roughly equal-weight tiles regardless of how
    skewed the density surface is.

    The relative cap (cap_den·cnt ≤ total, integer cross-multiplication)
    keeps the query meaningful at every scale.  Tile choice per leaf is
    the FIRST level in res_min..res_max whose ancestor count fits —
    counts only shrink with depth, so the cut is well-defined; leaves
    whose own count still violates the cap stay at res_max.

    Plan: one rollup per level off the leaf table (each a cell-sized
    map-side-combinable aggregate), ancestor ids by bit arithmetic, a
    join per level (cell-sized × cell-sized), one CASE — the corpus is
    touched only by whoever built ``leaf_counts``.
    """
    total = leaf_counts.agg(F.sum(F.col(val)).cast("long").alias("_total"))
    n_max = _scale(res_max)
    base = leaf_counts.select(
        F.col(cell).cast("long").alias("c"), F.col(val).cast("long").alias("v"))
    ix = F.floor(F.col("c") / n_max).cast("long")
    iy = (F.col("c") % n_max).cast("long")
    anc_cols = {}
    for lv in range(res_min, res_max):
        sh = res_max - lv
        anc_cols[f"a{lv}"] = (
            F.floor(ix / (1 << sh)) * _scale(lv) + F.floor(iy / (1 << sh))
        ).cast("long")
    # the leaf table sits on BOTH sides of every per-level join (spine +
    # that level's rollup) — without materialization the plan embeds 2^L
    # copies of the upstream corpus rollup (measured 22 s vs 2 s at
    # sf0.1).  It is cell-sized, so the checkpoint is cheap.
    leaf = base.withColumns(anc_cols).localCheckpoint()
    out = leaf
    for lv in range(res_min, res_max):
        cnts = (leaf.groupBy(F.col(f"a{lv}").alias("_k"))
                .agg(F.sum("v").alias(f"cnt{lv}")))
        out = out.join(cnts, out[f"a{lv}"] == cnts["_k"]).drop("_k")
    out = out.crossJoin(F.broadcast(total))
    level = F.lit(res_max)
    tile = F.col("c")
    cnt = F.col("v")
    for lv in range(res_max - 1, res_min - 1, -1):
        fits = (F.lit(cap_den) * F.col(f"cnt{lv}")) <= F.col("_total")
        level = F.when(fits, F.lit(lv)).otherwise(level)
        tile = F.when(fits, F.col(f"a{lv}")).otherwise(tile)
        cnt = F.when(fits, F.col(f"cnt{lv}")).otherwise(cnt)
    return (
        out.select(level.alias("level"), tile.alias(cell), cnt.alias(val))
        .distinct()
        .select(F.col("level").cast("int"), F.col(cell).cast("long"),
                F.col(val).cast("long"))
    )
