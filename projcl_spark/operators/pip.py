"""Point-in-polygon join — filter-refine over the cell index (engine-added).

The north-star operator the reference lacks (its only join-shaped compute is
the cross-product geodesic, ``src/projcl_run.c:654-656``).  Scale design:

1. **filter**: points get a ``cell_id`` (pure column, JVM codegen); the
   polygon layer is exploded to its covering cells and **broadcast** (small
   dim table — no shuffle of the 10^12-row point side);
2. **refine**: exact winding-number test in a vectorized pandas UDF.  The
   vertex table travels in the UDF's closure, so Arrow moves only
   (lon, lat, poly_id) per candidate — works regardless of how AQE
   re-plans the join.

The closure state comes from ``_prepare``: one guarded collect per
polygon layer, memoized by the layer's plan and file versions.

The refine step is branch-free numpy over Arrow batches (the reference's
SIMD idiom) — rows are only ever filtered, never re-ordered, so span
reassembly downstream stays deterministic.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..index.cells import cell_id_sql
from ..session import file_versions
from .layer_guard import LayerTooLargeError, check_layer_size


def winding_contains_np(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized winding-number test: N points against ONE polygon.

    Standard crossing-count formulation (boundary-exclusive on the right
    edge); branchless numpy across points, loop only over vertices.

    Antimeridian contract: a polygon crossing ±180° must be given in a
    CONTINUOUS longitude frame (e.g. xs running 176…184, not jumping to
    −176) — the planar crossing count is meaningless over a discontinuous
    ring.  Each point's lon is normalized into the polygon's ±180° window
    first: px' = px + 360·⌊(cx − px)/360 + ½⌋ with cx the bbox center.
    For a conventional in-range polygon the shift term is EXACTLY 0.0
    (adding it is an IEEE no-op), so planar layers and their bit-exact
    SQL oracles are unaffected; seam oracles fold the same normalization
    (same operation order) into their SQL.
    """
    cx = (xs.min() + xs.max()) / 2.0
    # floor(x + 0.5), not round(): numpy's round is banker's at half-
    # integers while SQL's is half-away — floor+0.5 is the same IEEE op
    # sequence in both engines
    px = px + 360.0 * np.floor((cx - px) / 360.0 + 0.5)
    inside = np.zeros(px.shape, dtype=bool)
    nv = len(xs)
    j = nv - 1
    for i in range(nv):
        cond = (ys[i] > py) != (ys[j] > py)
        denom = ys[j] - ys[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = xs[i] + (py - ys[i]) * (xs[j] - xs[i]) / np.where(denom == 0, 1, denom)
        inside ^= cond & (px < x_int)
        j = i
    return inside


def _grouped_refine(px, py, pid, get_verts) -> np.ndarray:
    """Winding test over candidate rows grouped by ``poly_id`` (numpy
    stable sort → contiguous groups; no per-row Python — this is the hot
    loop at 10^12 candidates).  ``get_verts(group_start_index, pid_value)``
    returns the polygon's (xs, ys)."""
    out = np.zeros(len(px), dtype=bool)
    order = np.argsort(pid, kind="stable")
    sorted_pid = pid[order]
    starts = np.flatnonzero(np.r_[True, sorted_pid[1:] != sorted_pid[:-1]])
    ends = np.r_[starts[1:], len(sorted_pid)]
    for s, e in zip(starts, ends):
        ii = order[s:e]
        poly_x, poly_y = get_verts(ii[0], int(sorted_pid[s]))
        out[ii] = winding_contains_np(px[ii], py[ii], poly_x, poly_y)
    return out


@F.pandas_udf(BooleanType())
def _pip_refine(lon: pd.Series, lat: pd.Series, xs: pd.Series, ys: pd.Series,
                poly_id: pd.Series) -> pd.Series:
    """Exact winding test with vertex arrays riding along as columns —
    the huge-layer (``broadcast_polygons=False``) path where the polygon
    table cannot be captured driver-side."""
    px = lon.to_numpy(np.float64)
    py = lat.to_numpy(np.float64)
    pid = poly_id.to_numpy(np.int64)

    def get_verts(row0, _pid):
        return (np.asarray(xs.iloc[row0], dtype=np.float64),
                np.asarray(ys.iloc[row0], dtype=np.float64))

    return pd.Series(_grouped_refine(px, py, pid, get_verts))


def _pip_refine_closure(vert_map):
    """Exact winding test with the (tiny) vertex table captured in the UDF
    closure: Arrow then moves only (lon, lat, poly_id) per candidate —
    ~25 bytes/row instead of ~200 with per-row vertex arrays.  The refine
    is memory-bandwidth-bound, so this is what keeps the N→4N scaling of
    the PIP join linear (measured: join-rows/sec efficiency 0.72 → with
    closure vertices the Arrow traffic drops ~8×)."""

    @F.pandas_udf(BooleanType())
    def fn(lon: pd.Series, lat: pd.Series, poly_id: pd.Series) -> pd.Series:
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        pid = poly_id.to_numpy(np.int64)
        return pd.Series(_grouped_refine(
            px, py, pid, lambda _row0, p: vert_map[p]))

    return fn


# prepared layers: repeated calls over one layer (bench iterations, gate
# queries) reuse one collect; bounded — a session touches a few layers
_PREPARED: dict[tuple, tuple[dict, dict]] = {}


def _prepare(polygons: DataFrame) -> tuple[dict, dict]:
    """The broadcast state of a polygon layer — ``{poly_id: (xs, ys)}`` for
    the refine closures, ``{cell_id: [poly_id, ...]}`` for the zero-join
    anti/flag plan — from ONE collect per distinct layer.  A Spark-side
    size aggregate runs first and raises ``LayerTooLargeError`` on layers
    over the driver envelope (``pip_join`` then falls back to the
    distributed cell equi-join plan)."""
    try:
        # Key: the session (applicationId), the plan (semanticHash + md5
        # of the canonicalized text, so a 32-bit collision alone cannot
        # alias two plans) and (path, size, mtime) of every file read.  A
        # file scan's plan text names no paths (one schema, one text), so
        # the files tell parquet layers apart and catch in-place rewrites.
        # In-memory layers read no files; their RDD identifies them, so
        # re-creating one misses (one extra collect), never aliases.  Not
        # identified: a rewrite that keeps both a file's size and mtime.
        spark = polygons.sparkSession
        plan_text = (polygons._jdf.queryExecution().analyzed()
                     .canonicalized().toString())
        key = (spark.sparkContext.applicationId, polygons.semanticHash(),
               hashlib.md5(plan_text.encode()).hexdigest(),
               file_versions(spark, polygons.inputFiles()))
    except (AttributeError, Py4JError, PySparkException):
        key = None  # plan or files not inspectable: prepare, don't memoize
    if key in _PREPARED:
        return _PREPARED[key]
    check_layer_size(
        polygons, what="pip polygon layer",
        item_bytes={"xs": 16,      # two float64 arrays per vertex
                    "cells": 32},  # dict-of-lists entries cost more than int64s
        fallback_hint="Use pip_join(..., broadcast_polygons=False) — the "
                      "cell equi-join plan never collects the layer.")
    vert_map: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    cell_map: dict[int, list[int]] = {}
    for r in polygons.select("poly_id", "xs", "ys", "cells").collect():
        pid = int(r["poly_id"])
        vert_map[pid] = (np.asarray(r["xs"], dtype=np.float64),
                         np.asarray(r["ys"], dtype=np.float64))
        for c in r["cells"]:
            cell_map.setdefault(int(c), []).append(pid)
    if key is not None:
        if len(_PREPARED) >= 16:
            _PREPARED.clear()
        _PREPARED[key] = (vert_map, cell_map)
    return vert_map, cell_map


def pip_join(points: DataFrame, polygons: DataFrame, res: int = 8,
             broadcast_polygons: bool = True) -> DataFrame:
    """points(lon, lat, …) ⋈ polygons(poly_id, xs, ys, cells) → matched rows.

    ``cells`` must be the polygon's covering cell ids at ``res`` (see
    ``sources.synth.polygon_cover_cells``).  Returns the point columns +
    ``poly_id``.  Candidate pairs that fail the exact winding test are
    filtered, so output rows = exact PIP semantics.

    ``broadcast_polygons=True`` (default) never shuffles the point side:
    a vertex-FREE (poly_id, cell_id) cover is broadcast for the cell
    match, and the vertex table itself travels in the refine UDF's
    CLOSURE — Arrow then moves only (lon, lat, poly_id) per candidate
    (~25 bytes/row vs ~200 with per-row vertex arrays; the refine is
    bandwidth-bound, so this is what keeps its N→4N scaling linear).
    Fits an executor while cover+vertices are <~8 GB (millions of
    polygons).  Beyond that, set False: a plain cell equi-join with
    vertices riding along as columns (one shuffle of each side; AQE
    splits skewed cells; no driver-side polygon collect).  A layer over
    the driver-collect envelope takes that plan automatically.
    """
    pts = points.withColumn("cell_id", F.expr(cell_id_sql("lon", "lat", res)))
    if broadcast_polygons:
        try:
            vert_map, _ = _prepare(polygons)
        except LayerTooLargeError as ex:
            # layer outgrew the driver envelope: degrade to the
            # distributed cell equi-join plan instead of OOMing
            import warnings

            warnings.warn(f"pip_join: {ex} — falling back to the "
                          "cell equi-join plan", stacklevel=2)
            broadcast_polygons = False
    if broadcast_polygons:
        cover = polygons.select("poly_id", F.explode("cells").alias("cell_id"))
        cand = pts.join(F.broadcast(cover), "cell_id", how="inner")
        refined = cand.filter(
            _pip_refine_closure(vert_map)("lon", "lat", "poly_id"))
        return refined.drop("cell_id")
    poly_cells = polygons.select(
        "poly_id", "xs", "ys", F.explode("cells").alias("cell_id")
    )
    cand = pts.join(poly_cells, "cell_id", how="inner")
    refined = cand.filter(_pip_refine("lon", "lat", "xs", "ys", "poly_id"))
    return refined.drop("xs", "ys", "cell_id")


def pip_join_bruteforce(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """Oracle-grade exact PIP via full cross join (small inputs only)."""
    cand = points.crossJoin(F.broadcast(polygons.select("poly_id", "xs", "ys")))
    return cand.filter(_pip_refine("lon", "lat", "xs", "ys", "poly_id")).drop("xs", "ys")


def _pip_outside_closure(vert_map, cell_map, res: int):
    """True for points contained by NO polygon.  The whole layer (cell
    cover + vertices) lives in the closure, so the operator is a pure
    narrow map: no join, no shuffle, no aggregation — the ideal shape for
    'filter a 10^12-row corpus down to uncovered points'.  Rows bucketed
    by cell id with one stable argsort; points in uncovered cells never
    touch a polygon, and each candidate polygon is tested only against
    the not-yet-inside remainder of its bucket."""
    from ..index.cells import cell_id_np

    @F.pandas_udf(BooleanType())
    def fn(lon: pd.Series, lat: pd.Series) -> pd.Series:
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        cells = cell_id_np(px, py, res)
        inside = np.zeros(len(px), dtype=bool)
        order = np.argsort(cells, kind="stable")
        sc = cells[order]
        starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
        ends = np.r_[starts[1:], len(sc)]
        for s, e in zip(starts, ends):
            polys = cell_map.get(int(sc[s]))
            if not polys:
                continue
            ii = order[s:e]
            for p in polys:
                todo = ii[~inside[ii]]
                if not len(todo):
                    break
                xs, ys = vert_map[p]
                inside[todo] |= winding_contains_np(px[todo], py[todo], xs, ys)
        return pd.Series(~inside)

    return fn


def pip_anti_join(points: DataFrame, polygons: DataFrame, res: int = 8) -> DataFrame:
    """Points contained by NO polygon of the layer (spatial anti-join —
    coverage-gap / offshore filtering).

    Dual of ``pip_join`` with a stronger plan: instead of joining and
    anti-joining back (two shuffles of the corpus), the broadcast cover
    is inverted into a {cell → candidate polys} closure map and the whole
    operator becomes ONE vectorized filter over the point side — zero
    joins, zero shuffles, 16 bytes of Arrow traffic per row.  Same ≲8 GB
    broadcast envelope as ``pip_join``; a layer over the driver-collect
    envelope raises ``LayerTooLargeError``.
    """
    vert_map, cell_map = _prepare(polygons)
    return points.filter(
        _pip_outside_closure(vert_map, cell_map, res)("lon", "lat"))


def pip_inside_flag(points: DataFrame, polygons: DataFrame, res: int = 8,
                    flag_col: str = "inside") -> DataFrame:
    """Append a boolean ``flag_col``: is the point inside ANY polygon of
    the layer?  Same zero-join closure plan as ``pip_anti_join`` (the
    inverted broadcast cover + winding refine as ONE vectorized map),
    but as a column instead of a filter — the building block for
    sequential consumers (geofence transition detection) that need the
    flag on EVERY row, hits and misses alike."""
    vert_map, cell_map = _prepare(polygons)
    outside = _pip_outside_closure(vert_map, cell_map, res)
    return points.withColumn(flag_col, ~outside("lon", "lat"))


def zonal_stats(points: DataFrame, polygons: DataFrame,
                value_col: str = "val", res: int = 8) -> DataFrame:
    """Zonal statistics: per-polygon count/sum/min/max/mean of a point
    measure (the raster-analysis classic — aggregate a field by zone;
    engine-added, no analogue in the reference's kernel list).

    Composition, not new machinery: the ``pip_join`` filter-refine plan
    (broadcast vertex-free cover, winding refine in the UDF closure —
    the 10^12-row point side is never shuffled) followed by ONE partial
    aggregate on ``poly_id``.  The agg is map-side combinable, so the
    only exchange moves ~n_polys × n_partitions pre-aggregated rows, not
    points.  Points inside k overlapping zones contribute to all k —
    standard zonal semantics for non-disjoint layers.
    """
    hits = pip_join(points, polygons, res=res)
    return hits.groupBy("poly_id").agg(
        F.count("*").alias("n_pts"),
        F.sum(value_col).alias("val_sum"),
        F.min(value_col).alias("val_min"),
        F.max(value_col).alias("val_max"),
        F.avg(value_col).alias("val_avg"),
    )


def zonal_percentiles(points: DataFrame, polygons: DataFrame,
                      value_col: str = "val", res: int = 8,
                      ps: tuple[float, ...] = (0.25, 0.5, 0.75)) -> DataFrame:
    """Per-polygon EXACT percentiles of a point measure — the order
    statistic ``zonal_stats``' moments can't give (median rainfall per
    watershed, p75 latency per region).

    Same ``pip_join`` plan; the aggregate is Spark's exact ``percentile``
    (sort-based within the zone — the shuffle moves zone-partitioned
    values once, no second pass).  Exact percentile at 100 TB is
    per-zone-sort-bound by definition; swap ``approx_percentile`` in
    when zones stop fitting a task and a bounded error is acceptable.
    Definition parity: Spark ``percentile`` and DuckDB ``quantile_cont``
    both interpolate at rank p·(n−1) — with integral inputs and dyadic p
    the result is bit-exact across engines.
    """
    hits = pip_join(points, polygons, res=res)
    aggs = [F.count("*").alias("n_pts")] + [
        F.expr(f"percentile({value_col}, {p!r})").alias(f"p{int(p * 100)}")
        for p in ps
    ]
    return hits.groupBy("poly_id").agg(*aggs)
