"""Seeded input generator: every table the engine reads is written here.

Inputs are a pure function of ``(seed, Sizes)``: numpy draws, written with
pyarrow as multi-file parquet whose files hold several row groups each, so
Spark splits the scan across tasks without a repartition.  The generator
also returns the arrays it wrote, so the output checks compare the engine
against the very rows it read.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from projcl_spark.sources.synth import (LAT_MAX, LAT_MIN, LON_MAX, LON_MIN,
                                        polygon_cover_cells, polygon_layer_np)

POLYGONS = 64
POLYGON_SEED = 42      # one polygon layer for every seed: see generate()
POLY_RES = 8           # cell resolution of the polygon covers (pip_join default)
HOT_SHARE = 0.5        # share of the points drawn from hotspots
QUERY_HOT_SHARE = 0.8  # share of the query points drawn from hotspots
HOT_SIGMA_DEG = 0.4    # spread of a hotspot: most of it stays in its cover


@dataclass(frozen=True)
class Sizes:
    points: int
    files: int
    row_group: int
    queries: int = 0
    tiles_across: int = 0      # raster mosaic (query_loop's ingest only)
    tile_px: int = 64


@dataclass
class Inputs:
    points_path: str
    polygons_path: str
    queries_path: str | None
    tiles_path: str | None
    lon: np.ndarray
    lat: np.ndarray
    pid: np.ndarray
    layer: list            # [{poly_id, xs, ys}] as written
    q_lon: np.ndarray
    q_lat: np.ndarray
    hot_share: float       # measured share of points drawn from hotspots
    input_bytes: int


def _hot_or_uniform(rng, hot, centres):
    """Points drawn from a random hotspot where ``hot``, else uniform."""
    n = len(hot)
    k = rng.integers(0, len(centres), n)
    lon = np.where(hot, centres[k, 0] + rng.normal(0.0, HOT_SIGMA_DEG, n),
                   rng.uniform(LON_MIN, LON_MAX, n))
    lat = np.where(hot, centres[k, 1] + rng.normal(0.0, HOT_SIGMA_DEG, n),
                   rng.uniform(LAT_MIN, LAT_MAX, n))
    return np.clip(lon, LON_MIN, LON_MAX), np.clip(lat, LAT_MIN, LAT_MAX), hot


def _write_files(table: pa.Table, path: str, files: int, row_group: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * step, step)
        pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"),
                       row_group_size=row_group)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def generate(root: str, seed: int, sizes: Sizes) -> Inputs:
    """Write points, polygons, query points and (if sized) a raster mosaic
    under ``root`` (created; must not exist)."""
    os.makedirs(root)
    rng = np.random.default_rng(seed)

    # the polygons' sizes and vertex counts set the refine work, which
    # varied by about 5% from seed to seed: the layer is fixed and the
    # seed draws the points and query points
    layer = polygon_layer_np(POLYGONS, seed=POLYGON_SEED)
    # one hotspot per polygon: the refine work then averages over every
    # polygon's shape instead of hinging on which few were drawn
    centres = np.array([[(p["xs"].min() + p["xs"].max()) / 2,
                         (p["ys"].min() + p["ys"].max()) / 2] for p in layer])

    lon, lat, hot = _hot_or_uniform(rng, rng.random(sizes.points) < HOT_SHARE, centres)
    pid = np.arange(sizes.points, dtype=np.int64)
    points_path = os.path.join(root, "points")
    _write_files(pa.table({"pid": pid, "lon": lon, "lat": lat}),
                 points_path, sizes.files, sizes.row_group)

    polygons_path = os.path.join(root, "polygons")
    poly = pa.table({
        "poly_id": pa.array([p["poly_id"] for p in layer], pa.int64()),
        "xs": pa.array([p["xs"].tolist() for p in layer], pa.list_(pa.float64())),
        "ys": pa.array([p["ys"].tolist() for p in layer], pa.list_(pa.float64())),
        "cells": pa.array([polygon_cover_cells(p, POLY_RES).tolist() for p in layer],
                          pa.list_(pa.int64())),
    })
    _write_files(poly, polygons_path, 1, len(layer))

    q_lon = q_lat = np.empty(0)
    queries_path = None
    if sizes.queries:
        # hot and uniform queries evenly interleaved, so that the few dozen
        # queries one run sends hold the same share of hot ones at every seed
        i = np.arange(sizes.queries)
        q_hot = np.floor((i + 1) * QUERY_HOT_SHARE) > np.floor(i * QUERY_HOT_SHARE)
        q_lon, q_lat, _ = _hot_or_uniform(rng, q_hot, centres)
        queries_path = os.path.join(root, "queries")
        _write_files(pa.table({"query_id": np.arange(sizes.queries, dtype=np.int64),
                               "q_lon": q_lon, "q_lat": q_lat}),
                     queries_path, 1, sizes.queries)

    tiles_path = None
    if sizes.tiles_across:
        n, w = sizes.tiles_across, sizes.tile_px
        ids = np.arange(n * n, dtype=np.int64)
        pixels = rng.integers(0, 256, (n * n, w * w), dtype=np.int32)
        tiles_path = os.path.join(root, "tiles")
        _write_files(pa.table({
            "tile_id": ids,
            "tile_row": (ids // n).astype(np.int32),
            "tile_col": (ids % n).astype(np.int32),
            "width": np.full(n * n, w, np.int32),
            "height": np.full(n * n, w, np.int32),
            "pixels": pa.array(list(pixels), pa.list_(pa.int32())),
        }), tiles_path, 1, n * n)

    return Inputs(
        points_path=points_path, polygons_path=polygons_path,
        queries_path=queries_path, tiles_path=tiles_path,
        lon=lon, lat=lat, pid=pid, layer=layer,
        q_lon=q_lon, q_lat=q_lat, hot_share=float(hot.mean()),
        input_bytes=dir_bytes(root),
    )
