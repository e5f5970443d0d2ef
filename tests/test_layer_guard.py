"""Layer-collect size guard (the r4 verdict's only 100×-scale hazard):
every driver-side geometry collect must be preceded by a Spark-side size
check that raises — or, for ``pip_join``, degrades to the distributed
cell equi-join plan — instead of silently OOMing the driver on a layer
that outgrew the broadcast envelope."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from projcl_spark.operators import layer_guard as LG
from projcl_spark.operators import pip
from projcl_spark.operators.layer_guard import (
    LayerTooLargeError,
    check_layer_size,
)
from projcl_spark.operators.pip import pip_join
from projcl_spark.sources import synth


def test_check_layer_size_small_layer_passes(spark):
    polys = synth.polygons_df(spark, n_polys=16, res=8)
    n, est = check_layer_size(polys, what="t", item_bytes={"xs": 16})
    assert n == 16 and est > 0


def test_check_layer_size_row_cap(spark):
    polys = synth.polygons_df(spark, n_polys=16, res=8)
    with pytest.raises(LayerTooLargeError, match="16 rows"):
        check_layer_size(polys, what="t", item_bytes={"xs": 16}, max_rows=4)


def test_check_layer_size_byte_cap(spark):
    polys = synth.polygons_df(spark, n_polys=16, res=8)
    with pytest.raises(LayerTooLargeError, match="payload"):
        check_layer_size(polys, what="t", item_bytes={"xs": 16}, max_bytes=64)


def test_build_maps_guarded(spark, monkeypatch):
    """The one guard of ``pip._prepare`` is no looser than a vertex-only
    or a cover-only guard: a layer over the byte cap on its vertex
    payload alone (16 B per ``xs`` item) or on its cover payload alone
    (32 B per ``cells`` item) is refused BEFORE the layer is collected
    (module caps are read at call time, so deployments can retune them
    globally)."""
    def layer(n_verts, n_cells):
        return spark.createDataFrame(
            [(0, [0.0] * n_verts, [0.0] * n_verts, list(range(n_cells)))],
            "poly_id long, xs array<double>, ys array<double>, "
            "cells array<long>")

    verts_heavy, cover_heavy = layer(1000, 1), layer(3, 1000)
    collected = []
    cls = type(verts_heavy)
    real_collect = cls.collect

    def spy_collect(df):
        collected.append(df.columns)
        return real_collect(df)

    monkeypatch.setattr(cls, "collect", spy_collect)
    monkeypatch.setattr(pip, "_PREPARED", {})
    for polys, payload in ((verts_heavy, 16 * 1000), (cover_heavy, 32 * 1000)):
        monkeypatch.setattr(LG, "MAX_LAYER_BYTES", payload - 1)
        with pytest.raises(LayerTooLargeError):
            pip._prepare(polys)
    assert collected and not any("xs" in cols for cols in collected)
    assert pip._PREPARED == {}


def test_pip_join_falls_back_to_equi_join(spark, monkeypatch):
    """Over-cap layer: pip_join warns and degrades to the shuffle plan,
    returning exactly the broadcast plan's rows."""
    pts = synth.geo_points(spark, 200)
    polys = synth.polygons_df(spark, n_polys=16, res=8)
    expected = pip_join(pts, polys, res=8).select(
        "doc_id", "offset", "poly_id")
    monkeypatch.setattr(LG, "MAX_LAYER_ROWS", 4)
    monkeypatch.setattr(pip, "_PREPARED", {})  # forget the prepared layer
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = pip_join(pts, polys, res=8).select(
            "doc_id", "offset", "poly_id")
        rows = got.collect()
    assert any("falling back" in str(x.message) for x in w)
    assert len(rows) == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_boundary_and_snap_guarded(spark, monkeypatch):
    from projcl_spark.operators.geometry import (
        distance_to_boundary,
        snap_to_segments,
    )

    monkeypatch.setattr(LG, "MAX_LAYER_ROWS", 4)
    pts = synth.geo_points(spark, 50)
    polys = synth.polygons_df(spark, n_polys=16, res=8)
    with pytest.raises(LayerTooLargeError):
        distance_to_boundary(pts, polys).count()
    segs = spark.createDataFrame(
        [(i, 0.0 + i, 0.0, 1.0 + i, 1.0) for i in range(8)],
        "seg_id long, x1 double, y1 double, x2 double, y2 double",
    )
    with pytest.raises(LayerTooLargeError):
        snap_to_segments(pts, segs).count()
