"""Spark-level operator tests: span round-trip, PIP parity, kNN parity,
projection UDFs, datum UDF — the engine-level oracles SURVEY.md §5 adds
beyond the reference's own harness.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from projcl_spark.core.params import ProjectionParams
from projcl_spark.core.spheroid import Spheroid
from projcl_spark.functions import (
    haversine_col,
    mercator_fwd_cols,
    project_udf,
)
from projcl_spark.geo import datum as dt
from projcl_spark.geo.geodesic import haversine as hav_np
from projcl_spark.operators.knn import knn_bruteforce, knn_join
from projcl_spark.operators.pip import pip_join, pip_join_bruteforce
from projcl_spark.operators.spans import explode_spans, geo_enrich, reassemble, roundtrip_check
from projcl_spark.proj import get_transform
from projcl_spark.sources import synth

N_DOCS = 300


def test_span_roundtrip(spark):
    docs = synth.documents(spark, N_DOCS)
    res = roundtrip_check(docs)
    assert res.filter(~F.col("ok")).count() == 0
    assert res.count() == N_DOCS


def test_span_roundtrip_survives_projection_join(spark):
    """North-star invariant: spans survive explode→enrich→project→reassemble."""
    docs = synth.documents(spark, N_DOCS)
    spans = geo_enrich(explode_spans(docs))
    udf = project_udf("albers_equal_area",
                      ProjectionParams(spheroid=Spheroid.WGS_84, rlat1=30.0, rlat2=60.0))
    enriched = spans.withColumn("xy", udf("lon", "lat"))
    rebuilt = reassemble(enriched.drop("lon", "lat", "xy"))
    orig_n = docs.select(F.explode("spans")).count()
    assert rebuilt.agg(F.sum("n_spans")).first()[0] == orig_n
    ok = (
        docs.select("doc_id", F.size("spans").alias("n0"))
        .join(rebuilt, "doc_id")
        .filter(F.col("n0") != F.col("n_spans"))
    )
    assert ok.count() == 0


def test_project_udf_matches_numpy(spark):
    pts = synth.geo_points(spark, N_DOCS)
    params = ProjectionParams(spheroid=Spheroid.WGS_84, rlat1=30.0, rlat2=60.0)
    udf = project_udf("lambert_conformal_conic", params)
    got = (
        pts.withColumn("xy", udf("lon", "lat"))
        .select("lon", "lat", "xy.x", "xy.y")
        .toPandas()
    )
    fwd = get_transform("lambert_conformal_conic", params, "forward")
    ex, ey = fwd(got["lon"].to_numpy(), got["lat"].to_numpy())
    np.testing.assert_allclose(got["x"].to_numpy(), ex, rtol=1e-12)
    np.testing.assert_allclose(got["y"].to_numpy(), ey, rtol=1e-12)


def test_mercator_pure_columns_match_udf(spark):
    pts = synth.geo_points(spark, N_DOCS)
    params = ProjectionParams(spheroid=Spheroid.WGS_84)
    x, y = mercator_fwd_cols(F.col("lon"), F.col("lat"), params)
    udf = project_udf("mercator", params)
    df = pts.select(x, y, udf("lon", "lat").alias("xy")).toPandas()
    np.testing.assert_allclose(df["x"], [r["x"] for r in df["xy"]], rtol=1e-12)
    np.testing.assert_allclose(df["y"], [r["y"] for r in df["xy"]], rtol=1e-12)


def test_haversine_col_matches_numpy(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 10.0, 20.0), (5.0, 50.0, -120.0, -30.0)],
        "lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = df.select(haversine_col("lon1", "lat1", "lon2", "lat2").alias("d")).toPandas()
    exp = hav_np(np.array([0.0, 5.0]), np.array([0.0, 50.0]),
                 np.array([10.0, -120.0]), np.array([20.0, -30.0]))
    np.testing.assert_allclose(got["d"].to_numpy(), exp, rtol=1e-12)


def test_pip_join_matches_bruteforce(spark):
    pts = synth.geo_points(spark, N_DOCS)
    polys = synth.polygons_df(spark, n_polys=16, res=8)
    fast = pip_join(pts, polys, res=8).select("doc_id", "offset", "poly_id")
    slow = pip_join_bruteforce(pts, polys).select("doc_id", "offset", "poly_id")
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    assert fast.count() > 0  # non-degenerate


def _write_polygon_layer(path, seed: int, res: int = 8) -> None:
    """A 16-polygon layer as one parquet file ``part-00000.parquet``
    (same schema for every seed, so every layer's plan text is the same)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    layer = synth.polygon_layer_np(16, seed)
    path.mkdir(exist_ok=True)
    pq.write_table(pa.table({
        "poly_id": pa.array([p["poly_id"] for p in layer], pa.int64()),
        "xs": pa.array([p["xs"].tolist() for p in layer], pa.list_(pa.float64())),
        "ys": pa.array([p["ys"].tolist() for p in layer], pa.list_(pa.float64())),
        "cells": pa.array([synth.polygon_cover_cells(p, res).tolist() for p in layer],
                          pa.list_(pa.int64())),
    }), path / "part-00000.parquet")


def test_pip_prepared_layer_follows_files(spark, tmp_path):
    """The prepared-layer memo must tell apart two parquet layers with the
    same schema, and must not serve a layer whose file was rewritten in
    place: pip_join and pip_anti_join stay exact against brute force."""
    from projcl_spark.operators.pip import pip_anti_join

    pts = synth.geo_points(spark, 20000)
    cols = ("doc_id", "offset", "poly_id")

    def check(layer_dir):
        polys = spark.read.parquet(f"file://{layer_dir}")
        fast = pip_join(pts, polys, res=8).select(*cols)
        slow = pip_join_bruteforce(pts, polys).select(*cols)
        assert fast.exceptAll(slow).count() == 0
        assert slow.exceptAll(fast).count() == 0
        assert slow.count() > 0
        return polys, slow

    a, b = tmp_path / "a", tmp_path / "b"
    _write_polygon_layer(a, seed=1)
    _write_polygon_layer(b, seed=2)
    check(a)
    check(b)

    _write_polygon_layer(a, seed=3)  # rewrite layer A in place
    polys, slow = check(a)
    key = ["doc_id", "offset"]
    anti = pip_anti_join(pts, polys, res=8).select(*key)
    want = pts.select(*key).exceptAll(slow.select(*key).distinct())
    assert anti.exceptAll(want).count() == 0
    assert want.exceptAll(anti).count() == 0


def test_knn_matches_bruteforce(spark):
    pts = synth.geo_points(spark, N_DOCS).withColumn(
        "pid", F.concat_ws("#", "doc_id", "offset")
    ).select("pid", "lon", "lat")
    qs = spark.createDataFrame(
        [(0, 10.0, 48.0), (1, -30.0, 20.0), (2, 0.0, 0.0)],
        "query_id long, q_lon double, q_lat double",
    )
    # generous ring so pruning is lossless at this density
    fast = knn_join(qs, pts, k=5, res=3, ring=2, point_id="pid").select(
        "query_id", "pid", "rank"
    )
    slow = knn_bruteforce(qs, pts, k=5, point_id="pid").select("query_id", "pid", "rank")
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_dwithin_matches_bruteforce(spark):
    """dwithin_join == cross-join filter, with BOTH branches live: mid-lat
    queries certify (disk inside the cell window), the pole-adjacent query
    has a 0 safe radius and takes the brute-force rescue."""
    from projcl_spark.operators.knn import dwithin_join
    from projcl_spark.functions import haversine_col

    pts = synth.geo_points(spark, N_DOCS).withColumn(
        "pid", F.concat_ws("#", "doc_id", "offset")
    ).select("pid", "lon", "lat")
    qs = spark.createDataFrame(
        [(0, 10.0, 48.0), (1, -30.0, 20.0), (2, 0.0, 0.0), (3, 12.0, 86.0)],
        "query_id long, q_lon double, q_lat double",
    )
    r = 500_000.0
    fast = dwithin_join(qs, pts, r, res=4, ring=1, point_id="pid").select(
        "query_id", "pid"
    )
    slow = (
        qs.crossJoin(pts)
        .withColumn("d", haversine_col(F.col("q_lon"), F.col("q_lat"),
                                       F.col("lon"), F.col("lat")))
        .filter(F.col("d") <= r)
        .select("query_id", "pid")
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    assert fast.filter(F.col("query_id") < 3).count() > 0  # non-degenerate


def test_asof_join_matches_bruteforce(spark):
    """asof_join (union + running-last window) == the O(L·R)-per-key
    brute-force range formulation, both directions, incl. equal-ts
    matching, max-id tie-breaks, unmatched-left nulls, and tolerance."""
    from projcl_spark.operators.asof import asof_join

    l = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 300), (4, 20, 50), (5, 30, 7)],
        "lid long, k long, t long",
    ).select("lid", "k", F.timestamp_micros(F.col("t")).alias("ts"))
    r = spark.createDataFrame(
        # k=10: rows at 100 (tie pair 11/12), 205, 290; k=20: only at 60
        [(11, 10, 100, 1.0), (12, 10, 100, 2.0), (13, 10, 205, 3.0),
         (14, 10, 290, 4.0), (15, 20, 60, 5.0)],
        "rid long, k long, t long, v double",
    ).select("rid", "k", F.timestamp_micros(F.col("t")).alias("ts"), "v")

    got = {
        row["lid"]: (row["r_rid"], row["r_v"])
        for row in asof_join(l, r, on="k", right_id="rid").collect()
    }
    # lid 1: ties at ts=100 → max rid 12; lid 2: equal-ts 205 matches 13;
    # lid 3: latest ≤300 is 290 → 14; lid 4: 60 > 50 → null; lid 5: no k
    assert got == {1: (12, 2.0), 2: (13, 3.0), 3: (14, 4.0),
                   4: (None, None), 5: (None, None)}

    fwd = {
        row["lid"]: row["r_rid"]
        for row in asof_join(l, r, on="k", right_id="rid",
                             direction="forward").collect()
    }
    # forward: earliest ≥ left ts; lid 1 ties at 100 → still max rid 12
    assert fwd == {1: 12, 2: 13, 3: None, 4: 15, 5: None}

    tol = {
        row["lid"]: row["r_rid"]
        for row in asof_join(l, r, on="k", right_id="rid",
                             tolerance_us=50).collect()
    }
    # lid 3's match (290) is 10 µs back → kept; lid 2's (205) is 0 → kept;
    # lid 1 exact-ts → kept; tolerance never *adds* matches
    assert tol == {1: 12, 2: 13, 3: 14, 4: None, 5: None}

    # TIMESTAMP_NTZ inputs (what parquet scans produce) must survive the
    # tolerance path: unix_micros rejects raw ntz (regression: the gate
    # drive caught an AnalysisException here)
    l_ntz = l.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    r_ntz = r.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    tol_ntz = {
        row["lid"]: row["r_rid"]
        for row in asof_join(l_ntz, r_ntz, on="k", right_id="rid",
                             tolerance_us=50).collect()
    }
    assert tol_ntz == tol


def test_polygon_metrics_known_square(spark):
    """Shoelace sanity on an analytically-known figure: a 0.01°×0.01°
    square at the equator under spherical Mercator is (R·Δλ)² planar to
    ~1e-8 relative; centroid lands at the center, perimeter at 4 sides.
    Vertex order is the stored ring order, so the check also covers the
    cyclic lead/first closure edge."""
    import math

    from projcl_spark.functions import EARTH_RADIUS_SPHERE as R
    from projcl_spark.operators.geometry import polygon_metrics

    d = 0.01
    ring = [(0.0, 0.0), (d, 0.0), (d, d), (0.0, d)]
    verts = spark.createDataFrame(
        [(1, i, x, y) for i, (x, y) in enumerate(ring)],
        "poly_id long, v_idx long, lon double, lat double",
    )
    from projcl_spark.core.params import ProjectionParams
    from projcl_spark.core.spheroid import Spheroid

    row = polygon_metrics(
        verts, "mercator", ProjectionParams(spheroid=Spheroid.SPHERE)
    ).collect()[0]
    side = R * math.radians(d)
    assert row["n_verts"] == 4
    assert abs(row["area_m2"] - side * side) / (side * side) < 1e-4
    assert abs(row["perim_m"] - 4 * side) / (4 * side) < 1e-4
    assert abs(row["cx"] - side / 2) < 1.0 and abs(row["cy"] - side / 2) < 1.0


def test_datum_udf_roundtrip(spark):
    from projcl_spark.functions import datum_shift_udf

    pts = synth.geo_points(spark, 100).filter(
        (F.col("lon") > -60) & (F.col("lon") < 0) & (F.col("lat") > 25) & (F.col("lat") < 50)
    )
    fwd = datum_shift_udf(dt.Datum.WGS_84, dt.Datum.NAD_27)
    inv = datum_shift_udf(dt.Datum.NAD_27, dt.Datum.WGS_84)
    df = (
        pts.withColumn("s", fwd("lon", "lat"))
        .withColumn("b", inv(F.col("s.lon"), F.col("s.lat")))
        .select(
            F.max(F.abs(F.col("b.lon") - F.col("lon"))).alias("e1"),
            F.max(F.abs(F.col("b.lat") - F.col("lat"))).alias("e2"),
        )
        .first()
    )
    if df["e1"] is not None:
        assert df["e1"] < 1e-7 and df["e2"] < 1e-7


def test_synth_deterministic_across_parallelism(spark):
    """Tile assignment / generation identical at different partitioning
    (north rule: exact row matches across cluster sizes)."""
    a = synth.documents(spark, 200).repartition(2)
    b = synth.documents(spark, 200).repartition(16)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_project_fwd_cols_matches_udf_all_projections(spark):
    """JVM-codegen forward columns == pandas-UDF forward (≤1e-6 m) for every
    projection case in the entry matrix."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E
    from projcl_spark.functions import project_fwd_cols

    pts = synth.geo_points(spark, 200).filter(F.abs(F.col("lon")) < 25)
    for name, (proj, params) in E.PROJ_CASES.items():
        xc, yc = project_fwd_cols(proj, params)
        udf = project_udf(proj, params)
        df = pts.select(xc, yc, udf("lon", "lat").alias("xy")).toPandas()
        dx = max(abs(a - b["x"]) for a, b in zip(df["x"], df["xy"]))
        dy = max(abs(a - b["y"]) for a, b in zip(df["y"], df["xy"]))
        assert dx < 1e-6 and dy < 1e-6, (name, dx, dy)


def test_knn_exact_rescues_lossy_ring(spark):
    """At a deliberately lossy (res, ring) for sparse data, plain pruned kNN
    drops true neighbors but knn_join_exact still equals brute force."""
    from projcl_spark.operators.knn import knn_join_exact

    pts = synth.geo_points(spark, 60).withColumn(
        "pid", F.concat_ws("#", "doc_id", "offset")
    ).select("pid", "lon", "lat")
    qs = spark.createDataFrame(
        [(0, 10.0, 48.0), (1, -30.0, 20.0), (2, 0.0, 0.0), (3, 45.0, -30.0)],
        "query_id long, q_lon double, q_lat double",
    )
    exact = knn_join_exact(qs, pts, k=5, res=6, ring=1, point_id="pid").select(
        "query_id", "pid", "rank"
    )
    slow = knn_bruteforce(qs, pts, k=5, point_id="pid").select("query_id", "pid", "rank")
    assert exact.exceptAll(slow).count() == 0
    assert slow.exceptAll(exact).count() == 0
    # sanity: the plain pruned join at this (res, ring) IS lossy here,
    # so the escalation path genuinely ran
    plain = knn_join(qs, pts, k=5, res=6, ring=1, point_id="pid").select(
        "query_id", "pid", "rank"
    )
    assert plain.exceptAll(slow).count() > 0 or slow.exceptAll(plain).count() > 0


def test_knn_exact_vincenty_rescues_lossy_ring(spark):
    """Ellipsoidal certificate (geocentric-angle chord bound): at a lossy
    (res, ring) the pruned join drops true Vincenty neighbors but
    knn_join_exact(metric='vincenty') still equals brute force."""
    from projcl_spark.operators.knn import knn_join_exact

    pts = synth.geo_points(spark, 60).withColumn(
        "pid", F.concat_ws("#", "doc_id", "offset")
    ).select("pid", "lon", "lat")
    qs = spark.createDataFrame(
        [(0, 10.0, 48.0), (1, -30.0, 20.0), (2, 0.0, 0.0), (3, 45.0, -30.0),
         (4, 179.95, 0.05), (5, -5.0, 89.0)],
        "query_id long, q_lon double, q_lat double",
    )
    exact = knn_join_exact(qs, pts, k=5, res=6, ring=1, metric="vincenty",
                           point_id="pid").select("query_id", "pid", "rank")
    slow = knn_bruteforce(qs, pts, k=5, metric="vincenty",
                          point_id="pid").select("query_id", "pid", "rank")
    assert exact.exceptAll(slow).count() == 0
    assert slow.exceptAll(exact).count() == 0


def test_knn_exact_vincenty_certificate_is_conservative(spark):
    """Dense ring where pruning IS sufficient: the ellipsoidal safe radius
    must still certify (i.e. not escalate everything to brute force) AND
    match brute force — checks the bound is usable, not merely sound."""
    from projcl_spark.operators.knn import knn_bruteforce, knn_join_exact

    # 400 points in a tight band around (10, 48): the k-th neighbor is well
    # inside the res-4 ring window
    pts = synth.geo_points(spark, 400).withColumn(
        "pid", F.concat_ws("#", "doc_id", "offset")
    ).select(
        "pid",
        (F.col("lon") / 36.0 + 10.0).alias("lon"),
        (F.col("lat") / 18.0 + 48.0).alias("lat"),
    )
    qs = spark.createDataFrame(
        [(0, 10.0, 48.0), (1, 10.5, 47.8)],
        "query_id long, q_lon double, q_lat double",
    )
    exact = knn_join_exact(qs, pts, k=3, res=4, ring=1, metric="vincenty",
                           point_id="pid").select("query_id", "pid", "rank")
    slow = knn_bruteforce(qs, pts, k=3, metric="vincenty",
                          point_id="pid").select("query_id", "pid", "rank")
    assert exact.exceptAll(slow).count() == 0
    assert slow.exceptAll(exact).count() == 0


def test_datum_shift_cols_matches_udf(spark):
    """JVM-codegen datum chain == fused pandas UDF (≤1e-12°)."""
    from projcl_spark.functions import datum_shift_cols, datum_shift_udf

    pts = synth.geo_points(spark, 150)
    cols = datum_shift_cols(pts, dt.Datum.WGS_84, dt.Datum.NAD_27)
    udf = datum_shift_udf(dt.Datum.WGS_84, dt.Datum.NAD_27)
    both = cols.withColumn("s", udf("lon", "lat")).select(
        F.max(F.abs(F.col("dlon") - F.col("s.lon"))).alias("e1"),
        F.max(F.abs(F.col("dlat") - F.col("s.lat"))).alias("e2"),
    ).first()
    assert both["e1"] < 1e-12 and both["e2"] < 1e-12


def test_pip_join_shuffle_path_matches_broadcast(spark):
    """The large-polygon-layer path (no broadcast) returns identical rows."""
    pts = synth.geo_points(spark, 200)
    polys = synth.polygons_df(spark, n_polys=16, res=8)
    a = pip_join(pts, polys, res=8).select("doc_id", "offset", "poly_id")
    b = pip_join(pts, polys, res=8, broadcast_polygons=False).select(
        "doc_id", "offset", "poly_id"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pip_join_antimeridian_polygons(spark):
    """Seam-straddling polygons (continuous-frame vertices around 180°):
    the wrapped cell cover + lon-normalized winding must (a) match brute
    force on both join paths and (b) actually catch points on BOTH sides
    of ±180°."""
    from projcl_spark.sources.synth import seam_polygons_df

    pts = synth.geo_points(spark, 400).select(
        "doc_id", "offset",
        # squeeze the synthetic lons into a band hugging the seam so a
        # meaningful fraction of the 400 points lands inside the polygons
        F.when(F.col("lon") >= 0, 180.0 - F.col("lon") / 60.0)
        .otherwise(-180.0 - F.col("lon") / 60.0).alias("lon"),
        "lat",
    )
    polys = seam_polygons_df(spark, 4, res=8)
    fast = pip_join(pts, polys, res=8).select("doc_id", "offset", "poly_id")
    shuf = pip_join(pts, polys, res=8, broadcast_polygons=False).select(
        "doc_id", "offset", "poly_id")
    slow = pip_join_bruteforce(pts, polys).select("doc_id", "offset", "poly_id")
    assert fast.exceptAll(slow).count() == 0 and slow.exceptAll(fast).count() == 0
    assert shuf.exceptAll(slow).count() == 0 and slow.exceptAll(shuf).count() == 0
    hits = fast.join(pts, ["doc_id", "offset"]).select("lon").toPandas()
    assert len(hits) > 0, "no seam hits — fixture band missed the polygons"
    assert (hits["lon"] > 0).any() and (hits["lon"] < 0).any(), \
        "hits landed on only one side of the seam"


def test_knn_exact_at_pole_and_antimeridian(spark):
    """Map-edge soundness AND antimeridian efficiency: the closest neighbor
    can lie ACROSS the pole or the ±180° wrap.  Since round 4 the cell
    ring WRAPS in longitude, so the ±180° query finds its cross-seam
    neighbor inside the pruned join and the wrap-aware bound CERTIFIES it
    (empty escalation set — no full-corpus scan for Pacific data).  Pole
    windows remain uncertifiable (escalate to brute force)."""
    from projcl_spark.operators.knn import (
        _pruned_and_uncertified, knn_bruteforce, knn_join_exact,
    )

    pts = spark.createDataFrame(
        [  # across-the-pole pair: ~22 km apart, many cells apart
            (1, 10.0, 89.9), (2, -170.0, 89.9),
            # antimeridian pair: ~11 km apart at the equator wrap
            (3, 179.95, 0.0), (4, -179.95, 0.0),
            # decoys on the near side, farther than the wrapped neighbors
            (5, 15.0, 85.0), (6, 175.0, 3.0),
        ],
        "pid long, lon double, lat double",
    )
    qs = spark.createDataFrame(
        [(100, 10.0, 89.9), (200, 179.95, 0.0)],
        "query_id long, q_lon double, q_lat double",
    )
    got = knn_join_exact(qs, pts, k=2, res=4, ring=1, point_id="pid").select(
        "query_id", "pid", "rank").toPandas()
    want = knn_bruteforce(qs, pts, k=2, point_id="pid").select(
        "query_id", "pid", "rank").toPandas()
    key = ["query_id", "rank"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert g.equals(w), f"\n{g}\nvs\n{w}"
    # the wrapped neighbors must actually win over the same-side decoys
    assert set(g[g.query_id == 100]["pid"]) == {1, 2}
    assert set(g[g.query_id == 200]["pid"]) == {3, 4}
    # escalation set: ONLY the pole query; the antimeridian one certifies
    pruned, bad = _pruned_and_uncertified(
        qs, pts, 2, 4, 1, "haversine", "query_id", "pid", None
    )
    escalated = {r.query_id for r in bad.collect()}
    pruned.unpersist(blocking=False)
    assert escalated == {100}, escalated


def test_knn_antimeridian_certifies_vincenty(spark):
    """The wrap-aware window bound must hold for the ellipsoidal
    (geocentric-latitude chord) certificate too: a ±180° query with both
    true neighbors across the seam certifies without escalation and
    matches Vincenty brute force."""
    from projcl_spark.operators.knn import (
        _pruned_and_uncertified, knn_bruteforce, knn_join_exact,
    )

    pts = spark.createDataFrame(
        [(3, 179.95, 0.0), (4, -179.95, 0.0), (6, 175.0, 3.0),
         (7, -178.0, -2.0), (8, 170.0, 1.0)],
        "pid long, lon double, lat double",
    )
    qs = spark.createDataFrame(
        [(200, 179.95, 0.0)], "query_id long, q_lon double, q_lat double",
    )
    exact = knn_join_exact(qs, pts, k=2, res=4, ring=1, metric="vincenty",
                           point_id="pid").select("query_id", "pid", "rank")
    slow = knn_bruteforce(qs, pts, k=2, metric="vincenty",
                          point_id="pid").select("query_id", "pid", "rank")
    assert exact.exceptAll(slow).count() == 0
    assert slow.exceptAll(exact).count() == 0
    pruned, bad = _pruned_and_uncertified(
        qs, pts, 2, 4, 1, "vincenty", "query_id", "pid", None
    )
    assert bad.count() == 0
    pruned.unpersist(blocking=False)


def test_segment_intersect_join_matches_bruteforce(spark):
    """Cell-bucketed candidate join + canonical-cell dedup must reproduce
    the all-pairs orientation-test result exactly — same pair SET, no
    duplicates — at several grid resolutions (coarse cells = many shared
    cells per pair exercises the dedup; fine cells = multi-cell covers
    exercise the bbox explode)."""
    import itertools

    import numpy as np

    from projcl_spark.operators.geometry import segment_intersect_join

    rng = np.random.default_rng(7)
    rows = []
    for trk in range(25):
        bx, by = rng.uniform(-50, 50), rng.uniform(-30, 30)
        px, py = bx + rng.uniform(-1, 1), by + rng.uniform(-1, 1)
        for s in range(10):
            qx, qy = bx + rng.uniform(-1, 1), by + rng.uniform(-1, 1)
            rows.append((trk, s, float(px), float(py), float(qx), float(qy)))
            px, py = qx, qy

    def cr(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    expect = set()
    for r1, r2 in itertools.combinations(rows, 2):
        if r1[0] == r2[0]:
            continue
        if r1[0] > r2[0]:
            r1, r2 = r2, r1
        ax, ay, bx, by = r1[2:]
        cx, cy, dx, dy = r2[2:]
        d1 = cr(cx, cy, dx, dy, ax, ay)
        d2 = cr(cx, cy, dx, dy, bx, by)
        d3 = cr(ax, ay, bx, by, cx, cy)
        d4 = cr(ax, ay, bx, by, dx, dy)
        if d1 * d2 < 0 and d3 * d4 < 0:
            expect.add((r1[0], r1[1], r2[0], r2[1]))
    assert expect  # fixture must actually produce crossings

    segs = spark.createDataFrame(
        rows, "track_id long, seg_id long, ax double, ay double, "
              "bx double, by double")
    for res in (5, 7, 9):
        pdf = segment_intersect_join(segs, res=res).toPandas()
        pairs = set(map(tuple, pdf[["track_a", "seg_a", "track_b", "seg_b"]]
                        .itertuples(index=False)))
        assert len(pdf) == len(pairs), f"res {res}: duplicate pair rows"
        assert pairs == expect, f"res {res}: pair set mismatch"


def test_dem_hillshade_analytic_planes(spark):
    """Horn on an inclined plane must return the exact plane gradient at
    every interior cell (the [1,2,1]/central-difference stencil is exact
    for affine surfaces), and a flat DEM must shade at 255·cos(zenith)
    with slope 0 everywhere."""
    import math

    from pyspark.sql import functions as F

    from projcl_spark.operators.raster import dem_hillshade

    w = h = 12
    base = spark.range(w * h).select(
        (F.col("id") % w).alias("gi"),
        (F.col("id") / w).cast("long").alias("gj"))

    # plane z = 0.5·x − 0.25·y  (x = gi·dx, y = gj·dy, dx = dy = 10 m)
    plane = base.select("gi", "gj",
                        (0.5 * F.col("gi") * 10.0
                         - 0.25 * F.col("gj") * 10.0).alias("elev"))
    rows = dem_hillshade(plane, 10.0, 10.0).collect()
    assert len(rows) == (w - 2) * (h - 2)  # interior only
    exp_slope = math.atan(math.hypot(0.5, -0.25))
    exp_aspect = math.atan2(-0.25, -0.5)
    for r in rows[:5]:
        assert abs(r["slope_rad"] - exp_slope) < 1e-12
        assert abs(r["aspect_rad"] - exp_aspect) < 1e-12

    flat = base.select("gi", "gj", F.lit(100.0).alias("elev"))
    fr = dem_hillshade(flat, 10.0, 10.0, altitude_deg=45.0).collect()
    for r in fr[:5]:
        assert r["slope_rad"] == 0.0
        assert abs(r["hillshade"] - 255.0 * math.cos(math.radians(45.0))) < 1e-9


def test_densify_spherical_analytic(spark):
    """Slerp along the equator must land exactly at lon = f·span, lat = 0,
    and a meridian path at lat = f·span; generic pairs must satisfy the
    on-great-circle additivity d(p1,m) + d(m,p2) = d(p1,p2)."""
    from projcl_spark.functions import haversine_col
    from projcl_spark.geo.geodesic import densify_spherical

    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 90.0, 0.0),    # equator arc
         (2, 10.0, 0.0, 10.0, 60.0),  # meridian arc
         (3, -30.0, -20.0, 40.0, 35.0)],
        "pair_id long, lon1 double, lat1 double, lon2 double, lat2 double")
    out = densify_spherical(df, 5)
    rows = {(r["pair_id"], r["seg_k"]): r for r in out.collect()}
    assert len(rows) == 15
    for k in range(1, 6):
        f = k / 6.0
        eq = rows[(1, k)]
        assert abs(eq["ilon"] - 90.0 * f) < 1e-9 and abs(eq["ilat"]) < 1e-9
        me = rows[(2, k)]
        assert abs(me["ilon"] - 10.0) < 1e-9
        assert abs(me["ilat"] - 60.0 * f) < 1e-9

    from pyspark.sql import functions as F
    chk = out.select(
        (haversine_col("lon1", "lat1", "ilon", "ilat")
         + haversine_col("ilon", "ilat", "lon2", "lat2")
         - haversine_col("lon1", "lat1", "lon2", "lat2")).alias("gap"))
    assert chk.agg(F.max(F.abs("gap"))).first()[0] < 1e-6  # meters


def test_pip_anti_join_complements_pip_join(spark):
    """pip_anti_join must return exactly the points the brute-force PIP
    join matches to NO polygon — the anti set and the matched-point set
    partition the corpus."""
    from pyspark.sql import functions as F

    from projcl_spark.operators.pip import pip_anti_join, pip_join

    from projcl_spark.sources.synth import polygons_df

    import __spark_entry__ as E

    pts = E._points_df(spark, "/root/testdata/sf0.001", "lineitem",
                       ("l_orderkey", "l_linenumber")).where(
        F.col("l_orderkey") % 4 == 0)
    polys = polygons_df(spark, 16, res=E.PIP_RES)
    key = ["l_orderkey", "l_linenumber"]
    all_keys = {tuple(r) for r in pts.select(*key).collect()}
    inside = {tuple(r) for r in
              pip_join(pts, polys, res=E.PIP_RES)
              .select(*key).distinct().collect()}
    anti = {tuple(r) for r in
            pip_anti_join(pts, polys, res=E.PIP_RES).select(*key).collect()}
    assert anti and inside
    assert anti | inside == all_keys
    assert not (anti & inside)


def test_kde_smooth_impulse_and_mass(spark):
    """A unit impulse must spread to exactly the (2r+1)² separable
    product weights, and total mass must be conserved when nothing falls
    off the latitude border (the kernel is normalized; lon wraps)."""
    import numpy as np

    from projcl_spark.operators.raster import gaussian_weights, kde_smooth

    res, r, sig = 5, 2, 1.0
    n = 1 << res
    w = gaussian_weights(r, sig)
    assert abs(sum(w) - 1.0) < 1e-15

    # impulse at interior cell (10, 12), weight 8
    cells = spark.createDataFrame([(10 * n + 12, 8)], "cell_id long, cnt long")
    out = {r0["cell_id"]: r0["density"]
           for r0 in kde_smooth(cells, res, r, sig).collect()}
    assert len(out) == (2 * r + 1) ** 2
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            got = out[(10 + dx) * n + (12 + dy)]
            assert abs(got - 8 * w[dx + r] * w[dy + r]) < 1e-12
    assert abs(sum(out.values()) - 8.0) < 1e-12

    # lon wrap: an impulse at ix = 0 spreads across the antimeridian
    rng = np.random.default_rng(5)
    pts = [((int(ix) % n) * n + int(iy), int(c)) for ix, iy, c in
           zip(rng.integers(0, n, 40), rng.integers(r, n - r, 40),
               rng.integers(1, 9, 40))]
    df = spark.createDataFrame(pts, "cell_id long, cnt long")
    dens = kde_smooth(df, res, r, sig).agg(F.sum("density")).first()[0]
    assert abs(dens - sum(c for _, c in pts)) < 1e-9


def test_zonal_stats_two_squares(spark):
    """Hand-built zones: two disjoint squares; stats must be the exact
    per-zone count/sum/min/max/mean, a point in neither zone must not
    appear, and a point inside BOTH zones of an overlapping layer
    contributes to both (standard zonal semantics)."""
    from projcl_spark.operators.pip import zonal_stats
    from projcl_spark.sources.synth import polygon_cover_cells

    res = 6

    def layer(polys):
        rows = [(pid, xs, ys,
                 [int(c) for c in polygon_cover_cells(
                     {"xs": xs, "ys": ys}, res)])
                for pid, xs, ys in polys]
        return spark.createDataFrame(
            rows, "poly_id long, xs array<double>, ys array<double>, "
                  "cells array<long>")

    sq = lambda x0, y0, w: ([x0, x0 + w, x0 + w, x0], [y0, y0, y0 + w, y0 + w])
    zones = layer([(0, *sq(0.0, 0.0, 10.0)), (1, *sq(20.0, 0.0, 10.0))])
    pts = spark.createDataFrame(
        [(1, 2.0, 2.0, 5.0), (2, 8.0, 9.0, 7.0), (3, 25.0, 5.0, 11.0),
         (4, 50.0, 50.0, 99.0)],
        "pt_id long, lon double, lat double, val double")
    got = {r["poly_id"]: r for r in
           zonal_stats(pts, zones, value_col="val", res=res).collect()}
    assert set(got) == {0, 1}
    z0, z1 = got[0], got[1]
    assert (z0["n_pts"], z0["val_sum"], z0["val_min"], z0["val_max"]) == (2, 12.0, 5.0, 7.0)
    assert abs(z0["val_avg"] - 6.0) < 1e-12
    assert (z1["n_pts"], z1["val_sum"]) == (1, 11.0)

    # overlapping zones: the shared point lands in both aggregates
    over = layer([(0, *sq(0.0, 0.0, 10.0)), (1, *sq(5.0, 5.0, 10.0))])
    got2 = {r["poly_id"]: r["n_pts"] for r in
            zonal_stats(pts, over, value_col="val", res=res).collect()}
    assert got2 == {0: 2, 1: 1}  # (8,9) is inside both squares


def test_kde_smooth_matches_dense_convolution(spark):
    """Random sparse counts vs a dense numpy separable convolution with
    the same wrap/truncate boundary rules — pins every tap, not just the
    impulse response."""
    import numpy as np

    from projcl_spark.operators.raster import gaussian_weights, kde_smooth

    res, r, sig = 4, 2, 0.8
    n = 1 << res
    w = np.array(gaussian_weights(r, sig))
    rng = np.random.default_rng(11)
    dense = np.zeros((n, n))
    pts = []
    for _ in range(30):
        ix, iy, c = rng.integers(0, n), rng.integers(0, n), int(rng.integers(1, 20))
        dense[ix, iy] += c
        pts.append((int(ix) * n + int(iy), c))
    # lon (axis 0) wraps, lat (axis 1) truncates
    wrapped = sum(np.roll(dense, d, axis=0) * w[d + r] for d in range(-r, r + 1))
    trunc = np.zeros_like(wrapped)
    for d in range(-r, r + 1):
        src = wrapped[:, max(0, -d):n - d if d > 0 else n]
        trunc[:, max(0, d):n + d if d < 0 else n] += src * w[d + r]
    df = (spark.createDataFrame(pts, "cell_id long, cnt long")
          .groupBy("cell_id").agg(F.sum("cnt").alias("cnt")))
    got = np.zeros((n, n))
    for row in kde_smooth(df, res, r, sig).collect():
        got[row["cell_id"] // n, row["cell_id"] % n] = row["density"]
    assert np.abs(got - trunc).max() < 1e-9


def test_contour_cases_hand_grid(spark):
    """3×3 hand grid → 4 blocks with hand-computed case indices, incl. a
    saddle (case 5 → 2 segments); a uniform grid must classify every
    block as 0 with no segments."""
    from projcl_spark.operators.raster import contour_cases

    # elevations:  gj=2 | 0 9 0      (saddle block at (1,1): SW=9 NE=9)
    #              gj=1 | 9 0 9
    #              gj=0 | 0 9 0
    rows = [(gi, gj, 9.0 if (gi + gj) % 2 == 1 else 0.0)
            for gi in range(3) for gj in range(3)]
    dem = spark.createDataFrame(rows, "gi long, gj long, elev double")
    got = {(r["gi"], r["gj"]): (r["ms_case"], r["n_segs"])
           for r in contour_cases(dem, 5.0).collect()}
    # block (0,0): SW=0 SE=9 NE=0 NW=9 → 2+8=10 (saddle, 2 segs)
    # block (1,0): SW=9 SE=0 NE=9 NW=0 → 1+4=5  (saddle, 2 segs)
    assert got == {(0, 0): (10, 2), (1, 0): (5, 2),
                   (0, 1): (5, 2), (1, 1): (10, 2)}

    flat = spark.createDataFrame(
        [(gi, gj, 1.0) for gi in range(3) for gj in range(3)],
        "gi long, gj long, elev double")
    fg = contour_cases(flat, 5.0).collect()
    assert len(fg) == 4
    assert all(r["ms_case"] == 0 and r["n_segs"] == 0 for r in fg)


def test_idw_grid_analytic(spark):
    """One sample → every ring cell interpolates exactly to that sample's
    value (Σw·v/Σw = v); two equidistant samples about a cell center →
    their mean; contribution counts match the truncated footprint."""
    from projcl_spark.index.cells import cell_id_np
    from projcl_spark.operators.interp import idw_grid

    res, ring = 5, 2
    n = 1 << res

    one = spark.createDataFrame([(10.0, 20.0, 7.0)],
                                "lon double, lat double, val double")
    out = {r["cell_id"]: r for r in idw_grid(one, res, ring=ring).collect()}
    assert len(out) == (2 * ring + 1) ** 2
    home = int(cell_id_np(10.0, 20.0, res))
    assert home in out
    for r in out.values():
        assert r["n_contrib"] == 1
        assert abs(r["idw"] - 7.0) < 1e-12

    # cell centers are at ((i+0.5)/n·360−180, (j+0.5)/n·180−90); put two
    # samples symmetric about one center — equal weights, idw = mean
    cx = (int((10.0 + 180.0) / 360.0 * n) + 0.5) / n * 360.0 - 180.0
    cy = (int((20.0 + 90.0) / 180.0 * n) + 0.5) / n * 180.0 - 90.0
    two = spark.createDataFrame(
        [(cx - 0.5, cy, 4.0), (cx + 0.5, cy, 10.0)],
        "lon double, lat double, val double")
    got = {r["cell_id"]: r for r in idw_grid(two, res, ring=ring).collect()}
    center = int(cell_id_np(cx, cy, res))
    assert got[center]["n_contrib"] == 2
    assert abs(got[center]["idw"] - 7.0) < 1e-9

    # power must be even (pow() is not cross-engine exact)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        idw_grid(one, res, power=3)


def test_distance_to_boundary_analytic(spark):
    """Against a unit square on the equator (cos(lat)≈1 exact at lat=0):
    a point beside an edge measures the perpendicular gap, a point off a
    corner measures the corner distance (the t-clamp), and a point ON
    the boundary measures 0."""
    import math

    from projcl_spark.functions import EARTH_RADIUS_SPHERE
    from projcl_spark.operators.geometry import distance_to_boundary

    deg2m = math.pi * EARTH_RADIUS_SPHERE / 180.0
    sq = spark.createDataFrame(
        [(0, [0.0, 10.0, 10.0, 0.0], [0.0, 0.0, 10.0, 10.0], [0])],
        "poly_id long, xs array<double>, ys array<double>, cells array<long>")
    pts = spark.createDataFrame(
        [(1, 12.0, 0.0),    # 2° east of the (10,0)-(10,10) edge, on equator
         (2, 13.0, -4.0),   # off the (10,0) corner (local frame at lat=-4)
         (3, 10.0, 5.0),    # on the east edge
         (4, 5.0, 0.0)],    # on the south edge
        "pt_id long, lon double, lat double")
    got = {r["pt_id"]: r["boundary_dist_m"]
           for r in distance_to_boundary(pts, sq).collect()}
    assert abs(got[1] - 2.0 * deg2m) < 1e-6
    k = math.cos(math.radians(4.0))
    assert abs(got[2] - math.hypot(3.0 * k, 4.0) * deg2m) < 1e-6
    assert got[3] < 1e-9 and got[4] < 1e-9


def test_cross_track_analytic(spark):
    """Equator route (0,0)->(90,0): a point at lat=30 on the meridian of
    lon=20 has dxt = 30° of arc (north = positive sign convention of
    th13-th12 here is negative — pin it), dat = 20° of arc measured on
    the equator; a point ON the route has dxt 0, dat = its longitude."""
    import math

    from pyspark.sql import functions as F

    from projcl_spark.oracle import cross_track

    R = 6370997.0
    deg = math.pi * R / 180.0
    dxt_e, dat_e = cross_track("lon", "lat", 0.0, 0.0, 90.0, 0.0, R)
    df = spark.createDataFrame([(20.0, 30.0), (40.0, 0.0)],
                               "lon double, lat double")
    got = df.select("lon", "lat", F.expr(dxt_e).alias("dxt"),
                    F.expr(dat_e).alias("dat")).collect()
    by_lon = {r["lon"]: r for r in got}
    # spherical: for an equatorial route, |dxt| is exactly the latitude arc
    assert abs(abs(by_lon[20.0]["dxt"]) - 30.0 * deg) < 1e-6
    assert abs(by_lon[20.0]["dat"] - 20.0 * deg) < 1e-6
    assert abs(by_lon[40.0]["dxt"]) < 1e-6
    assert abs(by_lon[40.0]["dat"] - 40.0 * deg) < 1e-6


def test_sessionize_analytic(spark):
    """Hand-built event stream: gaps of 1h/7h/1h at a 6h threshold split
    user 1 into sessions {a,b},{c,d}; a lone event is its own session;
    timestamp ties stay in one session."""
    from projcl_spark.operators.temporal import sessionize

    H = 3600 * 1_000_000
    rows = [
        (1, 10, 0), (1, 11, 1 * H), (1, 12, 8 * H), (1, 13, 9 * H),
        (2, 20, 0),
        (3, 30, 5 * H), (3, 31, 5 * H),  # tie
    ]
    df = spark.createDataFrame(
        [(u, e, us) for u, e, us in rows],
        "user_id long, event_id long, us long",
    ).select("user_id", "event_id",
             F.timestamp_micros(F.col("us")).alias("ts"))
    out = {(r["user_id"], r["session_idx"]): r
           for r in sessionize(df, gap_us=6 * H).collect()}
    assert len(out) == 4
    assert out[(1, 1)]["n_events"] == 2 and out[(1, 1)]["dur_us"] == 1 * H
    assert out[(1, 2)]["n_events"] == 2 and out[(1, 2)]["start_us"] == 8 * H
    assert out[(2, 1)]["n_events"] == 1 and out[(2, 1)]["dur_us"] == 0
    assert out[(3, 1)]["n_events"] == 2 and out[(3, 1)]["dur_us"] == 0


def test_gapfill_locf_analytic(spark):
    """User with observations on days 10 and 13 (value sums 2.0, 5.0):
    the spine is 10..13, days 11-12 are gaps carrying 2e6 forward."""
    from projcl_spark.operators.temporal import time_bucket_gapfill

    D = 86400 * 1_000_000
    df = spark.createDataFrame(
        [(1, 10 * D, 2.0), (1, 13 * D + 5, 5.0)],
        "user_id long, us long, value double",
    ).select("user_id", F.timestamp_micros(F.col("us")).alias("ts"), "value")
    out = {r["bucket"]: r
           for r in time_bucket_gapfill(df, bucket_us=D).collect()}
    assert sorted(out) == [10, 11, 12, 13]
    assert out[10]["filled_e6"] == 2_000_000 and out[10]["is_gap"] == 0
    assert out[11]["filled_e6"] == 2_000_000 and out[11]["is_gap"] == 1
    assert out[11]["sum_e6"] is None and out[11]["n"] == 0
    assert out[13]["filled_e6"] == 5_000_000 and out[13]["is_gap"] == 0


def test_rollup_coarsen_invariant(spark):
    """The daily level re-aggregated from the hourly rollup must equal a
    direct daily rollup of the raw table — the continuous-aggregate
    correctness invariant."""
    from projcl_spark.operators.temporal import rollup_coarsen, time_rollup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    H = 3600 * 1_000_000
    via_hourly = rollup_coarsen(time_rollup(ev, bucket_us=H), factor=24)
    direct = time_rollup(ev, bucket_us=24 * H)
    a = {tuple(r[:2]): tuple(r[2:]) for r in via_hourly.collect()}
    b = {tuple(r[:2]): tuple(r[2:]) for r in direct.collect()}
    assert a == b and len(a) > 0


def test_interval_join_bruteforce(spark):
    """Canonical-bin dedup vs a brute-force overlap cross join on random
    intervals, plus pinned edges: touching endpoints join (closed
    intervals); an overlap spanning many bins is emitted exactly once."""
    import random

    from projcl_spark.operators.temporal import interval_join

    rng = random.Random(11)
    B = 1000
    ls = [(i, rng.randrange(0, 20 * B), rng.randrange(0, 5 * B)) for i in range(40)]
    rs = [(j, rng.randrange(0, 20 * B), rng.randrange(0, 5 * B)) for j in range(60)]
    left = spark.createDataFrame(
        [(i, a, a + w) for i, a, w in ls], "lid long, l_start long, l_end long")
    right = spark.createDataFrame(
        [(j, a, a + w) for j, a, w in rs], "rid long, r_start long, r_end long")
    got = {(r["lid"], r["rid"])
           for r in interval_join(left, right, bin_us=B).collect()}
    want = {(i, j) for i, a, w in ls for j, b, v in rs
            if a <= b + v and b <= a + w}
    assert got == want and len(want) > 0

    # touching endpoints + a pair sharing 5 bins -> exactly one row
    l2 = spark.createDataFrame([(1, 10, 5010)], "lid long, l_start long, l_end long")
    r2 = spark.createDataFrame(
        [(1, 5010, 6000), (2, 6000, 7000), (3, 0, 4000)],
        "rid long, r_start long, r_end long")
    rows = interval_join(l2, r2, bin_us=B).collect()
    assert {(r["lid"], r["rid"]) for r in rows} == {(1, 1), (1, 3)}
    assert len(rows) == 2


def test_track_bearing_stats_analytic(spark):
    """Pinned azimuths: eastward hop on the equator = 90 deg, northward
    = 0; a user whose two hops bear 170 and -170 has circular mean 180
    (the linear mean would say 0) with R = cos(10 deg)."""
    import math

    from projcl_spark.operators.trajectory import track_bearing_stats

    def ts(i):
        return i * 1_000_000

    rows = [
        # user 1: (0,0) -> east -> north
        (1, 1, ts(1), 0.0, 0.0), (1, 2, ts(2), 1.0, 0.0), (1, 3, ts(3), 1.0, 1.0),
        # user 2: hops bearing ~170 then ~-170 (south-east then south-west)
        (2, 1, ts(1), 0.0, 2.0),
        (2, 2, ts(2), 0.0 + math.tan(math.radians(10.0)), 1.0),
        (2, 3, ts(3), 0.0, 0.0),
    ]
    df = spark.createDataFrame(
        [(u, e, t, lo, la) for u, e, t, lo, la in rows],
        "user_id long, event_id long, us long, lon double, lat double",
    ).select("user_id", "event_id",
             F.timestamp_micros(F.col("us")).alias("ts"), "lon", "lat")
    out = {r["user_id"]: r
           for r in track_bearing_stats(df, order_id="event_id").collect()}
    assert out[1]["n_hops"] == 2
    # mean of 90 and ~0 is ~45; R for two perpendicular hops is sqrt(2)/2
    assert 40.0 < out[1]["mean_bearing_deg"] < 50.0
    assert abs(out[1]["resultant_r"] - 0.5 ** 0.5) < 0.01
    # user 2: symmetric about 180 -> mean +-180, R ~ cos(10 deg) (small-
    # triangle spherical distortion stays well inside the margins)
    assert abs(abs(out[2]["mean_bearing_deg"]) - 180.0) < 1.5
    assert abs(out[2]["resultant_r"] - math.cos(math.radians(10.0))) < 0.01


def test_spherical_area_exact_rectangle(spark):
    """The Chamberlain-Duquette shoelace is EXACT for a lat-lon
    rectangle: area = R^2 * dlam * (sin(lat2) - sin(lat1)).  Pin that to
    float precision for two rectangles (equatorial and high-latitude),
    either ring orientation."""
    import math

    from projcl_spark.operators.geometry import spherical_area

    R = 6370997.0
    rects = {1: (10.0, 30.0, -5.0, 15.0), 2: (-40.0, -10.0, 55.0, 75.0)}
    rows = []
    for pid, (lo1, lo2, la1, la2) in rects.items():
        ring = [(lo1, la1), (lo2, la1), (lo2, la2), (lo1, la2)]
        if pid == 2:
            ring.reverse()
        rows += [(pid, i, x, y) for i, (x, y) in enumerate(ring)]
    verts = spark.createDataFrame(
        rows, "poly_id long, v_idx long, lon double, lat double")
    got = {r["poly_id"]: r["area_m2"] for r in spherical_area(verts).collect()}
    for pid, (lo1, lo2, la1, la2) in rects.items():
        want = (R * R * math.radians(lo2 - lo1)
                * (math.sin(math.radians(la2)) - math.sin(math.radians(la1))))
        assert abs(got[pid] - want) / want < 1e-12, (pid, got[pid], want)


def test_spherical_area_cross_checks_albers(spark):
    """Model-agreement sanity: the spherical area and the Albers
    (equal-area projection) planar area of the 16 PIP polygons agree
    within 5% (different models -- authalic sphere + lon/lat-straight
    edges vs WGS84 Albers planar edges; the high-latitude polygons sit
    near the bound)."""
    import __spark_entry__ as E
    from projcl_spark.operators.geometry import polygon_metrics, spherical_area

    verts = spark.createDataFrame(
        E._polygon_verts_rows(),
        "poly_id long, v_idx long, lon double, lat double")
    sph = {r["poly_id"]: r["area_m2"] for r in spherical_area(verts).collect()}
    proj, params = E.PROJ_CASES["proj_albers_e"]
    pla = {r["poly_id"]: r["area_m2"]
           for r in polygon_metrics(verts, proj, params).collect()}
    assert set(sph) == set(pla) and len(sph) == 16
    for pid in sph:
        assert abs(sph[pid] - pla[pid]) / pla[pid] < 0.05, \
            (pid, sph[pid], pla[pid])


def test_top_terms_analytic(spark):
    """3-doc corpus with hand-computable tf/df: 'x' is doc 1's top term
    (tf 3); ties on tf break toward the RARER term, then lexicographic;
    empty tokens from double spaces are dropped."""
    import math

    from projcl_spark.operators.text import top_terms

    docs = spark.createDataFrame(
        [(1, "x x x a  b"), (2, "a b"), (3, "a q")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["rank"]): r for r in top_terms(docs, k=2).collect()}
    r11 = out[(1, 1)]
    assert (r11["term"], r11["tf"], r11["df"]) == ("x", 3, 1)
    assert abs(r11["tfidf"] - 3 * math.log(3.0)) < 1e-12
    # doc 1 rank 2: a and b tie at tf=1; df(a)=3 > df(b)=2 -> b wins
    assert out[(1, 2)]["term"] == "b"
    # doc 3: q (df 1) outranks a (df 3) at equal tf
    assert out[(3, 1)]["term"] == "q"


def test_track_resample_analytic(spark):
    """Equator track (slerp degenerates to linear lon): pings at t=0h
    (lon 0) and t=24h (lon 24) on a 6h grid yield lon 6/12/18/24 at
    t=6/12/18/24h (grid time equal to a ping time emitted exactly once,
    by the segment ENDING there); a timestamp tie adds nothing."""
    from projcl_spark.operators.trajectory import track_resample

    H = 3600 * 1_000_000
    rows = [(1, 1, 0, 0.0, 0.0), (1, 2, 24 * H, 24.0, 0.0),
            (1, 3, 24 * H, 24.0, 0.0)]  # tie: zero-length segment
    df = spark.createDataFrame(
        [(u, e, t, lo, la) for u, e, t, lo, la in rows],
        "user_id long, event_id long, us long, lon double, lat double",
    ).select("user_id", "event_id",
             F.timestamp_micros(F.col("us")).alias("ts"), "lon", "lat")
    out = sorted((r["t_us"], r["lon"], r["lat"])
                 for r in track_resample(df, order_id="event_id",
                                         step_us=6 * H).collect())
    assert [t for t, _, _ in out] == [6 * H, 12 * H, 18 * H, 24 * H]
    for (t, lo, la), want in zip(out, (6.0, 12.0, 18.0, 24.0)):
        assert abs(lo - want) < 1e-9 and abs(la) < 1e-9


def test_od_matrix_analytic(spark):
    """Two users share a (origin, dest) flow, one reversed: counts per
    directed pair; first/last resolved by (ts, event_id) total order."""
    from projcl_spark.index.cells import cell_id_np
    from projcl_spark.operators.trajectory import od_matrix

    a = int(cell_id_np(-150.0, -80.0, 3))  # cell A
    b = int(cell_id_np(150.0, 80.0, 3))    # cell B
    rows = [
        (1, 1, 0, -150.0, -80.0), (1, 2, 5, 0.0, 0.0), (1, 3, 9, 150.0, 80.0),
        (2, 1, 0, -150.0, -80.0), (2, 2, 9, 150.0, 80.0),
        (3, 1, 0, 150.0, 80.0), (3, 2, 9, -150.0, -80.0),
    ]
    df = spark.createDataFrame(
        [(u, e, t, lo, la) for u, e, t, lo, la in rows],
        "user_id long, event_id long, us long, lon double, lat double",
    ).select("user_id", "event_id",
             F.timestamp_micros(F.col("us")).alias("ts"), "lon", "lat")
    got = {(r["o_cell"], r["d_cell"]): r["n_flows"]
           for r in od_matrix(df, res=3, order_id="event_id").collect()}
    assert got == {(a, b): 2, (b, a): 1}


def test_morans_i_checkerboard(spark):
    """A rook checkerboard is perfect negative autocorrelation: I = -1
    exactly (every directed pair multiplies opposite-sign z of equal
    magnitude).  A constant surface has zero variance -> null I, and
    w_pairs counts the torus-in-x rook adjacency (E/W wrap, N/S clip):
    4*4*2 E/W + 2*4*3 N/S = 56 directed pairs on a 4x4 grid."""
    from projcl_spark.operators.stats import morans_i

    res, n = 2, 4
    cells = [(ix * n + iy, 10 + 4 * ((ix + iy) % 2))
             for ix in range(n) for iy in range(n)]
    df = spark.createDataFrame(cells, "cell_id long, cnt long")
    r = morans_i(df, res).first()
    assert r["n_cells"] == 16 and r["w_pairs"] == 56
    assert abs(r["moran_i"] + 1.0) < 1e-12
    flat = spark.createDataFrame(
        [(c, 7) for c, _ in cells], "cell_id long, cnt long")
    r2 = morans_i(flat, res).first()
    assert r2["moran_i"] is None and r2["w_pairs"] == 56


def test_snap_to_segments_analytic(spark):
    """Unit square at the equator: a point left of the west edge snaps
    onto that edge at its own latitude; a point off the corner snaps to
    the corner with dist = hypot; an equidistant point between two
    edges ties to the LOWER seg_id."""
    import math

    from projcl_spark.operators.geometry import snap_to_segments

    deg2m = math.pi * 6370997.0 / 180.0
    segs = spark.createDataFrame(
        [(0, 0.0, 0.0, 10.0, 0.0),   # south edge
         (1, 10.0, 0.0, 10.0, 10.0),  # east edge
         (2, 10.0, 10.0, 0.0, 10.0),  # north edge
         (3, 0.0, 10.0, 0.0, 0.0)],   # west edge
        "seg_id long, x1 double, y1 double, x2 double, y2 double")
    pts = spark.createDataFrame(
        [(1, -2.0, 5.0), (2, 13.0, -4.0), (3, 5.0, 5.0)],
        "pt_id long, lon double, lat double")
    got = {r["pt_id"]: r for r in snap_to_segments(pts, segs).collect()}
    assert got[1]["seg_id"] == 3
    assert abs(got[1]["snap_lon"]) < 1e-9 and abs(got[1]["snap_lat"] - 5.0) < 1e-9
    assert abs(got[1]["dist_m"] - 2.0 * math.cos(math.radians(5.0)) * deg2m) < 1e-6
    # corner (10, 0) is an endpoint of BOTH seg 0 (south, t clamps to 1)
    # and seg 1 (east, t = 0) with bit-identical snap points -> the exact
    # tie breaks to the LOWER seg_id
    assert got[2]["seg_id"] == 0
    assert abs(got[2]["snap_lon"] - 10.0) < 1e-9 and abs(got[2]["snap_lat"]) < 1e-9
    # center (5,5): the local frame scales x by cos(5 deg), so the east/
    # west edges (5*cos5) beat south/north (5.0); their exact tie breaks
    # to the lower id -> east edge, seg 1
    assert got[3]["seg_id"] == 1


def test_getis_ord_gstar_numpy_reference(spark):
    """G* on a random 6x6 occupied grid vs a direct numpy evaluation of
    the formula (rook + self, torus-in-x), plus the degenerate guards:
    constant surface -> null."""
    import numpy as np

    from projcl_spark.operators.stats import getis_ord_gstar

    rng = np.random.default_rng(5)
    res, n = 3, 8
    cells = [(ix * n + iy, int(rng.integers(1, 40)))
             for ix in range(6) for iy in range(6)]
    df = spark.createDataFrame(cells, "cell_id long, cnt long")
    got = {r["cell_id"]: r for r in getis_ord_gstar(df, res).collect()}

    vals = dict(cells)
    xs = np.array([v for _, v in cells], dtype=float)
    nn, mean = len(xs), xs.mean()
    s = np.sqrt((xs * xs).mean() - mean * mean)
    for c, v in cells:
        ix, iy = c // n, c % n
        hood = [c, ((ix + 1) % n) * n + iy, ((ix - 1 + n) % n) * n + iy]
        if iy + 1 < n:
            hood.append(ix * n + iy + 1)
        if iy - 1 >= 0:
            hood.append(ix * n + iy - 1)
        occ = [h for h in hood if h in vals]
        wi = len(occ)
        wsum = sum(vals[h] for h in occ)
        want = (wsum - mean * wi) / (s * np.sqrt((nn * wi - wi * wi) / (nn - 1)))
        assert got[c]["w_i"] == wi
        assert abs(got[c]["gstar"] - want) < 1e-9, (c, got[c]["gstar"], want)
    flat = spark.createDataFrame([(c, 7) for c, _ in cells],
                                 "cell_id long, cnt long")
    assert all(r["gstar"] is None for r in getis_ord_gstar(flat, res).collect())


def test_local_moran_numpy_reference(spark):
    """LISA on a random 6x6 occupied grid vs direct numpy evaluation
    (rook WITHOUT self, torus-in-x), plus the degenerate guards: a
    checkerboard gives I_i = -w_i exactly (|z| equal, signs alternate),
    a constant surface gives null I with w_i intact."""
    import numpy as np

    from projcl_spark.operators.stats import local_moran

    rng = np.random.default_rng(11)
    res, n = 3, 8
    cells = [(ix * n + iy, int(rng.integers(1, 40)))
             for ix in range(6) for iy in range(6)]
    df = spark.createDataFrame(cells, "cell_id long, cnt long")
    got = {r["cell_id"]: r for r in local_moran(df, res).collect()}

    vals = dict(cells)
    xs = np.array([v for _, v in cells], dtype=float)
    mean, m2 = xs.mean(), (xs - xs.mean()).var()
    for c, v in cells:
        ix, iy = c // n, c % n
        hood = [((ix + 1) % n) * n + iy, ((ix - 1 + n) % n) * n + iy]
        if iy + 1 < n:
            hood.append(ix * n + iy + 1)
        if iy - 1 >= 0:
            hood.append(ix * n + iy - 1)
        occ = [h for h in hood if h in vals]
        want = (v - mean) / m2 * sum(vals[h] - mean for h in occ)
        assert got[c]["w_i"] == len(occ)
        assert abs(got[c]["lisa"] - want) < 1e-9, (c, got[c]["lisa"], want)

    res2, n2 = 2, 4
    board = [(ix * n2 + iy, 10 + 4 * ((ix + iy) % 2))
             for ix in range(n2) for iy in range(n2)]
    bdf = spark.createDataFrame(board, "cell_id long, cnt long")
    for r in local_moran(bdf, res2).collect():
        assert abs(r["lisa"] + r["w_i"]) < 1e-12
    flat = spark.createDataFrame([(c, 7) for c, _ in board],
                                 "cell_id long, cnt long")
    out = local_moran(flat, res2).collect()
    assert all(r["lisa"] is None for r in out)
    assert all(r["w_i"] > 0 for r in out)


def test_mann_kendall_analytic(spark):
    """S and z on hand-computable series: strictly increasing -> S =
    C(n,2) with the -1 continuity correction; constant -> S = 0, z = 0;
    a single-bucket key survives with n_buckets = 1 and zeros."""
    import math

    from projcl_spark.operators.stats import mann_kendall

    rows = ([("up", b, 10 + b) for b in range(5)]
            + [("flat", b, 7) for b in range(4)]
            + [("lone", 0, 3)]
            + [("down", b, 20 - 3 * b) for b in range(4)])
    df = spark.createDataFrame(rows, "cell_id string, bucket long, v long")
    got = {r["cell_id"]: r for r in mann_kendall(df).collect()}
    assert (got["up"]["n_buckets"], got["up"]["s_stat"]) == (5, 10)
    var5 = 5 * 4 * 15 / 18.0
    assert abs(got["up"]["mk_z"] - 9.0 / math.sqrt(var5)) < 1e-12
    assert (got["flat"]["s_stat"], got["flat"]["mk_z"]) == (0, 0.0)
    assert (got["lone"]["n_buckets"], got["lone"]["s_stat"],
            got["lone"]["mk_z"]) == (1, 0, 0.0)
    var4 = 4 * 3 * 13 / 18.0
    assert got["down"]["s_stat"] == -6
    assert abs(got["down"]["mk_z"] + 5.0 / math.sqrt(var4)) < 1e-12


def test_std_ellipse_analytic(spark):
    """Collinear 45-degree points: theta = 45 compass, sigma_minor = 0,
    sigma_major = RMS distance along the line; a perfect square is
    isotropic (disc = 0 -> null theta); n < 3 groups are emitted with
    null theta."""
    import math

    from projcl_spark.operators.stats import std_ellipse

    rows = ([("line", float(i), float(i)) for i in range(4)]
            + [("square", 0.0, 0.0), ("square", 0.0, 1.0),
               ("square", 1.0, 0.0), ("square", 1.0, 1.0)]
            + [("pair", 2.0, 3.0), ("pair", 4.0, 5.0)])
    df = spark.createDataFrame(rows, "g string, lon double, lat double")
    got = {r["g"]: r for r in std_ellipse(df, "g").collect()}
    line = got["line"]
    assert abs(line["mean_lon"] - 1.5) < 1e-12
    assert abs(line["theta_deg"] - 45.0) < 1e-9
    # along-axis offsets from the mean are +-1.5*sqrt(2) and +-0.5*sqrt(2);
    # sigma_major is their RMS over n = 4
    want_major = math.sqrt(2 * ((1.5 ** 2 + 0.5 ** 2) * 2) / 4)
    assert abs(line["sigma_major_deg"] - want_major) < 1e-12
    assert line["sigma_minor_deg"] < 1e-9
    assert got["square"]["theta_deg"] is None
    assert abs(got["square"]["sigma_major_deg"]
               - got["square"]["sigma_minor_deg"]) < 1e-12
    assert got["pair"]["theta_deg"] is None and got["pair"]["n"] == 2


def test_grid_dbscan_two_blobs(spark):
    """Two separated dense 2x2 blobs on a sparse background: absolute
    min_pts keeps exactly the blob cells core, each blob becomes one
    cluster labelled by its minimum cell id; the relative (1.2x mean)
    default finds the same cores here.  Also checks the E/W wrap: a
    blob straddling ix = 0 / ix = n-1 must form ONE cluster."""
    from projcl_spark.operators.dbscan import grid_dbscan

    res, n = 3, 8  # 8x8 lattice

    def cid(ix, iy):
        return ix * n + iy

    blob_a = [cid(1, 1), cid(1, 2), cid(2, 1), cid(2, 2)]
    blob_b = [cid(5, 5), cid(5, 6), cid(6, 5), cid(6, 6)]
    sparse = [cid(4, 0), cid(0, 7), cid(7, 0)]
    rows = ([(c, 50) for c in blob_a] + [(c, 50) for c in blob_b]
            + [(c, 1) for c in sparse])
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    out = grid_dbscan(df, res, min_pts=150).collect()
    got = {r["cell_id"]: r for r in out}
    assert set(got) == set(blob_a) | set(blob_b)
    for c in blob_a:
        assert got[c]["cluster_id"] == min(blob_a)
        assert got[c]["hood_n"] == 200  # all four blob cells in every 3x3
    for c in blob_b:
        assert got[c]["cluster_id"] == min(blob_b)
    rel = grid_dbscan(df, res).collect()
    assert {r["cell_id"] for r in rel} == set(blob_a) | set(blob_b)

    wrap = [cid(7, 3), cid(7, 4), cid(0, 3), cid(0, 4)]
    wdf = spark.createDataFrame([(c, 50) for c in wrap]
                                + [(c, 1) for c in sparse],
                                "cell_id long, cnt long")
    wout = grid_dbscan(wdf, res, min_pts=150).collect()
    assert {r["cell_id"] for r in wout} == set(wrap)
    assert {r["cluster_id"] for r in wout} == {min(wrap)}


def test_staypoints_runs(spark):
    """Hand-built track: three tight hourly pings form one staypoint
    (n=3), a far jump then two tight pings is a run below min_pings, a
    time gap beyond max_gap splits otherwise-tight pings."""
    from pyspark.sql import functions as F

    from projcl_spark.operators.trajectory import staypoints

    h = 3600 * 1_000_000
    rows = [
        # user 1: tight cluster of 3, then a jump, then tight pair
        (1, 0 * h, 10.0, 20.0), (1, 1 * h, 10.001, 20.0),
        (1, 2 * h, 10.0, 20.001),
        (1, 3 * h, 40.0, 50.0), (1, 4 * h, 40.001, 50.0),
        # user 2: tight positions but 48 h gaps -> never a run
        (2, 0 * h, -5.0, -5.0), (2, 48 * h, -5.0005, -5.0),
        (2, 96 * h, -5.001, -5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, lon double, lat double") \
        .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"),
                "lon", "lat", F.col("us").alias("event_id"))
    out = staypoints(df, order_id="event_id", radius_m=1000.0,
                     max_gap_us=6 * h, min_pings=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["user_id"] == 1 and r["n_pings"] == 3
    assert (r["start_us"], r["end_us"], r["duration_us"]) == (0, 2 * h, 2 * h)
    assert abs(r["center_lon"] - (10.0 + 10.001 + 10.0) / 3) < 1e-12
    assert abs(r["center_lat"] - (20.0 + 20.0 + 20.001) / 3) < 1e-12


def test_geofence_transitions_square(spark):
    """Square fence: outside->inside emits enter at the first inside
    ping, inside->outside emits exit; an always-outside user emits
    nothing; the first ping is never a transition."""
    import numpy as np
    from pyspark.sql import functions as F

    from projcl_spark.operators.trajectory import geofence_transitions
    from projcl_spark.sources.synth import polygon_cover_cells

    res = 5
    p = {"poly_id": 0,
         "xs": np.array([0.0, 10.0, 10.0, 0.0]),
         "ys": np.array([0.0, 0.0, 10.0, 10.0])}
    polys = spark.createDataFrame(
        [(0, [0.0, 10.0, 10.0, 0.0], [0.0, 0.0, 10.0, 10.0],
          [int(c) for c in polygon_cover_cells(p, res)])],
        "poly_id long, xs array<double>, ys array<double>, cells array<long>")
    h = 3600 * 1_000_000
    rows = [
        (1, 0 * h, -5.0, 5.0), (1, 1 * h, 5.0, 5.0), (1, 2 * h, 6.0, 5.0),
        (1, 3 * h, 15.0, 5.0),
        (2, 0 * h, -20.0, -20.0), (2, 1 * h, -21.0, -20.0),
        # user 3 STARTS inside: first ping is not a transition
        (3, 0 * h, 5.0, 5.0), (3, 1 * h, 5.0, 15.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, lon double, lat double") \
        .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"),
                "lon", "lat", F.col("us").alias("event_id"))
    out = geofence_transitions(df, polys, order_id="event_id", res=res)
    got = sorted((r["user_id"], r["t_us"], r["direction"])
                 for r in out.collect())
    assert got == [(1, 1 * h, "enter"), (1, 3 * h, "exit"),
                   (3, 1 * h, "exit")]


def test_ripley_pairs_bruteforce_and_high_lat(spark):
    """Pair counts vs a brute-force numpy double loop, including an
    E/W pair at 79 deg N ~150 km apart — more than one res-6 lon cell
    (108 km at that latitude), which a fixed ring-1 join would MISS and
    the latitude-adaptive ring must find."""
    import math

    import numpy as np

    from projcl_spark.operators.stats import ripley_pairs

    rng = np.random.default_rng(3)
    lons = list(rng.uniform(-50, 50, 40))
    lats = list(rng.uniform(-35, 70, 40))
    # the adversarial pair: at 79N, 7 deg of lon is ~149 km
    lons += [10.0, 17.0]
    lats += [79.0, 79.0]
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lons, lats))]
    df = spark.createDataFrame(rows, "id long, lon double, lat double")
    radii = (50_000.0, 100_000.0, 200_000.0)
    got = ripley_pairs(df, radii, res=6).first()

    R = 6370997.0

    def hav(lo1, la1, lo2, la2):
        p1, p2 = math.radians(la1), math.radians(la2)
        dl = math.radians(lo2 - lo1)
        a = (math.sin((p2 - p1) / 2) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
        return 2 * R * math.asin(min(1.0, math.sqrt(a)))

    want = {r: 0 for r in radii}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = hav(lons[i], lats[i], lons[j], lats[j])
            for r in radii:
                if d < r:
                    want[r] += 1
    assert got["n_pts"] == len(rows)
    assert got["pairs_50km"] == want[50_000.0]
    assert got["pairs_100km"] == want[100_000.0]
    assert got["pairs_200km"] == want[200_000.0]
    # the 79N pair must actually be in the 200 km bucket for the test
    # to exercise the adaptive ring
    assert hav(10.0, 79.0, 17.0, 79.0) < 200_000.0


def test_convex_hull_known_shape(spark):
    """Square corners + interior points: the hull is exactly the four
    corners in lex order; a 2-point entity passes through unchanged."""
    from projcl_spark.operators.geometry import convex_hull

    rows = ([(1, 0.0, 0.0), (1, 10.0, 0.0), (1, 10.0, 10.0), (1, 0.0, 10.0),
             (1, 5.0, 5.0), (1, 2.0, 7.0), (1, 8.0, 3.0)]
            + [(2, 1.0, 1.0), (2, 2.0, 2.0)])
    df = spark.createDataFrame(rows, "user_id long, lon double, lat double")
    out = convex_hull(df).collect()
    got1 = [(r["lon"], r["lat"]) for r in sorted(
        (r for r in out if r["user_id"] == 1), key=lambda r: r["seq"])]
    assert got1 == [(0.0, 0.0), (0.0, 10.0), (10.0, 0.0), (10.0, 10.0)]
    got2 = [(r["lon"], r["lat"]) for r in sorted(
        (r for r in out if r["user_id"] == 2), key=lambda r: r["seq"])]
    assert got2 == [(1.0, 1.0), (2.0, 2.0)]


def test_knox_pairs_bruteforce(spark):
    """Knox counts vs a brute-force double loop over a mixed fixture:
    a space-time cluster (close in both), a spatial-only cluster
    (same place, spread over weeks), scattered background."""
    import math

    import numpy as np

    from projcl_spark.operators.stats import knox_pairs

    h = 3600 * 1_000_000
    rows = []
    # space-time cluster: 5 points within ~20 km and 6 h
    for i in range(5):
        rows.append((i, i * h, 10.0 + 0.05 * i, 20.0 + 0.05 * i))
    # spatial-only: same spot, 10-day strides
    for i in range(4):
        rows.append((10 + i, 240 * h * (i + 1), 10.1, 20.1))
    rng = np.random.default_rng(9)
    for i in range(30):
        rows.append((100 + i, int(rng.integers(0, 720) * h),
                     float(rng.uniform(-50, 50)), float(rng.uniform(-35, 70))))
    df = spark.createDataFrame(rows, "id long, t_us long, lon double, lat double")
    r_m, tau = 150_000.0, 12 * h
    got = knox_pairs(df, r_m, tau).first()

    R = 6370997.0

    def hav(lo1, la1, lo2, la2):
        p1, p2 = math.radians(la1), math.radians(la2)
        dl = math.radians(lo2 - lo1)
        a = (math.sin((p2 - p1) / 2) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
        return 2 * R * math.asin(min(1.0, math.sqrt(a)))

    ns = nt = nb = 0
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = hav(rows[i][2], rows[i][3], rows[j][2], rows[j][3])
            dt = abs(rows[j][1] - rows[i][1])
            if d < r_m:
                ns += 1
            if dt < tau:
                nt += 1
            if d < r_m and dt < tau:
                nb += 1
    assert (got["n_pts"], got["pairs_space"], got["pairs_time"],
            got["pairs_both"]) == (len(rows), ns, nt, nb)
    assert ns > nb > 0 and nt > nb  # fixture exercises all three sets


def test_stratified_sample_exact_and_stable(spark):
    """The keep set is a pure function of the key: same rows kept under
    any partitioning; rates land near num/den; unknown strata use the
    default; and the decision matches the SQL twin evaluated by Spark
    itself (shared hash60 text)."""
    from pyspark.sql import functions as F

    from projcl_spark.operators.sample import (
        stratified_sample, stratified_sample_sql,
    )

    rows = [(i, ["en", "de", "xx"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": (3, 10), "de": (4, 5)}
    out = stratified_sample(df, "lang", "doc_id", rates, default=(1, 2))
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}
    got2 = {(r["doc_id"], r["lang"])
            for r in stratified_sample(df.repartition(17), "lang", "doc_id",
                                       rates, default=(1, 2)).collect()}
    assert got == got2  # partitioning-independent
    by_lang = {}
    for _, lang in got:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert abs(by_lang["en"] / 1000 - 0.3) < 0.05
    assert abs(by_lang["de"] / 1000 - 0.8) < 0.05
    assert abs(by_lang["xx"] / 1000 - 0.5) < 0.05
    pred = stratified_sample_sql("df", "lang", "doc_id", rates,
                                 default=(1, 2), dialect="spark")
    df.createOrReplaceTempView("df")
    sql_ids = {(r["doc_id"], r["lang"]) for r in
               spark.sql(f"SELECT doc_id, lang FROM df WHERE {pred}").collect()}
    assert sql_ids == got


def test_track_hausdorff_analytic(spark):
    """Two parallel 2-point tracks on the equator: the directed minima
    are all the 0.5-degree separation, so Hausdorff = 0.5 deg of arc; a
    third far track dominates via the directed max. Also: symmetric
    output keyed a < b only."""
    import math

    from projcl_spark.operators.trajectory import track_hausdorff

    rows = [(1, 0.0, 0.0), (1, 1.0, 0.0),
            (2, 0.0, 0.5), (2, 1.0, 0.5),
            (3, 50.0, 0.0)]
    df = spark.createDataFrame(rows, "user_id long, lon double, lat double")
    got = {(r["ka"], r["kb"]): r["hausdorff_m"]
           for r in track_hausdorff(df).collect()}
    R = 6370997.0
    deg = math.pi * R / 180.0
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert abs(got[(1, 2)] - 0.5 * deg) < 1.0
    # track 3 vs 1: farthest point of 1 is lon 0 -> 50 deg away
    assert abs(got[(1, 3)] - 50.0 * deg) < 1.0


def test_flow_d8_analytic(spark):
    """Tilted plane z = gi + 2*gj: steepest drop from any interior cell
    is the SW diagonal (code 8, drop 3); a bowl center is a pit (0);
    a flat plane is all pits with ties never firing."""
    from pyspark.sql import functions as F

    from projcl_spark.operators.raster import flow_d8

    n = 5
    plane = [(i, j, i + 2 * j) for i in range(n) for j in range(n)]
    df = spark.createDataFrame(plane, "gi long, gj long, elev long")
    got = {(r["gi"], r["gj"]): r for r in flow_d8(df).collect()}
    assert set(got) == {(i, j) for i in range(1, 4) for j in range(1, 4)}
    for r in got.values():
        assert r["flow_dir"] == 8 and r["max_drop"] == 3

    bowl = [(i, j, abs(i - 2) + abs(j - 2)) for i in range(n) for j in range(n)]
    bdf = spark.createDataFrame(bowl, "gi long, gj long, elev long")
    bgot = {(r["gi"], r["gj"]): r for r in flow_d8(bdf).collect()}
    assert bgot[(2, 2)]["flow_dir"] == 0  # pit
    # cell east of center: ties between W (16, toward center) and the
    # diagonals NW/SW (32/8, same drop 1 on manhattan bowl)? drops:
    # W=1, NW=0, SW=0 -> W wins outright... check the simple fact:
    assert bgot[(3, 2)]["flow_dir"] == 16 and bgot[(3, 2)]["max_drop"] == 1
    flat = spark.createDataFrame([(i, j, 7) for i in range(n) for j in range(n)],
                                 "gi long, gj long, elev long")
    assert all(r["flow_dir"] == 0 for r in flow_d8(flat).collect())


def test_cell_bfs_hops(spark):
    """A 1-wide corridor with a gap: hops count along the corridor, the
    far side of the gap is unreachable; max_hops truncates."""
    from pyspark.sql import functions as F

    from projcl_spark.operators.dbscan import cell_bfs

    res, n = 3, 8

    def cid(ix, iy):
        return ix * n + iy

    corridor = [cid(i, 4) for i in range(5)]          # (0..4, 4)
    island = [cid(7, 0)]                              # unreachable (gap)
    cells = spark.createDataFrame(
        [(c, 1) for c in corridor + island], "cell_id long, cnt long")
    src = spark.createDataFrame([(cid(0, 4),)], "cell_id long")
    got = {r["cell_id"]: r["hops"]
           for r in cell_bfs(cells, res, src, max_hops=10).collect()}
    assert got == {cid(i, 4): i for i in range(5)}
    got2 = {r["cell_id"]: r["hops"]
            for r in cell_bfs(cells, res, src, max_hops=2).collect()}
    assert got2 == {cid(i, 4): i for i in range(3)}


def test_compact_cover_expansion_roundtrip_property(spark):
    """Hypothesis: for random cell sets, expanding the compacted cover
    back to leaf resolution reproduces EXACTLY the input set (no cell
    lost, none invented), and no emitted tile above min_res has all 4
    siblings present (else it would have been compacted)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from projcl_spark.index.cells import compact_cover

    res, min_res, n = 4, 1, 16

    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(cells=st.sets(st.integers(0, n * n - 1), min_size=1, max_size=80))
    def run(cells):
        df = spark.createDataFrame([(c,) for c in cells], "cell_id long")
        out = compact_cover(df, res, min_res).collect()

        def leaves(level, c):
            ix, iy = c // (1 << level), c % (1 << level)
            sh = res - level
            return {(ix * (1 << sh) + dx) * n + iy * (1 << sh) + dy
                    for dx in range(1 << sh) for dy in range(1 << sh)}

        expanded = set()
        for r in out:
            lv = r["level"]
            got = leaves(lv, r["cell_id"])
            assert not (expanded & got)  # tiles are disjoint
            expanded |= got
        assert expanded == set(cells)

    run()


def test_ring_pairs_random_vs_brute_property(spark):
    """Hypothesis: ripley pair counts equal the brute-force double loop
    for random clouds that include high-latitude points (the adaptive
    lon ring's hard case)."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from projcl_spark.operators.stats import ripley_pairs

    R = 6370997.0

    def hav(lo1, la1, lo2, la2):
        p1, p2 = math.radians(la1), math.radians(la2)
        dl = math.radians(lo2 - lo1)
        a = (math.sin((p2 - p1) / 2) ** 2
             + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
        return 2 * R * math.asin(min(1.0, math.sqrt(a)))

    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(seed=st.integers(0, 2**31 - 1))
    def run(seed):
        import numpy as np

        rng = np.random.default_rng(seed)
        m = 30
        lons = list(rng.uniform(-170, 170, m))
        lats = list(np.clip(rng.normal(55, 25, m), -85.0, 85.0))
        rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lons, lats))]
        df = spark.createDataFrame(rows, "id long, lon double, lat double")
        radii = (100_000.0, 300_000.0)
        got = ripley_pairs(df, radii, res=6).first()
        want = {r: 0 for r in radii}
        for i in range(m):
            for j in range(i + 1, m):
                d = hav(lons[i], lats[i], lons[j], lats[j])
                for r in radii:
                    if d < r:
                        want[r] += 1
        assert got["pairs_100km"] == want[100_000.0]
        assert got["pairs_300km"] == want[300_000.0]

    run()


def test_flow_accumulation_chain(spark):
    """A monotone staircase along one row drains left-to-right: cell k
    receives exactly k upstream arrivals (within the horizon); pits
    receive from all their drainage; the horizon cap truncates long
    chains."""
    from projcl_spark.operators.raster import flow_accumulation

    n = 8
    # elevation decreases with gi along the middle row, flat elsewhere
    # high: interior cells all drain E toward gi = n-1
    rows = [(i, j, (n - i) * 10) for i in range(n) for j in range(n)]
    df = spark.createDataFrame(rows, "gi long, gj long, elev long")
    got = {(r["gi"], r["gj"]): r["acc"]
           for r in flow_accumulation(df, max_steps=20).collect()}
    # interior cells are (1..6, 1..6); every interior cell flows E (drop
    # 10, code 1 lowest tie? E drop=10, SE/NE drop=10 too on this ramp —
    # ties break to E=1). Cell (i, j) interior receives from (1..i-1, j)
    # chain plus the border arrival at (7, j) accumulates 6 upstream.
    for j in range(1, 7):
        for i in range(2, 7):
            assert got[(i, j)] == i - 1, (i, j, got.get((i, j)))
        assert got[(7, j)] == 6  # border sink collects the whole row
    # cap truncation: horizon 3 -> at most 3 arrivals anywhere
    got3 = {(r["gi"], r["gj"]): r["acc"]
            for r in flow_accumulation(df, max_steps=3).collect()}
    assert max(got3.values()) == 3


def test_proj_distortion_equal_area_property(spark):
    """The finite-difference scale factors must witness the projection
    families' defining properties: spherical Albers (equal-area) keeps
    h*k = 1 to finite-difference accuracy across the envelope."""
    import numpy as np
    from pyspark.sql import functions as F

    import __spark_entry__ as E

    pts = spark.createDataFrame(
        [(i, -50.0 + i * 7.3, -30.0 + (i * 11) % 90) for i in range(40)],
        "id long, lon double, lat double")
    h, k = E._distortion_exprs("spark")
    rows = pts.select(F.expr(h).alias("h"), F.expr(k).alias("k")).collect()
    hk = np.array([r["h"] * r["k"] for r in rows])
    assert np.abs(hk - 1.0).max() < 2e-3  # O(eps^2) truncation at eps=0.25
    # and the factors themselves are non-trivial (Albers distorts shapes)
    ratio = np.array([r["h"] / r["k"] for r in rows])
    assert np.abs(ratio - 1.0).max() > 0.01


def test_staypoints_invariants_property(spark):
    """Hypothesis: for random tracks, (1) staypoint intervals per user
    are disjoint and time-ordered, (2) every run's duration equals
    end - start, (3) total pings across min_pings=1 runs equals the
    user's ping count (runs partition the track)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from projcl_spark.operators.trajectory import staypoints

    h = 3600 * 1_000_000

    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(seed=st.integers(0, 2**31 - 1))
    def run(seed):
        import numpy as np

        rng = np.random.default_rng(seed)
        rows = []
        eid = 0
        for u in range(4):
            t = 0
            lon, lat = rng.uniform(-30, 30), rng.uniform(-20, 40)
            for _ in range(rng.integers(5, 25)):
                t += int(rng.integers(1, 30) * h)
                if rng.random() < 0.4:   # jump
                    lon, lat = rng.uniform(-30, 30), rng.uniform(-20, 40)
                else:                    # dwell wiggle
                    lon += rng.uniform(-0.001, 0.001)
                    lat += rng.uniform(-0.001, 0.001)
                rows.append((u, eid, t, float(lon), float(lat)))
                eid += 1
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, us long, lon double, lat double"
        ).select("user_id", "event_id",
                 F.timestamp_micros(F.col("us")).alias("ts"), "lon", "lat")
        out = staypoints(df, order_id="event_id", radius_m=1000.0,
                         max_gap_us=12 * h, min_pings=1).collect()
        per_user = {}
        total = 0
        for r in out:
            assert r["duration_us"] == r["end_us"] - r["start_us"]
            per_user.setdefault(r["user_id"], []).append(
                (r["start_us"], r["end_us"]))
            total += r["n_pings"]
        assert total == len(rows)  # runs partition every track
        for ivs in per_user.values():
            ivs.sort()
            for (s1, e1), (s2, e2) in zip(ivs, ivs[1:]):
                assert e1 < s2  # disjoint, ordered

    run()


def test_geofence_alternation_property(spark):
    """Hypothesis: per user, emitted transitions strictly alternate
    enter/exit in time order, and the first transition's direction is
    determined by the first ping's state (outside -> first is enter)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F
    import numpy as np

    from projcl_spark.operators.trajectory import geofence_transitions
    from projcl_spark.sources.synth import polygon_cover_cells

    res = 5
    p = {"poly_id": 0,
         "xs": np.array([0.0, 15.0, 15.0, 0.0]),
         "ys": np.array([0.0, 0.0, 15.0, 15.0])}
    polys = spark.createDataFrame(
        [(0, [0.0, 15.0, 15.0, 0.0], [0.0, 0.0, 15.0, 15.0],
          [int(c) for c in polygon_cover_cells(p, res)])],
        "poly_id long, xs array<double>, ys array<double>, cells array<long>")
    h = 3600 * 1_000_000

    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(seed=st.integers(0, 2**31 - 1))
    def run(seed):
        rng = np.random.default_rng(seed)
        rows, first_inside = [], {}
        for u in range(5):
            for i in range(12):
                lon = float(rng.uniform(-10, 25))
                lat = float(rng.uniform(-10, 25))
                if i == 0:
                    first_inside[u] = (0 < lon < 15 and 0 < lat < 15)
                rows.append((u, u * 100 + i, i * h, lon, lat))
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, us long, lon double, lat double"
        ).select("user_id", "event_id",
                 F.timestamp_micros(F.col("us")).alias("ts"), "lon", "lat")
        out = geofence_transitions(df, polys, order_id="event_id", res=res)
        per_user = {}
        for r in sorted(out.collect(), key=lambda r: (r["user_id"], r["t_us"])):
            per_user.setdefault(r["user_id"], []).append(r["direction"])
        for u, dirs in per_user.items():
            want_first = "exit" if first_inside[u] else "enter"
            assert dirs[0] == want_first
            for a, b in zip(dirs, dirs[1:]):
                assert a != b  # strict alternation

    run()
