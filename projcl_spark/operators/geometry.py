"""Polygon metrics — planar area / perimeter / centroid after projection.

The reference projects geometry but never measures it; measuring is what
an analytics engine does with the projected coordinates.  This operator
composes the engine's closed-form forward projections (JVM codegen, the
same constant-folded transliteration the oracles use — pick an
equal-area projection like Albers and the planar area IS the on-earth
area) with the shoelace formulas over a DISTRIBUTED vertex table
(poly_id, v_idx, lon, lat): at 100 TB a polygon corpus arrives exploded,
one row per vertex, and must never be collected.

Plan shape: project each vertex (pure map) → cyclic successor via ONE
lead/first window on poly_id → per-polygon aggregate that reuses the
window's hash partitioning (same single-key-exchange discipline as
``trajectory.track_stats``).  Determinism: vertex order is the stored
ring order (``v_idx``), so every term of every sum is fixed.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import project_fwd_cols
from ..index.cells import _scale


def polygon_metrics(
    verts: DataFrame,
    proj: str = "albers_equal_area",
    params=None,
    poly_id: str = "poly_id",
    v_idx: str = "v_idx",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-polygon planar metrics in projected meters.

    ``verts`` holds one row per ring vertex in ring order (closure edge
    implied: last vertex connects back to the first).  Returns
    (poly_id, n_verts, area_m2, perim_m, cx, cy) with the signed shoelace
    area folded to absolute (either ring orientation measures the same).

    With ``params=None`` the default is ellipsoidal Albers with the
    classic 29.5/45.5 standard parallels — a conic projection cannot
    prepare without parallels, so the bare-call path needs a real default.
    """
    if params is None:
        from ..core.params import ProjectionParams
        from ..core.spheroid import Spheroid

        params = ProjectionParams(spheroid=Spheroid.WGS_84,
                                  rlat1=29.5, rlat2=45.5)
    xc, yc = project_fwd_cols(proj, params, lon=lon, lat=lat)
    p = verts.select(poly_id, v_idx, xc, yc)
    w = Window.partitionBy(poly_id).orderBy(F.col(v_idx).asc())
    wall = Window.partitionBy(poly_id).orderBy(F.col(v_idx).asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # cyclic successor: lead() everywhere, first() closes the ring
    nx = F.coalesce(F.lead("x").over(w), F.first("x").over(wall))
    ny = F.coalesce(F.lead("y").over(w), F.first("y").over(wall))
    e = p.select(
        poly_id,
        F.col("x"), F.col("y"), nx.alias("nx"), ny.alias("ny"),
        (F.col("x") * ny - nx * F.col("y")).alias("cross"),
    )
    agg = e.groupBy(poly_id).agg(
        F.count("*").alias("n_verts"),
        (F.sum("cross") / 2.0).alias("_signed"),
        F.sum(F.sqrt((F.col("nx") - F.col("x")) ** 2
                     + (F.col("ny") - F.col("y")) ** 2)).alias("perim_m"),
        F.sum((F.col("x") + F.col("nx")) * F.col("cross")).alias("_sx"),
        F.sum((F.col("y") + F.col("ny")) * F.col("cross")).alias("_sy"),
    )
    return agg.select(
        poly_id,
        "n_verts",
        F.abs(F.col("_signed")).alias("area_m2"),
        "perim_m",
        (F.col("_sx") / (6.0 * F.col("_signed"))).alias("cx"),
        (F.col("_sy") / (6.0 * F.col("_signed"))).alias("cy"),
    )


def spherical_area(
    verts: DataFrame,
    radius: float = 6370997.0,
    poly_id: str = "poly_id",
    v_idx: str = "v_idx",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-polygon area on the sphere (m²) — no projection step.

    The spherical shoelace of Chamberlain & Duquette (1989; the formula
    turf.js / many GIS engines ship for geodesic area): signed area =
    −R²/2 · Σ Δλ_i · (2 + sin φ_i + sin φ_{i+1}) over ring edges, folded
    to absolute.  Complements ``polygon_metrics``: that one measures in
    a chosen equal-area PROJECTION; this one measures on the ellipsoid's
    authalic sphere directly, so the two cross-check each other (tested).

    Same distributed shape as ``polygon_metrics``: one cyclic lead/first
    window + a poly_id aggregate sharing the exchange.  Rings must be
    stored in a continuous longitude frame (an antimeridian-crossing
    ring uses xs beyond ±180, exactly like the PIP layers).
    """
    p = verts.select(
        poly_id, v_idx,
        F.radians(F.col(lon)).alias("lam"),
        F.radians(F.col(lat)).alias("phi"),
    )
    w = Window.partitionBy(poly_id).orderBy(F.col(v_idx).asc())
    wall = Window.partitionBy(poly_id).orderBy(F.col(v_idx).asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nlam = F.coalesce(F.lead("lam").over(w), F.first("lam").over(wall))
    nphi = F.coalesce(F.lead("phi").over(w), F.first("phi").over(wall))
    term = (nlam - F.col("lam")) * (
        F.lit(2.0) + F.sin(F.col("phi")) + F.sin(nphi)
    )
    e = p.select(poly_id, term.alias("term"))
    half_r2 = radius * radius / 2.0
    return e.groupBy(poly_id).agg(
        F.count("*").alias("n_verts"),
        (F.abs(F.sum("term")) * half_r2).alias("area_m2"),
    )


def _cell_ix(v: Column, lo: float, span: float, n: int) -> Column:
    return F.least(
        F.greatest(F.floor((v - lo) / span * n), F.lit(0)), F.lit(n - 1)
    ).cast("long")


def segment_intersect_join(
    segs: DataFrame,
    res: int = 7,
    track_id: str = "track_id",
    seg_id: str = "seg_id",
) -> DataFrame:
    """Pairs of strictly-crossing segments from DIFFERENT tracks.

    ``segs`` has one row per directed segment: (track_id, seg_id, ax, ay,
    bx, by) in lon/lat degrees.  Returns (track_a, seg_a, track_b, seg_b,
    xi, yi) with track_a < track_b and (xi, yi) the planar intersection
    point.  Strict crossings only (proper interior intersection — the
    orientation products are < 0); touching endpoints and collinear
    overlap are excluded, which keeps the predicate sign-stable under
    float evaluation.

    Scale shape (the point of the operator): candidate pairs come from an
    EQUI-join on covering grid cells of each segment's bbox at ``res`` —
    never an all-pairs or range join.  A pair sharing k cells would
    surface k times, so each pair is emitted only in its CANONICAL cell —
    the cell containing the min corner of the two bboxes' intersection, a
    closed-form function of the joined row.  Dedup therefore costs zero
    extra shuffle and no distinct: the only exchanges are the two hash
    partitions the equi-join needs.  ``res`` is the caller's knob: cells
    comparable to segment bbox size keep the per-segment cover fan-out
    O(1) and the per-cell candidate population bounded.
    """
    n = _scale(res)

    def cover(df: DataFrame, side: str) -> DataFrame:
        xmin = F.least("ax", "bx")
        xmax = F.greatest("ax", "bx")
        ymin = F.least("ay", "by")
        ymax = F.greatest("ay", "by")
        d = df.select(
            F.col(track_id).alias(f"track_{side}"),
            F.col(seg_id).alias(f"seg_{side}"),
            F.col("ax").alias(f"ax{side}"), F.col("ay").alias(f"ay{side}"),
            F.col("bx").alias(f"bx{side}"), F.col("by").alias(f"by{side}"),
            xmin.alias(f"xmin{side}"), xmax.alias(f"xmax{side}"),
            ymin.alias(f"ymin{side}"), ymax.alias(f"ymax{side}"),
        )
        ix0 = _cell_ix(F.col(f"xmin{side}"), -180.0, 360.0, n)
        ix1 = _cell_ix(F.col(f"xmax{side}"), -180.0, 360.0, n)
        iy0 = _cell_ix(F.col(f"ymin{side}"), -90.0, 180.0, n)
        iy1 = _cell_ix(F.col(f"ymax{side}"), -90.0, 180.0, n)
        cells = F.flatten(F.transform(
            F.sequence(ix0, ix1),
            lambda x: F.transform(F.sequence(iy0, iy1), lambda y: x * n + y),
        ))
        return d.withColumn("cell", F.explode(cells))

    # NOTE on the tempting checkpoint-before-self-join: the two sides DO
    # re-derive the caller's upstream (exchange reuse does not fire
    # across the differing per-side projections), but the duplicated
    # subtrees execute CONCURRENTLY inside one job, so the wall is
    # max(side_a, side_b) — a lazy checkpoint of ``segs`` serializes
    # that critical path and measured ~0.4 s SLOWER at sf0.1 (r6 A/B).
    # On a saturated cluster the trade flips; callers can pre-checkpoint
    # ``segs`` themselves when executor time, not wall, is the budget.
    a, b = cover(segs, "a"), cover(segs, "b")
    j = a.join(b, on=(a.cell == b.cell) & (a.track_a < b.track_b)).drop(b.cell)

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = cross(F.col("axb"), F.col("ayb"), F.col("bxb"), F.col("byb"),
               F.col("axa"), F.col("aya"))
    d2 = cross(F.col("axb"), F.col("ayb"), F.col("bxb"), F.col("byb"),
               F.col("bxa"), F.col("bya"))
    d3 = cross(F.col("axa"), F.col("aya"), F.col("bxa"), F.col("bya"),
               F.col("axb"), F.col("ayb"))
    d4 = cross(F.col("axa"), F.col("aya"), F.col("bxa"), F.col("bya"),
               F.col("bxb"), F.col("byb"))
    crossing = (d1 * d2 < 0) & (d3 * d4 < 0)

    # canonical cell: the min corner of the bbox intersection lies in BOTH
    # bboxes, so its cell is in both covers and exactly one join row has it
    cx = _cell_ix(F.greatest("xmina", "xminb"), -180.0, 360.0, n)
    cy = _cell_ix(F.greatest("ymina", "yminb"), -90.0, 180.0, n)
    canonical = F.col("cell") == cx * n + cy

    # planar intersection point: p + t·r with t = cross(q−p, s) / cross(r, s)
    rx, ry = F.col("bxa") - F.col("axa"), F.col("bya") - F.col("aya")
    sx, sy = F.col("bxb") - F.col("axb"), F.col("byb") - F.col("ayb")
    denom = rx * sy - ry * sx
    t = ((F.col("axb") - F.col("axa")) * sy
         - (F.col("ayb") - F.col("aya")) * sx) / denom

    return j.where(crossing & canonical).select(
        "track_a", "seg_a", "track_b", "seg_b",
        (F.col("axa") + t * rx).alias("xi"),
        (F.col("aya") + t * ry).alias("yi"),
    )


def distance_to_boundary(
    points: DataFrame,
    polygons: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    batch: int = 2048,
) -> DataFrame:
    """Distance (meters, local-equirectangular) from every point to the
    NEAREST polygon boundary segment of the layer — the
    distance-to-coastline / proximity-band classic (engine-added; the
    reference projects geometry but never measures point-to-feature
    proximity).

    Scale shape, same discipline as ``pip.pip_anti_join``: the layer's
    edges are collected ONCE into an (E, 4) array (bounded driver action
    — a polygon LAYER is the small side; millions of edges ≈ tens of MB)
    and travel in the closure of a vectorized pandas UDF, so the operator
    is one zero-join, zero-shuffle filter-shaped map over the point side.
    Inside each Arrow batch the (points × edges) distance matrix is
    evaluated in ``batch``-row blocks to bound memory (2048 × E doubles
    per temp).

    Geometry: each point's neighborhood is flattened with its own
    cos(lat) (local equirectangular), the exact point-to-segment
    projection ``t = clamp(⟨p−a, b−a⟩/‖b−a‖², 0, 1)`` is taken in that
    frame, and the result is scaled by π·R/180 (sphere radius, matching
    ``haversine_col``).  Equirect error is O((d/R)²) — sub-0.1% for
    bands under ~100 km, which is the regime proximity queries ask
    about.  Degenerate zero-length edges fall back to the vertex
    distance (the guarded denominator keeps t at 0).
    """
    import numpy as np

    from ..functions import EARTH_RADIUS_SPHERE

    from .layer_guard import check_layer_size

    check_layer_size(
        polygons, what="distance_to_boundary(polygons)",
        item_bytes={"xs": 32},  # each vertex becomes a 4-double edge row
        fallback_hint="Pre-filter the layer (e.g. by cell cover near the "
                      "points) before asking for exact boundary distance.")
    rows = polygons.select("poly_id", "xs", "ys").collect()
    segs = []
    for r in rows:
        xs, ys = r["xs"], r["ys"]
        for i in range(len(xs)):
            j = (i + 1) % len(xs)
            segs.append((xs[i], ys[i], xs[j], ys[j]))
    E = np.asarray(segs, dtype=np.float64)
    deg2m = math.pi * EARTH_RADIUS_SPHERE / 180.0

    @F.pandas_udf("double")
    def _dist(lo, la):
        import pandas as pd

        px_all = lo.to_numpy(np.float64)
        py_all = la.to_numpy(np.float64)
        out = np.empty(len(px_all))
        x1, y1 = E[:, 0][None, :], E[:, 1][None, :]
        x2, y2 = E[:, 2][None, :], E[:, 3][None, :]
        for s in range(0, len(px_all), batch):
            px = px_all[s:s + batch][:, None]
            py = py_all[s:s + batch][:, None]
            k = np.cos(np.radians(py))
            ax, ay = (x1 - px) * k, y1 - py
            bx, by = (x2 - px) * k, y2 - py
            dx, dy = bx - ax, by - ay
            den = dx * dx + dy * dy
            t = np.clip(-(ax * dx + ay * dy) / np.where(den == 0.0, 1.0, den),
                        0.0, 1.0)
            qx, qy = ax + t * dx, ay + t * dy
            out[s:s + batch] = np.sqrt(qx * qx + qy * qy).min(axis=1)
        return pd.Series(out * deg2m)

    return points.withColumn("boundary_dist_m", _dist(lon, lat))


def snap_to_segments(
    points: DataFrame,
    segs: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    batch: int = 2048,
) -> DataFrame:
    """Map-matching-lite: snap every point to the NEAREST segment of a
    (small) segment layer — returns the segment id, the distance, and
    the snapped coordinates.

    ``segs`` has one row per segment (seg_id, x1, y1, x2, y2) in lon/lat
    degrees.  Same scale discipline as ``distance_to_boundary``: the
    layer is collected ONCE (bounded — a road/boundary layer is the
    small side), rides in the closure of a vectorized pandas UDF, and
    the operator is a zero-join, zero-shuffle map over the point corpus
    with (batch × E) blocked matrices bounding memory.

    Argmin ties break to the LOWEST seg_id (the closure array is sorted
    by seg_id and ``np.argmin`` takes the first minimum); the DuckDB
    twin reproduces that with ORDER BY (dist, seg_id).  Geometry is the
    exact clamped point-to-segment projection in the point's local
    equirectangular frame (see ``distance_to_boundary``); the snapped
    point maps back with the same cos(lat) the frame used.
    """
    import numpy as np

    from ..functions import EARTH_RADIUS_SPHERE

    from .layer_guard import check_layer_size

    check_layer_size(
        segs, what="snap_to_segments(segs)", bytes_per_row=48,
        fallback_hint="Cell-partition the segment layer and snap per cell "
                      "(pip_join-style equi-join) for layers this large.")
    rows = sorted(
        segs.select("seg_id", "x1", "y1", "x2", "y2").collect(),
        key=lambda r: r["seg_id"],
    )
    ids = np.asarray([r["seg_id"] for r in rows], dtype=np.int64)
    E = np.asarray([(r["x1"], r["y1"], r["x2"], r["y2"]) for r in rows],
                   dtype=np.float64)
    deg2m = math.pi * EARTH_RADIUS_SPHERE / 180.0

    @F.pandas_udf(
        "struct<seg_id: long, dist_m: double, snap_lon: double, snap_lat: double>"
    )
    def _snap(lo, la):
        import pandas as pd

        px_all = lo.to_numpy(np.float64)
        py_all = la.to_numpy(np.float64)
        n = len(px_all)
        o_id = np.empty(n, dtype=np.int64)
        o_d = np.empty(n)
        o_lo = np.empty(n)
        o_la = np.empty(n)
        x1, y1 = E[:, 0][None, :], E[:, 1][None, :]
        x2, y2 = E[:, 2][None, :], E[:, 3][None, :]
        for s in range(0, n, batch):
            px = px_all[s:s + batch][:, None]
            py = py_all[s:s + batch][:, None]
            k = np.cos(np.radians(py))
            ax, ay = (x1 - px) * k, y1 - py
            bx, by = (x2 - px) * k, y2 - py
            dx, dy = bx - ax, by - ay
            den = dx * dx + dy * dy
            t = np.clip(-(ax * dx + ay * dy) / np.where(den == 0.0, 1.0, den),
                        0.0, 1.0)
            qx, qy = ax + t * dx, ay + t * dy
            d2 = qx * qx + qy * qy
            j = d2.argmin(axis=1)
            r = np.arange(len(j))
            o_id[s:s + batch] = ids[j]
            o_d[s:s + batch] = np.sqrt(d2[r, j]) * deg2m
            o_lo[s:s + batch] = px[:, 0] + qx[r, j] / k[:, 0]
            o_la[s:s + batch] = py[:, 0] + qy[r, j]
        return pd.DataFrame(
            {"seg_id": o_id, "dist_m": o_d, "snap_lon": o_lo, "snap_la": o_la}
        ).rename(columns={"snap_la": "snap_lat"})

    return points.withColumn("_s", _snap(lon, lat)).select(
        "*", F.col("_s.seg_id").alias("seg_id"),
        F.col("_s.dist_m").alias("dist_m"),
        F.col("_s.snap_lon").alias("snap_lon"),
        F.col("_s.snap_lat").alias("snap_lat"),
    ).drop("_s")


def convex_hull(
    df: DataFrame,
    key: str = "user_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Per-entity convex hull vertices via Andrew's monotone chain,
    grouped ``applyInPandas`` (numpy inside the Arrow batch — per-group
    work is O(n log n), groups are entity-sized, the shuffle is the one
    entity-key exchange every per-entity operator pays).

    Output: one row per hull vertex (key, seq, lon, lat) with ``seq``
    assigned in (lon, lat) LEXICOGRAPHIC order — deliberately not ring
    order: the lex order compares the exact input doubles, so it is
    bit-reproducible cross-engine, while a centroid-angle ordering
    would hang the sequence on a float mean.  For points in general
    position (no exact 3-point collinearity — true of any real-world or
    hashed fixture) the vertex SET equals the strict hull, which is
    what the all-points-strictly-left SQL edge test (the oracle twin)
    computes.  Entities with < 3 points emit all their points.
    """
    import numpy as np
    import pandas as pd

    out_schema = f"{key} long, seq int, {lon} double, {lat} double"

    def hull_one(pdf: pd.DataFrame) -> pd.DataFrame:
        px = pdf[lon].to_numpy(np.float64)
        py = pdf[lat].to_numpy(np.float64)
        pts = np.unique(np.stack([px, py], axis=1), axis=0)  # lex-sorted
        n = len(pts)
        if n < 3:
            keep = pts
        else:
            def chain(p):
                h = []
                for q in p:
                    while len(h) >= 2 and (
                        (h[-1][0] - h[-2][0]) * (q[1] - h[-2][1])
                        - (h[-1][1] - h[-2][1]) * (q[0] - h[-2][0])
                    ) <= 0:
                        h.pop()
                    h.append((q[0], q[1]))
                return h
            lower = chain(pts)
            upper = chain(pts[::-1])
            ring = lower[:-1] + upper[:-1]
            keep = np.array(sorted(set(ring)))  # lex order, dedup
        return pd.DataFrame({
            key: pdf[key].iloc[0],
            "seq": np.arange(len(keep), dtype=np.int32),
            lon: keep[:, 0], lat: keep[:, 1],
        })

    return df.select(key, lon, lat).groupBy(key).applyInPandas(
        hull_one, schema=out_schema)
