"""k-nearest-neighbors by geodesic distance — cell-pruned (engine-added).

Replaces the reference's all-pairs distance matrix
(``pl_inverse_geodesic_s``, a 2-D NDRange cross product) with the
scale-correct plan: candidates are pruned to the query's cell ring before
any distance is computed, so the join is an equi-join on ``cell_id``
(shuffle-partitionable, AQE-skew-splittable) instead of a cross product.

Distance = haversine as a pure column expression (JVM codegen), or Vincenty
(pandas UDF) for ellipsoidal accuracy.  Top-k via window rank with a
deterministic (distance, id) tie-break — exact-match reproducible across
parallelism levels (north rule §4.2 determinism).

Correctness condition for ring pruning: the true k-th neighbor must lie
within ``ring`` cells of the query's cell.  Callers choose (res, ring) from
data density; ``knn_bruteforce`` is the oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import oracle
from ..functions import EARTH_RADIUS_SPHERE, vincenty_udf
from ..index.cells import cell_id_sql, cell_xy_col, ring_cells_sql

# plan building: each of these is ONE parsed SQL expression (one py4j call)
# instead of a tree of Column operators (~10 py4j calls per operator)
_HAVERSINE = oracle.haversine("q_lon", "q_lat", "lon", "lat", radius=EARTH_RADIUS_SPHERE)


def _cells(res: int) -> Column:
    return F.expr(cell_id_sql("lon", "lat", res))


def _query_ring(res: int, ring: int) -> Column:
    """The query point's cell ring, exploded: one row per candidate cell."""
    return F.expr(f"explode({ring_cells_sql(cell_id_sql('q_lon', 'q_lat', res), res, ring)})")


def _dist(metric: str, spheroid=None):
    if metric == "haversine":
        return lambda: F.expr(_HAVERSINE)
    if metric == "vincenty":
        udf = vincenty_udf(spheroid) if spheroid is not None else vincenty_udf()
        return lambda: udf(F.col("q_lon"), F.col("q_lat"), F.col("lon"), F.col("lat"))
    raise ValueError(f"unknown metric {metric!r}")


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    res: int = 6,
    ring: int = 1,
    metric: str = "haversine",
    query_id: str = "query_id",
    point_id: str = "doc_id",
    spheroid=None,
) -> DataFrame:
    """queries(query_id, q_lon, q_lat) × points(point_id, lon, lat) → top-k.

    ``spheroid`` selects the Vincenty ellipsoid (default WGS-84); ignored
    for the haversine metric.

    Plan shape: queries explode their cell ring (small multiplier,
    (2·ring+1)²) → equi-join points on cell_id → windowed top-k.  The big
    point side is scanned once and shuffled on cell_id only.
    """
    q = queries.withColumn("cell_id", _query_ring(res, ring))
    p = points.withColumn("cell_id", _cells(res))
    cand = q.join(p, "cell_id", "inner").withColumn("dist_m", _dist(metric, spheroid)())
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col(point_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("cell_id")
    )


R_SPHERE = EARTH_RADIUS_SPHERE  # authalic sphere radius — single source of truth


def _window_angle_col(q_lon, q_lat, res: int, ring: int, lat_map=None):
    """Conservative lower bound (RADIANS of central angle) from a query
    point to anything OUTSIDE its (2·ring+1)² cell window, on the sphere
    whose latitude coordinate is ``lat_map(geodetic_lat_deg)`` (identity →
    the plain sphere; geocentric conversion → the certificate sphere for
    the ellipsoidal bound, see ``_safe_radius_vincenty_col``).

    A point p outside the window either has (mapped) latitude outside the
    band — central angle ≥ the meridional margin |ψ_edge − ψ_q| (the
    haversine's Δφ term alone) — or sits in the band beyond a lon edge:
    angle ≥ 2·asin(√(cos ψq · cos ψ*) · sin(Δλ/2)) with cos ψ* the
    MINIMUM cosine over the band (dropping the always-positive Δφ term of
    the haversine can only shrink it).  An earlier linearized bound
    Δλ·cos ψ* OVERestimated (asin ≤ its argument scaled), which could
    falsely certify an inexact result.  ``lat_map`` must be monotone so
    "outside the geodetic window ⇒ outside the mapped window" holds.

    The window WRAPS in longitude (matching ``ring_cells_sql``): the edge
    margins Δλ_e = lon_hi − λq and Δλ_w = λq − lon_lo stay valid across
    the antimeridian because the haversine's longitude term sin²(Δλ/2) is
    2π-periodic and symmetric — a point just beyond the east edge at raw
    separation Δλ > 180° sits at wrapped separation 360° − Δλ, and
    sin((360°−Δλ)/2) = sin(Δλ/2), so the per-edge formula already equals
    the wrapped-angle value.  When the window laps the whole globe
    (2·ring+1 ≥ 2^res) there IS no lon edge: the lon bounds drop out
    (only the lat margins constrain).

    Windows that TOUCH a pole get angle 0 (→ the query always escalates
    to brute force): near a pole the closest outside point can lie ACROSS
    the pole, which no lat/lon edge margin bounds — an earlier "edge ⇒ no
    escape that way (∞)" treatment silently certified WRONG results there
    (it also drove cos through sqrt(negative)=NaN, which Spark's
    greatest/least clamp launders into an asin(1) bound).  At res ≥ 4
    pole-adjacent queries are a vanishing fraction of the grid.
    """
    n = 1 << res
    w_lon, w_lat = 360.0 / n, 180.0 / n
    ix, iy = cell_xy_col(q_lon, q_lat, res)
    lon_lo = (ix - ring) * w_lon - 180.0   # may extend past ±180: wraps
    lon_hi = (ix + ring + 1) * w_lon - 180.0
    lat_lo = (iy - ring) * w_lat - 90.0
    lat_hi = (iy + ring + 1) * w_lat - 90.0
    touches_pole = (lat_hi >= 90.0) | (lat_lo <= -90.0)
    if lat_map is not None:
        lat_lo_m, lat_hi_m, q_lat_m = lat_map(lat_lo), lat_map(lat_hi), lat_map(q_lat)
    else:
        lat_lo_m, lat_hi_m, q_lat_m = lat_lo, lat_hi, q_lat
    # inside the pole guard |lat_lo|,|lat_hi| ≤ 90 → cosines ≥ 0, no NaN
    cos_min = F.least(
        F.cos(F.radians(F.greatest(F.abs(lat_lo_m), F.abs(lat_hi_m)))),
        F.cos(F.radians(q_lat_m)),
    )

    def lon_edge(delta_deg):
        half = F.radians(delta_deg) / 2.0
        arg = F.sqrt(F.cos(F.radians(q_lat_m)) * cos_min) * F.sin(half)
        return 2.0 * F.asin(F.least(F.greatest(arg, F.lit(0.0)), F.lit(1.0)))

    a_n = F.radians(lat_hi_m - q_lat_m)
    a_s = F.radians(q_lat_m - lat_lo_m)
    if 2 * ring + 1 >= n:
        # window laps the globe in lon — nothing is "beyond a lon edge"
        angle = F.least(a_n, a_s)
    else:
        angle = F.least(a_n, a_s, lon_edge(lon_hi - q_lon),
                        lon_edge(q_lon - lon_lo))
    return F.when(touches_pole, F.lit(0.0)).otherwise(angle)


def _safe_radius_col(q_lon, q_lat, res: int, ring: int):
    """Lower bound (meters) on the HAVERSINE distance from a query point to
    anything outside its window: R · (central-angle bound)."""
    return R_SPHERE * _window_angle_col(q_lon, q_lat, res, ring)


def _safe_radius_vincenty_col(q_lon, q_lat, res: int, ring: int,
                              spheroid=None):
    """Lower bound (meters) on the ELLIPSOIDAL (Vincenty) distance from a
    query point to anything outside its window.

    Chain of inequalities, each direction-safe for a certificate (can
    under- but never over-state the true distance):

    1. the surface geodesic is ≥ the 3-D chord |P1 − P2|;
    2. with both geocentric radii in [b, a] and geocentric central angle
       θ:  chord² = (r1 − r2·cos θ)² + r2²·sin²θ ≥ b²·sin²θ, so
       chord ≥ b·sin θ (θ ≤ 90°; larger margins are clamped to 90°);
    3. θ ≥ the window's central-angle bound computed in GEOCENTRIC
       latitude space (tan ψ = (1−f)²·tan φ is strictly monotone, so a
       point outside the geodetic lat/lon window is outside the geocentric
       one; longitudes are shared between the spaces).

    Hence V_safe = b · sin(min(θ_bound, π/2)).  Near-antipodal pairs where
    ``vincenty_inverse`` falls back to its haversine estimate are
    irrelevant here: the certificate only compares k-th NEAREST distances
    (small, converged) against this bound.
    """
    import math

    from ..core.spheroid import Spheroid, get_spheroid_info

    info = get_spheroid_info(spheroid if spheroid is not None else Spheroid.WGS_84)
    b = info.minor_axis
    one_mf2 = (1.0 - info.flattening) ** 2

    def geocentric(phi_deg):
        rad = F.radians(phi_deg)
        return F.degrees(F.atan2(one_mf2 * F.sin(rad), F.cos(rad)))

    ang = _window_angle_col(q_lon, q_lat, res, ring, lat_map=geocentric)
    return b * F.sin(F.least(ang, F.lit(math.pi / 2.0)))


def _pruned_and_uncertified(queries, points, k, res, ring, metric,
                            query_id, point_id, spheroid):
    """(pruned top-k, uncertified query rows) — the certificate step of
    ``knn_join_exact``, separated so tests can assert directly on the
    escalation set (e.g. antimeridian windows certify, pole windows
    escalate).  ``pruned`` comes back persisted; the caller unpersists."""
    if metric == "haversine":
        safe = _safe_radius_col(F.col("q_lon"), F.col("q_lat"), res, ring)
    elif metric == "vincenty":
        safe = _safe_radius_vincenty_col(F.col("q_lon"), F.col("q_lat"), res, ring,
                                         spheroid=spheroid)
    else:
        raise ValueError(f"knn_join_exact: unknown metric {metric!r}")
    # top-k per query is tiny — persist so the expensive pruned plan runs
    # once, not once per downstream consumer (bad.count + good join)
    pruned = knn_join(queries, points, k, res, ring, metric, query_id, point_id,
                      spheroid=spheroid).persist()
    per_q = pruned.groupBy(query_id).agg(
        F.max("dist_m").alias("_kth"), F.count("*").alias("_nf")
    )
    qx = queries.join(per_q, query_id, "left").withColumn("_safe", safe)
    bad = qx.filter(
        F.col("_nf").isNull() | (F.col("_nf") < k) | (F.col("_kth") >= F.col("_safe"))
    ).select(queries.columns)
    return pruned, bad


def knn_join_exact(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    res: int = 6,
    ring: int = 1,
    metric: str = "haversine",
    query_id: str = "query_id",
    point_id: str = "doc_id",
    spheroid=None,
) -> DataFrame:
    """Exact kNN at any density: pruned pass + provable escalation.

    Runs the cell-pruned ``knn_join``; a query's result is accepted only if
    it found k candidates AND its k-th distance is strictly inside the
    window's safe radius (so nothing outside the window can beat it).
    The (few) unproven queries re-run against the full corpus.  At healthy
    (res, ring) for the data density the escalation set is empty and the
    extra cost is one tiny aggregate.

    ``metric="haversine"`` certifies against the spherical window bound;
    ``metric="vincenty"`` against the ellipsoidal chord bound
    (``_safe_radius_vincenty_col`` — geocentric-latitude window angle →
    b·sin θ, conservative in every step), so ellipsoidal kNN gets the same
    provable escalation.
    """
    pruned, bad = _pruned_and_uncertified(
        queries, points, k, res, ring, metric, query_id, point_id, spheroid
    )
    bad_rows = bad.count()  # driver decision: escalation set is tiny by design
    good = pruned.join(
        bad.select(query_id), query_id, "left_anti"
    )
    # the cache served the certificate's dual consumption (per-query agg +
    # escalation count); release it now or every call leaks cached blocks
    # for the session's lifetime.  The returned plan recomputes the pruned
    # join at most once when the caller materializes it.
    pruned.unpersist(blocking=False)
    if bad_rows == 0:
        return good
    rescued = knn_bruteforce(bad, points, k, metric, query_id, point_id, spheroid)
    return good.unionByName(rescued.select(good.columns))


def dwithin_join(
    queries: DataFrame,
    points: DataFrame,
    radius_m: float,
    res: int = 6,
    ring: int = 1,
    metric: str = "haversine",
    point_id: str = "doc_id",
    spheroid=None,
) -> DataFrame:
    """All (query, point) pairs within ``radius_m`` geodesic meters — exact.

    The distance-within spatial join (the set-returning sibling of
    ``knn_join_exact``; the reference exposes only the all-pairs distance
    matrix ``pl_inverse_geodesic_s``, kernel/pl_geodesic.opencl:31-59, from
    which a user would filter — here the filter IS the join, cell-pruned).

    Certificate (query-only, no result inspection needed): if the window's
    safe radius (``_safe_radius_col`` — a lower bound on the distance to
    anything OUTSIDE the (2·ring+1)² cell window) strictly exceeds
    ``radius_m``, the whole radius disk lies inside the window, so the cell
    equi-join finds every qualifying point.  Queries that fail the
    certificate (pole-adjacent windows where the bound is 0, or a ring too
    small for the radius at that latitude) escalate to a brute-force scan.
    Callers size ``ring ≥ radius / (ring-1 cell height at res)`` so the
    escalation set is empty away from the poles.

    Scale shape: the big point side is scanned once, shuffled on cell_id
    only; the query side multiplies by (2·ring+1)².  The brute branch is
    gated on a driver count over the (small) query side — zero extra point
    scans when everything certifies.
    """
    if metric == "haversine":
        safe = _safe_radius_col(F.col("q_lon"), F.col("q_lat"), res, ring)
    elif metric == "vincenty":
        safe = _safe_radius_vincenty_col(F.col("q_lon"), F.col("q_lat"), res,
                                         ring, spheroid=spheroid)
    else:
        raise ValueError(f"dwithin_join: unknown metric {metric!r}")
    r = float(radius_m)
    qx = queries.withColumn("_safe", safe)
    good_q = qx.filter(F.lit(r) < F.col("_safe")).drop("_safe")
    bad_q = qx.filter(~(F.lit(r) < F.col("_safe"))).drop("_safe")
    p = points.withColumn("cell_id", _cells(res))
    cand = (
        good_q.withColumn("cell_id", _query_ring(res, ring))
        .join(p, "cell_id", "inner")
        .withColumn("dist_m", _dist(metric, spheroid)())
        .filter(F.col("dist_m") <= r)
        .drop("cell_id")
    )
    # certificate is a pure function of the query row → deciding the brute
    # branch costs one count over the SMALL query side, never a point scan
    if bad_q.count() == 0:
        return cand
    rescued = (
        bad_q.crossJoin(points)
        .withColumn("dist_m", _dist(metric, spheroid)())
        .filter(F.col("dist_m") <= r)
    )
    return cand.unionByName(rescued.select(cand.columns))


def knn_bruteforce(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    metric: str = "haversine",
    query_id: str = "query_id",
    point_id: str = "doc_id",
    spheroid=None,
) -> DataFrame:
    """Exact kNN via cross join — the oracle twin (small inputs only)."""
    cand = queries.crossJoin(points).withColumn("dist_m", _dist(metric, spheroid)())
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col(point_id).asc())
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
