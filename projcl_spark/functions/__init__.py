"""Spark-facing function surface: Arrow-batched pandas UDFs + pure columns.

Design rule (input hint: "no per-row Python"): everything expressible with
built-in ``pyspark.sql.functions`` is a pure Column (JVM whole-stage codegen
— haversine, cell ids, affine grid transforms); the projection/datum math
with iterative inverses runs as **scalar pandas UDFs** over Arrow batches —
the same SoA-vector shape as the reference's float8 kernels, with the
projection constants folded into the UDF closure on the driver (mirroring
the reference's host precompute, e.g. ``src/projcl_run.c:318-361``).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..core.params import ProjectionParams
from ..core.spheroid import Spheroid, get_spheroid_info
from ..geo import datum as datum_mod
from ..geo import geodesic as geod
from ..proj import get_transform

XY_SCHEMA = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
LONLAT_SCHEMA = StructType([StructField("lon", DoubleType()), StructField("lat", DoubleType())])


def project_udf(proj: str, params: ProjectionParams, direction: str = "forward"):
    """pandas UDF (a, b) → struct — forward: (lon,lat)→(x,y) meters.

    Null/NaN coordinates project to null (Spark-idiomatic; the reference has
    no null concept).
    """
    fn = get_transform(proj, params, direction)
    out_schema = XY_SCHEMA if direction == "forward" else LONLAT_SCHEMA
    c0, c1 = out_schema.fieldNames()

    @F.pandas_udf(out_schema)
    def _project(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        av = a.to_numpy(dtype=np.float64, na_value=np.nan)
        bv = b.to_numpy(dtype=np.float64, na_value=np.nan)
        ra, rb = fn(av, bv)
        return pd.DataFrame({c0: ra, c1: rb})

    return _project


def project_fwd_cols(proj: str, params: ProjectionParams,
                     lon: str = "lon", lat: str = "lat") -> tuple[Column, Column]:
    """FORWARD projection as pure JVM column expressions (whole-stage
    codegen — zero Python in the hot path).

    Every reference forward is closed-form, so this path exists for all 9
    projections; the pandas-UDF path (``project_udf``) remains for the
    iterative inverses and for float32 parity mode.  Generated from the
    same constant-folded transliteration the DuckDB oracles use
    (``oracle.fwd_xy_sql``) — one source of truth, three consumers.
    """
    from .. import oracle as _o

    x, y = _o.fwd_xy_sql(proj, params, lon=lon, lat=lat, dialect="spark")
    return F.expr(x).alias("x"), F.expr(y).alias("y")


def datum_shift_cols(df, src, dst):
    """Composed datum shift as pure JVM column expressions (codegen fast
    path; see ``oracle.datum_shift_stages_sql`` — one transliteration feeds
    this AND the DuckDB oracle).  Requires ``lon``/``lat`` input columns;
    appends ``dlon``/``dlat``."""
    from .. import oracle as _o

    # stage names are shared with the DuckDB oracle CTEs, so they cannot
    # be namespaced away — reject collisions up front instead of letting
    # the second stage die on an ambiguous-reference AnalysisException
    # (or drop() silently eat a user column at the end)
    reserved = {"ex", "ey", "ez", "tx", "ty", "tz", "dlon", "dlat"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"datum_shift_cols reserves intermediate column names "
            f"{sorted(reserved)}; rename input columns {sorted(clash)}")
    out = df
    for _, stage in _o.datum_shift_stages_sql(src, dst):
        out = out.select(
            "*", *[F.expr(sql).alias(name) for name, sql in stage.items()]
        )
    return out.drop("ex", "ey", "ez", "tx", "ty", "tz")


def datum_shift_udf(
    src: datum_mod.Datum,
    dst: datum_mod.Datum,
    src_spheroid: Spheroid | None = None,
    dst_spheroid: Spheroid | None = None,
):
    """Fused datum-shift pandas UDF: (lon, lat) → struct<lon, lat>."""

    @F.pandas_udf(LONLAT_SCHEMA)
    def _shift(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        lo, la = datum_mod.shift_datum(
            lon.to_numpy(np.float64, na_value=np.nan),
            lat.to_numpy(np.float64, na_value=np.nan),
            src, dst, src_spheroid, dst_spheroid,
        )
        return pd.DataFrame({"lon": lo, "lat": la})

    return _shift


def spherical_direct_udf(distance_m: float | None):
    """Forward geodesic on the authalic sphere.

    ``distance_m`` set → fixed-distance form, UDF(lon, lat, azimuth_deg)
    (reference op #11, ``kernel/pl_geodesic.opencl:61-92``).
    ``distance_m=None`` → per-row distances, UDF(lon, lat, azimuth_deg,
    dist_m) (covers the fixed-angle form, op #12, ``:94-122``)."""

    if distance_m is not None:

        @F.pandas_udf(LONLAT_SCHEMA)
        def _direct_fixed(lon: pd.Series, lat: pd.Series, az: pd.Series) -> pd.DataFrame:
            lo, la = geod.spherical_direct(
                lon.to_numpy(np.float64, na_value=np.nan),
                lat.to_numpy(np.float64, na_value=np.nan),
                az.to_numpy(np.float64, na_value=np.nan),
                distance_m,
            )
            return pd.DataFrame({"lon": lo, "lat": la})

        return _direct_fixed

    @F.pandas_udf(LONLAT_SCHEMA)
    def _direct(lon: pd.Series, lat: pd.Series, az: pd.Series, dist: pd.Series) -> pd.DataFrame:
        lo, la = geod.spherical_direct(
            lon.to_numpy(np.float64, na_value=np.nan),
            lat.to_numpy(np.float64, na_value=np.nan),
            az.to_numpy(np.float64, na_value=np.nan),
            dist.to_numpy(np.float64, na_value=np.nan),
        )
        return pd.DataFrame({"lon": lo, "lat": la})

    return _direct


def vincenty_direct_udf(distance_m: float, spheroid: Spheroid = Spheroid.WGS_84):
    """Ellipsoidal direct problem (Vincenty) at a fixed distance:
    UDF(lon, lat, azimuth_deg) → (lon2, lat2)."""

    @F.pandas_udf(LONLAT_SCHEMA)
    def _vdirect(lon: pd.Series, lat: pd.Series, az: pd.Series) -> pd.DataFrame:
        lo, la = geod.vincenty_direct(
            lon.to_numpy(np.float64, na_value=np.nan),
            lat.to_numpy(np.float64, na_value=np.nan),
            az.to_numpy(np.float64, na_value=np.nan),
            distance_m, spheroid,
        )
        return pd.DataFrame({"lon": lo, "lat": la})

    return _vdirect


def vincenty_udf(spheroid: Spheroid = Spheroid.WGS_84):
    """Ellipsoidal geodesic distance (m) as a pandas UDF (4 cols → double)."""

    @F.pandas_udf(DoubleType())
    def _vdist(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        d, _ = geod.vincenty_inverse(
            lon1.to_numpy(np.float64), lat1.to_numpy(np.float64),
            lon2.to_numpy(np.float64), lat2.to_numpy(np.float64), spheroid,
        )
        return pd.Series(d)

    return _vdist


# ---------------------------------------------------------- pure columns ----

EARTH_RADIUS_SPHERE = get_spheroid_info(Spheroid.SPHERE).major_axis


def haversine_col(lon1, lat1, lon2, lat2, radius: float = EARTH_RADIUS_SPHERE) -> Column:
    """Great-circle distance (m) as a pure column expression (JVM codegen).

    Same formula as ``pl_inverse_geodesic_s`` (kernel/pl_geodesic.opencl:31-59).
    """
    rl1, rl2 = F.radians(lat1), F.radians(lat2)
    shp = F.sin((rl2 - rl1) / 2)
    shl = F.sin((F.radians(lon2) - F.radians(lon1)) / 2)
    h = shp * shp + F.cos(rl1) * F.cos(rl2) * shl * shl
    return F.lit(2.0 * radius) * F.asin(F.sqrt(F.least(F.greatest(h, F.lit(0.0)), F.lit(1.0))))


def affine2d_cols(x, y, m: tuple[float, float, float, float, float, float]) -> tuple[Column, Column]:
    """2-D affine grid transform as pure columns.

    Mirrors ``pl_cartesian_apply_affine_transform_2d``
    (kernel/pl_warp.opencl:19-31): x' = m0·x+m1·y+m2, y' = m3·x+m4·y+m5.
    """
    return (
        (F.lit(m[0]) * x + F.lit(m[1]) * y + F.lit(m[2])).alias("x"),
        (F.lit(m[3]) * x + F.lit(m[4]) * y + F.lit(m[5])).alias("y"),
    )


def utm_inverse_udf():
    """pandas UDF (zone, easting, northing_ell) → (lon, lat) for WGS-84
    UTM — the inverse of ``oracle.utm_stages``.  ``northing_ell`` is the
    UNFOLDED northing (southern-hemisphere rows minus the 10 000 km
    false northing; the caller knows the hemisphere it encoded).

    One Arrow batch carries many zones: rows are inverted per distinct
    zone (≤ 60 groups) through the same Krüger order-4 ladder + Newton
    step as every fixed-meridian inverse (``proj.transverse_mercator.
    inverse``), so the math is the module's, not a re-derivation.
    """
    import numpy as np
    import pandas as pd

    from ..core.params import ProjectionParams
    from ..core.spheroid import Spheroid
    from ..proj import transverse_mercator as _tm

    @F.pandas_udf(LONLAT_SCHEMA)
    def _utm_inv(zone: pd.Series, x: pd.Series, y: pd.Series) -> pd.DataFrame:
        zv = zone.to_numpy(dtype=np.int64, na_value=0)
        xv = x.to_numpy(dtype=np.float64, na_value=np.nan)
        yv = y.to_numpy(dtype=np.float64, na_value=np.nan)
        lon = np.full_like(xv, np.nan)
        lat = np.full_like(yv, np.nan)
        for z in np.unique(zv):
            m = zv == z
            p = ProjectionParams(spheroid=Spheroid.WGS_84, scale=0.9996,
                                 lon0=float(z) * 6.0 - 183.0, x0=500000.0)
            C = _tm.prepare(p)
            lon[m], lat[m] = _tm.inverse(xv[m], yv[m], C)
        return pd.DataFrame({"lon": lon, "lat": lat})

    return _utm_inv
