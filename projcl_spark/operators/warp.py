"""The warp / raster↔vector re-gridding path (reference ops #18–27).

Re-expresses the reference's 8-step warp recipe
(``/root/reference/include/projcl/projcl_warp.h:30-82``, README example
``README.md:174-219``) as a DataFrame pipeline:

  grid → (affine) → project dst reverse → (datum shift) → project src
  forward → pixel coords → tiled gather (nearest/bilinear/bicubic/
  quasi-bicubic) → output raster rows

Scale shape: the only shuffle is the tap gather — taps are exploded with
their (tile_row, tile_col) key, joined against the tile table (broadcast
for small layers, shuffle equi-join otherwise), and re-aggregated by
destination pixel.  Everything is pure Spark column arithmetic
(whole-stage codegen); no Python runs per pixel.

Filter semantics follow the reference's tiled-array kernels exactly
(tap positions/weights from ``kernel/pl_sample_nearest.opencl:20-45``,
``pl_sample_linear.opencl:20-57``, ``pl_sample_bicubic.opencl:55-118``,
``pl_sample_quasi_bicubic.opencl:1-50``; Catmull-Rom basis
``kernel/peel.opencl:59-61``).  Border handling is selectable per call:
``border="clamp"`` (default) clamps out-of-mosaic taps to the edge for
ALL filters (the reference's bicubic CLAMP_TO_EDGE rule made uniform);
``border="zero"`` reads out-of-image taps as 0 — exact parity with the
reference's nearest/linear samplers (CLK_ADDRESS_CLAMP border color,
``pl_sample_nearest.opencl:2-18``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.params import ProjectionParams
from ..functions import affine2d_cols, project_udf

FILTERS = ("nearest", "bilinear", "bicubic", "quasi_bicubic")


# ------------------------------------------------------------------- grid ---


def grid_df(
    spark: SparkSession,
    width: int,
    height: int,
    origin_x: float,
    origin_y: float,
    size_x: float,
    size_y: float,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense point grid (reference op #18, ``kernel/pl_warp.opencl:4-17``):
    x = origin_x + size_x·col/(width−1), row-major (gi=row, gj=col).

    Degenerate 1-pixel axes collapse to the origin (linspace semantics);
    the unguarded division gave 0/0 = NaN for every row."""
    kw = {"numPartitions": num_partitions} if num_partitions else {}
    base = spark.range(0, width * height, 1, **kw).select(
        F.floor(F.col("id") / width).cast("int").alias("gi"),
        (F.col("id") % width).cast("int").alias("gj"),
    )
    return base.select(
        "gi", "gj",
        (F.lit(origin_x) + F.lit(size_x) * F.col("gj") / max(width - 1, 1)).alias("x"),
        (F.lit(origin_y) + F.lit(size_y) * F.col("gi") / max(height - 1, 1)).alias("y"),
    )


def affine_grid(grid: DataFrame, m: tuple[float, ...]) -> DataFrame:
    """2-D affine transform of grid coords (reference op #19)."""
    x, y = affine2d_cols(F.col("x"), F.col("y"), m)
    return grid.withColumn("_nx", x).withColumn("_ny", y).select(
        "gi", "gj", F.col("_nx").alias("x"), F.col("_ny").alias("y")
    )


def project_grid(
    grid: DataFrame, proj: str, params: ProjectionParams, direction: str = "forward"
) -> DataFrame:
    """Project grid coords in place (reference op #21) — forward maps
    (x=lon, y=lat) → meters; inverse the reverse."""
    udf = project_udf(proj, params, direction)
    out = grid.withColumn("_p", udf("x", "y"))
    a, b = ("x", "y") if direction == "forward" else ("lon", "lat")
    return out.select("gi", "gj", F.col(f"_p.{a}").alias("x"), F.col(f"_p.{b}").alias("y"))


# ------------------------------------------------------------- tap schemes ---


def _cubic_w(t: Column) -> list[Column]:
    """Catmull-Rom basis weights for samples at offsets −1..2
    (expansion of ``pl_interpolate_cubic4``, kernel/peel.opencl:59-61)."""
    return [
        0.5 * (-t + 2.0 * t * t - t * t * t),
        0.5 * (2.0 - 5.0 * t * t + 3.0 * t * t * t),
        0.5 * (t + 4.0 * t * t - 3.0 * t * t * t),
        0.5 * (-(t * t) + t * t * t),
    ]


def _linear_w(t: Column) -> list[Column]:
    """mix() weights at offsets 0..1."""
    return [1.0 - t, t]


def _taps(filter: str) -> list[tuple[int, int, str]]:
    """(dx, dy, weight-kind) tap layout per filter; base = floor(coord)."""
    if filter == "nearest":
        return [(0, 0, "one")]
    if filter == "bilinear":
        return [(dx, dy, "lin") for dy in (0, 1) for dx in (0, 1)]
    if filter == "bicubic":
        return [(dx, dy, "cub") for dy in (-1, 0, 1, 2) for dx in (-1, 0, 1, 2)]
    if filter == "quasi_bicubic":
        taps = []
        for dy in (-1, 2):  # rows A/D: linear across the two center columns
            taps += [(0, dy, "qlin"), (1, dy, "qlin")]
        for dy in (0, 1):  # rows B/C: full cubic
            taps += [(dx, dy, "cub") for dx in (-1, 0, 1, 2)]
        return taps
    raise ValueError(f"unknown filter {filter!r}; have {FILTERS}")


def sample_tiles(
    grid: DataFrame,
    tiles: DataFrame,
    tile_width: int,
    tile_height: int,
    tiles_across: int,
    tiles_down: int,
    filter: str = "bilinear",
    broadcast_tiles: bool = True,
    border: str = "clamp",
    channel_cols: tuple[str, ...] = ("pixels",),
) -> DataFrame:
    """Gather-join sampler over a tile mosaic (reference ops #22–26).

    ``grid`` rows carry source-image pixel coords in (x, y); returns
    (gi, gj, value).  Plan: per-destination tap explosion (1/4/12/16 rows)
    → derive (tile_row, tile_col, intra-tile offset) exactly like the
    reference's ``idx/size`` decomposition → equi-join the tile table →
    ``element_at`` gather → weighted re-aggregation by destination pixel.

    ``channel_cols`` selects the band array columns to sample — the
    reference reads ``float4`` RGBA per tap (``read_imagef``,
    kernel/pl_sample_nearest.opencl:15,40); here every band is gathered
    from the SAME joined tile row and re-aggregated with the same weights,
    so N channels cost N ``element_at`` gathers, not N joins.  With one
    channel the output column is ``value`` (back-compat); with N > 1 it is
    ``value_0 … value_{N-1}`` in ``channel_cols`` order.

    ``border`` controls taps that fall outside the mosaic:
    - ``"clamp"`` (default): clamp to the edge pixel — the reference's
      bicubic behavior (CLAMP_TO_EDGE) extended to all filters;
    - ``"zero"``: out-of-image taps read as 0 — exact parity with the
      reference's nearest/linear samplers (CLK_ADDRESS_CLAMP border color,
      kernel/pl_sample_nearest.opencl:2-18).  Implemented as a LEFT join
      (missing tile ⇒ null ⇒ 0) plus an in-image gate, so every
      destination pixel still emits a row.

    Sparse mosaics (``tiles`` lacks some (tile_row, tile_col) of the
    grid): a tap in a missing tile adds 0.  A destination pixel whose
    EVERY tap misses is path-dependent: the broadcast nearest/bilinear
    gather (``broadcast_tiles=True``) emits it with value 0; bicubic,
    quasi-bicubic and ``broadcast_tiles=False`` drop its row under
    ``border="clamp"`` and emit 0 under ``border="zero"``.
    """
    if filter not in FILTERS:
        raise ValueError(f"unknown filter {filter!r}; have {FILTERS}")
    if border not in ("clamp", "zero"):
        raise ValueError(f"unknown border {border!r}; have ('clamp', 'zero')")
    w_img, h_img = tiles_across * tile_width, tiles_down * tile_height

    if filter == "nearest":
        # tap = floor(coord + 0.5) (pl_sample_nearest.opencl:36-37)
        base_x = F.floor(F.col("x") + 0.5).cast("long")
        base_y = F.floor(F.col("y") + 0.5).cast("long")
        fx = fy = None
    else:
        base_x = F.floor(F.col("x")).cast("long")
        base_y = F.floor(F.col("y")).cast("long")
        fx = F.col("x") - base_x
        fy = F.col("y") - base_y

    tap_tuples = []
    for dx, dy, kind in _taps(filter):
        if kind == "one":
            w: Column = F.lit(1.0)
        elif kind == "lin":
            w = _linear_w(fx)[dx] * _linear_w(fy)[dy]
        elif kind == "cub":
            w = _cubic_w(fx)[dx + 1] * _cubic_w(fy)[dy + 1]
        else:  # qlin: linear in x across center cols, cubic row weight in y
            w = _linear_w(fx)[dx] * _cubic_w(fy)[dy + 1]
        if border == "clamp":
            px = F.least(F.greatest(base_x + dx, F.lit(0)), F.lit(w_img - 1))
            py = F.least(F.greatest(base_y + dy, F.lit(0)), F.lit(h_img - 1))
        else:
            px, py = base_x + dx, base_y + dy
        tap_tuples.append((px, py, w))

    n_ch = len(channel_cols)
    vnames = ["v"] if n_ch == 1 else [f"v_{i}" for i in range(n_ch)]
    onames = ["value"] if n_ch == 1 else [f"value_{i}" for i in range(n_ch)]

    if broadcast_tiles and filter in ("nearest", "bilinear"):
        # ZERO-exchange gather for the small-tap filters: instead of
        # exploding 1/4 rows per destination pixel, broadcast-joining,
        # and re-aggregating by (gi, gj) — a full shuffle of the tap
        # table — each tap probes its own broadcast hash join and the
        # weighted sum folds in ONE projection.  Taps are summed in the
        # same k-order the explode emitted them and each term is the
        # same w·v product, so the doubles are bit-identical to the
        # explode path below, which bicubic (16 taps = 16 broadcast
        # builds) keeps.
        cur = grid
        terms: list[list[Column]] = [[] for _ in range(n_ch)]
        for k, (px, py, w) in enumerate(tap_tuples):
            trow = F.floor(py / tile_height).cast("int")
            tcol = F.floor(px / tile_width).cast("int")
            oxk = F.least(F.greatest(px % tile_width, F.lit(0)),
                          F.lit(tile_width - 1))
            oyk = F.least(F.greatest(py % tile_height, F.lit(0)),
                          F.lit(tile_height - 1))
            idx = (oyk * tile_width + oxk + 1).cast("int")
            tk = tiles.select(
                F.col("tile_row").alias(f"_tr{k}"),
                F.col("tile_col").alias(f"_tc{k}"),
                *[F.col(ch).alias(f"_ch{k}_{i}")
                  for i, ch in enumerate(channel_cols)],
            )
            cur = cur.join(
                F.broadcast(tk),
                (trow == F.col(f"_tr{k}")) & (tcol == F.col(f"_tc{k}")),
                "left",
            )
            for i in range(n_ch):
                g = F.element_at(F.col(f"_ch{k}_{i}"), idx)
                if border == "zero":
                    in_img = (
                        (px >= 0) & (px < w_img) & (py >= 0) & (py < h_img)
                    )
                    v = F.when(in_img, F.coalesce(g, F.lit(0.0))) \
                        .otherwise(F.lit(0.0))
                    terms[i].append(w * v)
                else:
                    terms[i].append(F.coalesce(w * g, F.lit(0.0)))
        outs = []
        for i, o in enumerate(onames):
            acc = terms[i][0]
            for t_ in terms[i][1:]:
                acc = acc + t_
            outs.append(acc.alias(o))
        out = cur.select("gi", "gj", *outs)
        return out

    tap_cols = [F.struct(px.alias("px"), py.alias("py"), w.alias("w"))
                for px, py, w in tap_tuples]

    # intra-tile offsets clamped into [0, dim) so the element_at index is
    # always legal even for out-of-image taps (border="zero" gates them out)
    ox = F.least(F.greatest(F.col("t.px") % tile_width, F.lit(0)), F.lit(tile_width - 1))
    oy = F.least(F.greatest(F.col("t.py") % tile_height, F.lit(0)), F.lit(tile_height - 1))
    taps = grid.select(
        "gi", "gj", F.explode(F.array(*tap_cols)).alias("t")
    ).select(
        "gi", "gj",
        F.col("t.px").alias("px"), F.col("t.py").alias("py"), F.col("t.w").alias("w"),
        F.floor(F.col("t.py") / tile_height).cast("int").alias("tile_row"),
        F.floor(F.col("t.px") / tile_width).cast("int").alias("tile_col"),
        ox.alias("ox"), oy.alias("oy"),
    )
    t = F.broadcast(tiles) if broadcast_tiles else tiles
    idx = (F.col("oy") * tile_width + F.col("ox") + 1).cast("int")
    gathers = [F.element_at(ch, idx) for ch in channel_cols]
    if border == "zero":
        in_img = (
            (F.col("px") >= 0) & (F.col("px") < w_img)
            & (F.col("py") >= 0) & (F.col("py") < h_img)
        )
        joined = taps.join(t, ["tile_row", "tile_col"], "left").select(
            "gi", "gj", "w",
            *[F.when(in_img, F.coalesce(g, F.lit(0.0))).otherwise(F.lit(0.0)).alias(v)
              for g, v in zip(gathers, vnames)],
        )
    else:
        joined = taps.join(t, ["tile_row", "tile_col"], "inner").select(
            "gi", "gj", "w", *[g.alias(v) for g, v in zip(gathers, vnames)],
        )
    out = joined.groupBy("gi", "gj").agg(
        *[F.sum(F.col("w") * F.col(v)).alias(o) for v, o in zip(vnames, onames)]
    )
    if filter in ("bicubic", "quasi_bicubic"):
        # final clamp to [0,255] per channel (pl_sample_bicubic.opencl:49-53)
        for o in onames:
            out = out.withColumn(
                o, F.least(F.greatest(F.col(o), F.lit(0.0)), F.lit(255.0))
            )
    return out


def assemble_tiles(
    pixels: DataFrame,
    tile_width: int,
    tile_height: int,
    tiles_across: int,
    value_col: str = "value",
    value_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Inverse of the sampling direction: destination pixel rows
    (gi, gj, value[, …]) → a tile table (the reference's output side is
    ``clEnqueueReadImage`` into a host image, ``src/projcl_warp.c:367,429``;
    ours is a tile-row sink, completing raster↔vector in BOTH directions).

    Pixels land in row-major order inside each tile via an explicit
    positional sort (``array_sort`` on (pos, value…) structs) —
    deterministic at any parallelism.  Missing pixels are an error by
    contract (the caller warps a full grid); tile dims must divide the
    grid.

    ``value_cols`` assembles N channels in one pass (e.g. the
    ``value_0…value_3`` output of an RGBA ``sample_tiles``): every channel
    rides in the same sorted struct, and the output carries band columns
    ``pixels``, ``pixels_1``, … matching the ``tiles_df`` layout, so a
    sample → assemble round-trip is schema-closed."""
    if value_cols is None:
        value_cols = (value_col,)
    pos = (F.col("gi") % tile_height) * tile_width + (F.col("gj") % tile_width)
    pv = F.struct(
        pos.cast("int").alias("pos"),
        *[F.col(c).alias(f"v{i}") for i, c in enumerate(value_cols)],
    )
    keyed = pixels.select(
        F.floor(F.col("gi") / tile_height).cast("int").alias("tile_row"),
        F.floor(F.col("gj") / tile_width).cast("int").alias("tile_col"),
        pv.alias("pv"),
    )
    bands = [
        F.expr(f"transform(pvs, s -> s.v{i})").alias(
            "pixels" if i == 0 else f"pixels_{i}"
        )
        for i in range(len(value_cols))
    ]
    return (
        keyed.groupBy("tile_row", "tile_col")
        .agg(F.array_sort(F.collect_list("pv")).alias("pvs"))
        .select(
            (F.col("tile_row") * tiles_across + F.col("tile_col")).cast("long").alias("tile_id"),
            "tile_row", "tile_col",
            F.lit(tile_width).alias("width"),
            F.lit(tile_height).alias("height"),
            *bands,
        )
    )


# ---------------------------------------------------------------- pipeline ---


def warp(
    spark: SparkSession,
    tiles: DataFrame,
    dst_width: int,
    dst_height: int,
    dst_bounds: tuple[float, float, float, float],
    dst_proj: str,
    dst_params: ProjectionParams,
    src_proj: str,
    src_params: ProjectionParams,
    src_origin: tuple[float, float],
    src_pixel_size: tuple[float, float],
    tile_width: int,
    tile_height: int,
    tiles_across: int,
    tiles_down: int,
    filter: str = "bilinear",
    datum_shift_udf=None,
    num_partitions: int | None = None,
    border: str = "clamp",
    channel_cols: tuple[str, ...] = ("pixels",),
) -> DataFrame:
    """Full warp recipe (reference op #27, projcl_warp.h:30-82):

    1. generate dst grid in dst projected coords;
    2. project REVERSE through dst projection → geodetic;
    3. optional datum shift;
    4. project FORWARD through src projection → src meters;
    5. src meters → src pixel coords (affine);
    6. sample the tile mosaic.
    """
    x0, y0, x1, y1 = dst_bounds
    g = grid_df(spark, dst_width, dst_height, x0, y0, x1 - x0, y1 - y0,
                num_partitions=num_partitions)
    g = project_grid(g, dst_proj, dst_params, "inverse")
    if datum_shift_udf is not None:
        g = g.withColumn("_s", datum_shift_udf("x", "y")).select(
            "gi", "gj", F.col("_s.lon").alias("x"), F.col("_s.lat").alias("y")
        )
    g = project_grid(g, src_proj, src_params, "forward")
    ox, oy = src_origin
    sx, sy = src_pixel_size
    g = g.select(
        "gi", "gj",
        ((F.col("x") - ox) / sx).alias("x"),
        ((F.col("y") - oy) / sy).alias("y"),
    )
    return sample_tiles(g, tiles, tile_width, tile_height, tiles_across,
                        tiles_down, filter=filter, border=border,
                        channel_cols=channel_cols)
