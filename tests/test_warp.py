"""Warp-path unit tests (grid gen, affine, samplers vs direct numpy)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from projcl_spark.operators.warp import affine_grid, grid_df, sample_tiles
from projcl_spark.sources.synth import tiles_df


def test_grid_linspace_semantics(spark):
    """x = origin + size·j/(n−1) exactly (pl_warp.opencl:15-16)."""
    g = grid_df(spark, 5, 3, 10.0, -4.0, 8.0, 6.0).toPandas().sort_values(["gi", "gj"])
    assert len(g) == 15
    np.testing.assert_allclose(
        g[g.gi == 0]["x"].to_numpy(), 10.0 + 8.0 * np.arange(5) / 4.0, rtol=0
    )
    np.testing.assert_allclose(
        g[g.gj == 0]["y"].to_numpy(), -4.0 + 6.0 * np.arange(3) / 2.0, rtol=0
    )


def test_affine_grid(spark):
    g = grid_df(spark, 3, 2, 0.0, 0.0, 2.0, 1.0)
    m = (2.0, 0.5, 10.0, -1.0, 3.0, 5.0)
    out = affine_grid(g, m).toPandas().sort_values(["gi", "gj"])
    src = g.toPandas().sort_values(["gi", "gj"])
    np.testing.assert_allclose(out["x"], 2.0 * src["x"] + 0.5 * src["y"] + 10.0)
    np.testing.assert_allclose(out["y"], -1.0 * src["x"] + 3.0 * src["y"] + 5.0)


def test_nearest_sampler_exact_pixels(spark):
    """Integer coords hit the pixel exactly; sum of all values matches a
    direct numpy evaluation of the analytic pixel function."""
    tiles = tiles_df(spark, 2, 2, 8, 8)
    g = grid_df(spark, 4, 4, 0.0, 0.0, 12.0, 12.0)  # integer coords 0,4,8,12
    out = sample_tiles(g, tiles, 8, 8, 2, 2, filter="nearest").toPandas()
    pix = {(r.gi, r.gj): r.value for r in out.itertuples()}
    import hashlib

    def pixel(px, py):
        h = int(hashlib.md5(f"px:{px}:{py}".encode()).hexdigest()[:15], 16)
        return (px * 3 + py * 7 + h % 32) % 256

    for gi in range(4):
        for gj in range(4):
            px, py = min(gj * 4, 15), min(gi * 4, 15)
            assert pix[(gi, gj)] == pixel(px, py), (gi, gj)


def test_bilinear_interpolates_between_pixels(spark):
    """At half-pixel offsets the result is the mean of the 4 neighbors."""
    tiles = tiles_df(spark, 2, 2, 8, 8)
    g = spark.createDataFrame([(0, 0, 3.5, 5.5)], "gi int, gj int, x double, y double")
    out = sample_tiles(g, tiles, 8, 8, 2, 2, filter="bilinear").toPandas()
    import hashlib

    def pixel(px, py):
        h = int(hashlib.md5(f"px:{px}:{py}".encode()).hexdigest()[:15], 16)
        return (px * 3 + py * 7 + h % 32) % 256

    expect = np.mean([pixel(3, 5), pixel(4, 5), pixel(3, 6), pixel(4, 6)])
    assert abs(out["value"][0] - expect) < 1e-9


def test_bicubic_reproduces_at_nodes(spark):
    """Catmull-Rom interpolates through the data: at integer coords the
    result equals the pixel value (within clamp range)."""
    tiles = tiles_df(spark, 2, 2, 8, 8)
    g = spark.createDataFrame([(0, 0, 5.0, 6.0)], "gi int, gj int, x double, y double")
    out = sample_tiles(g, tiles, 8, 8, 2, 2, filter="bicubic").toPandas()
    import hashlib

    h = int(hashlib.md5(b"px:5:6").hexdigest()[:15], 16)
    expect = (5 * 3 + 6 * 7 + h % 32) % 256
    assert abs(out["value"][0] - expect) < 1e-9


def test_sparse_mosaic_pixel_with_every_tap_missing(spark):
    """Pins the documented sparse-mosaic behaviour of ``sample_tiles``: a
    pixel whose every tap lands in an absent tile is emitted as 0 by the
    broadcast nearest/bilinear gather and dropped by the explode path
    (bicubic, or ``broadcast_tiles=False``) under ``border="clamp"``."""
    tiles = tiles_df(spark, 2, 2, 8, 8).filter(
        ~((F.col("tile_row") == 0) & (F.col("tile_col") == 1)))
    # (0, 0) lies in tile (0, 0); every tap of (0, 1), bicubic's 4x4
    # included, lies in the missing tile (0, 1)
    g = spark.createDataFrame([(0, 0, 3.5, 3.5), (0, 1, 11.5, 3.5)],
                              "gi int, gj int, x double, y double")

    def run(**kw):
        out = sample_tiles(g, tiles, 8, 8, 2, 2, **kw).collect()
        return {(r.gi, r.gj): r.value for r in out}

    for filt in ("nearest", "bilinear"):
        emitted = run(filter=filt)
        assert set(emitted) == {(0, 0), (0, 1)} and emitted[(0, 1)] == 0.0
        assert set(run(filter=filt, broadcast_tiles=False)) == {(0, 0)}
    assert set(run(filter="bicubic")) == {(0, 0)}
    assert run(filter="bicubic", border="zero")[(0, 1)] == 0.0


def test_assemble_tiles_identity_roundtrip(spark):
    """tiles → nearest-sample at integer coords → assemble_tiles == source
    (raster→vector→raster identity)."""
    from projcl_spark.operators.warp import assemble_tiles

    tiles = tiles_df(spark, 2, 2, 8, 8)
    # grid hitting every source pixel exactly once
    g = grid_df(spark, 16, 16, 0.0, 0.0, 15.0, 15.0)
    sampled = sample_tiles(g, tiles, 8, 8, 2, 2, filter="nearest")
    rebuilt = assemble_tiles(
        sampled.select("gi", "gj", F.col("value").cast("int").alias("value")),
        8, 8, 2,
    )
    src = {r["tile_id"]: r["pixels"] for r in tiles.collect()}
    out = {r["tile_id"]: r["pixels"] for r in rebuilt.collect()}
    assert set(src) == set(out)
    for tid in src:
        assert src[tid] == out[tid], f"tile {tid} differs"


def test_assemble_tiles_rgba_roundtrip(spark):
    """4-channel tiles → nearest-sample every pixel → assemble_tiles with
    value_cols == source bands (raster→vector→raster identity per channel)."""
    from projcl_spark.operators.warp import assemble_tiles

    chans = ("pixels", "pixels_1", "pixels_2", "pixels_3")
    tiles = tiles_df(spark, 2, 2, 8, 8, channels=4)
    g = grid_df(spark, 16, 16, 0.0, 0.0, 15.0, 15.0)
    sampled = sample_tiles(g, tiles, 8, 8, 2, 2, filter="nearest",
                           channel_cols=chans)
    rebuilt = assemble_tiles(
        sampled.select(
            "gi", "gj",
            *[F.col(f"value_{i}").cast("int").alias(f"value_{i}") for i in range(4)],
        ),
        8, 8, 2, value_cols=tuple(f"value_{i}" for i in range(4)),
    )
    band = lambda r, i: r["pixels"] if i == 0 else r[f"pixels_{i}"]
    src = {r["tile_id"]: [band(r, i) for i in range(4)] for r in tiles.collect()}
    out = {r["tile_id"]: [band(r, i) for i in range(4)] for r in rebuilt.collect()}
    assert set(src) == set(out)
    for tid in src:
        for i in range(4):
            assert src[tid][i] == out[tid][i], f"tile {tid} band {i} differs"


def _mosaic_image(spark, ta=2, td=2, tw=8, th=8) -> np.ndarray:
    """Collect the synthetic tile mosaic into a (H, W) numpy image."""
    rows = tiles_df(spark, ta, td, tw, th).collect()
    img = np.zeros((td * th, ta * tw))
    for r in rows:
        px = np.array(r.pixels, dtype=np.float64).reshape(th, tw)
        img[r.tile_row * th:(r.tile_row + 1) * th,
            r.tile_col * tw:(r.tile_col + 1) * tw] = px
    return img


def _ref_sample(img: np.ndarray, x: float, y: float, filt: str, border: str) -> float:
    """Direct reference of CLK_ADDRESS_CLAMP (border-0) vs CLAMP_TO_EDGE
    semantics (kernel/pl_sample_nearest.opencl:2-18, pl_sample_linear.opencl)."""
    h, w = img.shape

    def at(px: int, py: int) -> float:
        if border == "zero":
            if px < 0 or px >= w or py < 0 or py >= h:
                return 0.0
            return img[py, px]
        return img[min(max(py, 0), h - 1), min(max(px, 0), w - 1)]

    if filt == "nearest":
        return at(int(np.floor(x + 0.5)), int(np.floor(y + 0.5)))
    bx, by = int(np.floor(x)), int(np.floor(y))
    fx, fy = x - bx, y - by
    v = 0.0
    for dy, wy in ((0, 1 - fy), (1, fy)):
        for dx, wx in ((0, 1 - fx), (1, fx)):
            v += wx * wy * at(bx + dx, by + dy)
    return v


def _pixel_ref(px: int, py: int, c: int = 0) -> int:
    """Direct python twin of sources.synth.pixel_value (channel-salted)."""
    import hashlib

    salt = "px:" if c == 0 else f"px{c}:"
    h = int(hashlib.md5(f"{salt}{px}:{py}".encode()).hexdigest()[:15], 16)
    return (px * 3 + py * 7 + c * 11 + h % 32) % 256


def test_rgba_multichannel_sampling(spark):
    """4-channel mosaic: every band interpolates independently with the
    same taps/weights (reference float4 semantics, read_imagef →
    pl_sample_nearest.opencl:15,40), and band 0 is byte-identical to the
    historical single-band result."""
    chans = ("pixels", "pixels_1", "pixels_2", "pixels_3")
    tiles4 = tiles_df(spark, 2, 2, 8, 8, channels=4)
    g = spark.createDataFrame(
        [(0, 0, 3.5, 5.5), (0, 1, 5.0, 6.0), (0, 2, 0.25, 14.75)],
        "gi int, gj int, x double, y double",
    )
    out = {r.gj: r for r in sample_tiles(
        g, tiles4, 8, 8, 2, 2, filter="bilinear", channel_cols=chans).collect()}
    for j, (x, y) in ((0, (3.5, 5.5)), (1, (5.0, 6.0)), (2, (0.25, 14.75))):
        bx, by = int(np.floor(x)), int(np.floor(y))
        fx, fy = x - bx, y - by
        for c in range(4):
            exp = sum(
                wx * wy * _pixel_ref(min(max(bx + dx, 0), 15),
                                     min(max(by + dy, 0), 15), c)
                for dy, wy in ((0, 1 - fy), (1, fy))
                for dx, wx in ((0, 1 - fx), (1, fx))
            )
            got = out[j][f"value_{c}"]
            assert got == pytest.approx(exp, abs=1e-9), (j, c, got, exp)
    # channel 0 of the 4-band table == the single-band sampler, bit-for-bit
    single = {r.gj: r.value for r in sample_tiles(
        g, tiles_df(spark, 2, 2, 8, 8), 8, 8, 2, 2, filter="bilinear").collect()}
    for j in out:
        assert out[j]["value_0"] == single[j]


@pytest.mark.parametrize("filt", ["nearest", "bilinear"])
@pytest.mark.parametrize("border", ["clamp", "zero"])
def test_border_modes_at_rim(spark, filt, border):
    """Rim/outside taps: border="zero" is exact reference parity for
    nearest/linear; border="clamp" is the engine default."""
    img = _mosaic_image(spark)
    tiles = tiles_df(spark, 2, 2, 8, 8)
    # straddle every edge and corner, plus fully-outside points
    coords = [(-0.75, 3.2), (15.6, 3.2), (3.2, -0.75), (3.2, 15.6),
              (-0.75, -0.75), (15.8, 15.8), (-3.0, -3.0), (20.0, 7.0),
              (0.0, 0.0), (15.0, 15.0), (7.4, 0.1)]
    g = spark.createDataFrame(
        [(0, j, float(x), float(y)) for j, (x, y) in enumerate(coords)],
        "gi int, gj int, x double, y double",
    )
    out = {r.gj: r.value for r in
           sample_tiles(g, tiles, 8, 8, 2, 2, filter=filt, border=border).collect()}
    assert len(out) == len(coords)  # zero mode must not drop pixels
    for j, (x, y) in enumerate(coords):
        exp = _ref_sample(img, x, y, filt, border)
        assert out[j] == pytest.approx(exp, abs=1e-9), (j, x, y, out[j], exp)
