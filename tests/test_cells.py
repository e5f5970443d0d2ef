"""Cell-index tests: numpy ↔ Spark-column ↔ SQL-string parity.

The engine's determinism story (SURVEY.md §4.2) rests on the cell id being
a pure per-row function with ONE set of semantics across all three
implementations; these tests pin that down.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from projcl_spark.index import cells as C


def test_cell_id_bounds_inverse():
    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    for res in (0, 4, 8, 12):
        cid = C.cell_id_np(lon, lat, res)
        lo0, la0, lo1, la1 = C.cell_bounds_np(cid, res)
        assert (lon >= lo0 - 1e-9).all() and (lon <= lo1 + 1e-9).all()
        assert (lat >= la0 - 1e-9).all() and (lat <= la1 + 1e-9).all()


def test_cell_id_sql_matches_numpy():
    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    res = 8
    expected = C.cell_id_np(lon, lat, res)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                + ",".join(f"({float(a)!r},{float(b)!r})" for a, b in zip(lon, lat))
                + ") v(lon, lat)")
    got = con.execute(
        f"SELECT {C.cell_id_sql('lon', 'lat', res)} FROM t"
    ).fetchnumpy()
    np.testing.assert_array_equal(next(iter(got.values())), expected)


def test_morton_locality():
    """Adjacent cells share long morton prefixes more than distant ones."""
    a = C.morton_np(np.array([10.0]), np.array([48.0]), 16)[0]
    b = C.morton_np(np.array([10.001]), np.array([48.001]), 16)[0]
    c = C.morton_np(np.array([-150.0]), np.array([-48.0]), 16)[0]
    assert abs(a - b) < abs(a - c)


def test_neighbors_center_and_corner():
    res = 4
    n = 1 << res
    center = (n // 2) * n + n // 2
    assert len(C.neighbors_np(center, res, ring=1)) == 9
    # corner: lat clips (2 y values), lon WRAPS across the antimeridian
    # (3 x values: n-1, 0, 1) → 6 cells, including the far-seam column
    corner = set(C.neighbors_np(0, res, ring=1))
    assert corner == {0, 1, n, n + 1, (n - 1) * n, (n - 1) * n + 1}


def test_ring_cells_col_wraps_lon_matches_numpy(spark):
    """Spark column ring == numpy ring at seam, pole corner, and interior."""
    res = 4
    n = 1 << res
    ids = [0, (n - 1) * n + (n - 1), (n // 2) * n + n // 2, 3, (n - 1) * n]
    df = spark.createDataFrame([(i,) for i in ids], "cell_id long").select(
        "cell_id", C.ring_cells_col("cell_id", res, ring=1).alias("ring")
    )
    got = {r.cell_id: sorted(r.ring) for r in df.collect()}
    for cid in ids:
        assert got[cid] == sorted(C.neighbors_np(cid, res, ring=1)), cid


def test_spread_bits_roundtrip_property():
    v = np.arange(0, 1 << 12, dtype=np.int64)
    s = C._spread_bits_np(v)
    # odd bits zero AND the even bits actually carry v (compact inverse) —
    # "odd bits zero" alone would pass for a spread that truncates payload
    assert (s & np.uint64(0xAAAAAAAAAAAAAAAA) == 0).all()
    back = np.zeros_like(v)
    for b in range(32):
        back |= ((s.astype(np.int64) >> (2 * b)) & 1) << b
    assert (back == v).all()


def test_morton_range_prefix_property():
    """A coarse cell's [lo, hi) morton interval at sink res contains a
    point's sink-res morton IFF the point lies in that cell — the
    identity the Z-order sink's pruned reads stand on."""
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 4000)
    lat = rng.uniform(-90, 90, 4000)
    m12 = C.morton_np(lon, lat, 12)
    c2 = C.cell_id_np(lon, lat, 2)
    for cell in np.unique(c2):
        lo, hi = C.morton_range_np(int(cell), 2, 12)
        inside = (m12 >= lo) & (m12 < hi)
        assert np.array_equal(inside, c2 == cell)


def test_slippy_tile_assign_analytic(spark):
    """Slippy-standard anchors at zoom 1 (2x2 tiles, 512px globe):
    (0,0) is the exact center -> tile (1,1) pixel (0,0); lon just west of
    0 lands in tile x=0's last pixel; the polar clamp keeps lat=89.9
    (beyond the 85.0511 Mercator limit) inside row 0."""
    from projcl_spark.index.tiles import tile_assign

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, -1e-4, 0.0), (3, 0.0, 89.9), (4, -180.0, 0.0)],
        "pt_id long, lon double, lat double")
    got = {r["pt_id"]: r for r in tile_assign(df, zoom=1).collect()}
    assert (got[1]["tx"], got[1]["ty"], got[1]["px"], got[1]["py"]) == (1, 1, 0, 0)
    assert (got[2]["tx"], got[2]["px"]) == (0, 255)
    assert (got[3]["ty"], got[3]["py"]) == (0, 0)
    assert (got[4]["tx"], got[4]["px"]) == (0, 0)


def test_hilbert_exhaustive_and_spark_parity(spark):
    """hilbert_np vs an exhaustive res-4 check of the two properties
    that define the curve (bijection onto [0, 4^res) and unit grid
    steps between consecutive ids), plus the Spark staged-codegen path
    returning the identical ids."""
    import numpy as np
    from pyspark.sql import functions as F

    from projcl_spark.index.hilbert import hilbert_cols, hilbert_np

    res, n = 4, 16
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    d = hilbert_np(xs.ravel(), ys.ravel(), res)
    assert sorted(d) == list(range(n * n))
    order = np.argsort(d)
    steps = (np.abs(np.diff(xs.ravel()[order]))
             + np.abs(np.diff(ys.ravel()[order])))
    assert (steps == 1).all()

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs.ravel(), ys.ravel())],
        "ix long, iy long")
    got = {(r["ix"], r["iy"]): r["h"]
           for r in hilbert_cols(df, res).collect()}
    want = {(int(a), int(b)): int(v)
            for a, b, v in zip(xs.ravel(), ys.ravel(), d)}
    assert got == want


def test_compact_cover_analytic(spark):
    """A full res-3 quad (4 children of one parent) collapses to its
    res-2 parent; a lone cell stays at res 3; a FULL 4x4 block (16
    cells = 4 complete parents forming one complete grandparent)
    collapses two levels when min_res allows and stops at min_res
    otherwise."""
    from pyspark.sql import functions as F  # noqa: F401

    from projcl_spark.index.cells import compact_cover

    n3 = 8  # 2^3

    def cid(ix, iy, n=n3):
        return ix * n + iy

    quad = [cid(2, 2), cid(2, 3), cid(3, 2), cid(3, 3)]  # parent (1,1)@res2
    lone = [cid(6, 1)]
    df = spark.createDataFrame([(c,) for c in quad + lone], "cell_id long")
    got = {(r["level"], r["cell_id"])
           for r in compact_cover(df, 3, 2).collect()}
    assert got == {(2, 1 * 4 + 1), (3, cid(6, 1))}

    block = [cid(ix, iy) for ix in range(4, 8) for iy in range(4, 8)]
    bdf = spark.createDataFrame([(c,) for c in block], "cell_id long")
    # down to res 1: the whole block is grandparent (1,1)@res1
    got1 = {(r["level"], r["cell_id"])
            for r in compact_cover(bdf, 3, 1).collect()}
    assert got1 == {(1, 1 * 2 + 1)}
    # min_res 2 stops at the four res-2 parents
    got2 = {(r["level"], r["cell_id"])
            for r in compact_cover(bdf, 3, 2).collect()}
    assert got2 == {(2, ix * 4 + iy) for ix in (2, 3) for iy in (2, 3)}


def test_adaptive_tiles_skewed(spark):
    """One hot max-res cell holding most of the mass stays a leaf; the
    sparse remainder collapses to coarse tiles; tiles partition the
    leaf set (every leaf count is inside exactly one tile)."""
    from projcl_spark.index.cells import adaptive_tiles

    res_max, res_min = 4, 2
    n = 1 << res_max

    def cid(ix, iy):
        return ix * n + iy

    # hot cell with 1000 points, 20 sparse cells with 1 point each
    rows = [(cid(3, 3), 1000)] + [(cid(8 + i % 4, 8 + i // 4), 1)
                                  for i in range(16)]
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    out = adaptive_tiles(df, res_max, res_min, cap_den=10).collect()
    got = {(r["level"], r["cell_id"]): r["cnt"] for r in out}
    # total = 1016, cap = total/10 = 101.6: the hot leaf (1000) violates
    # the cap at EVERY level -> stays at res_max
    assert got[(res_max, cid(3, 3))] == 1000
    # the sparse 4x4 block at (8..11, 8..11) = one res-2 tile (2,2)@res2
    # with 16 points <= cap
    assert got[(res_min, 2 * 4 + 2)] == 16
    assert sum(got.values()) == 1016


def test_hilbert_ranges_runs(spark):
    """Consecutive ids collapse into single ranges; gaps split them."""
    from projcl_spark.index.hilbert import hilbert_ranges

    ids = [5, 6, 7, 10, 11, 40]
    df = spark.createDataFrame([(h,) for h in ids], "h long")
    got = sorted((r["range_start"], r["range_end"], r["n_cells"])
                 for r in hilbert_ranges(df).collect())
    assert got == [(5, 7, 3), (10, 11, 2), (40, 40, 1)]
