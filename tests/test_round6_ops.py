"""Round-6 optimization pins: every operator whose INTERNALS changed this
round gets a focused equivalence/plan test against the pre-optimization
formulation, so a future refactor cannot silently drift the semantics the
round-6 rewrites promised to preserve."""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_hillshade_two_pass_bitexact_vs_three_pass(spark):
    """r6 rewrote dem_hillshade from three window passes to two; the
    re-associated sums must keep the SAME operand order, so the outputs
    must be bit-identical (==, no tolerance) on an irregular surface."""
    from projcl_spark.operators.raster import dem_hillshade

    w = 40
    dem = (
        spark.range(w * w)
        .select((F.col("id") % w).alias("gi"),
                (F.col("id") / w).cast("long").alias("gj"))
        .select("gi", "gj",
                (F.sin(F.col("gi") * 0.37) * 91.0
                 + F.cos(F.col("gj") * 0.53) * 57.0
                 + (F.col("gi") * F.col("gj") % 13).cast("double"))
                .alias("elev"))
    )

    got = {(r["gi"], r["gj"]): (r["slope_rad"], r["aspect_rad"], r["hillshade"])
           for r in dem_hillshade(dem, 30.0, 25.0).collect()}

    # inline 3-pass reference (the r5 formulation, verbatim)
    col_w = Window.partitionBy("gi").orderBy(F.col("gj").asc())
    row_w = Window.partitionBy("gj").orderBy(F.col("gi").asc())
    z = F.col("elev")
    rs = (F.lag("elev").over(row_w) + 2.0 * z + F.lead("elev").over(row_w))
    d1 = dem.select("gi", "gj", "elev", rs.alias("_rs"))
    cs = (F.lag("elev").over(col_w) + 2.0 * z + F.lead("elev").over(col_w))
    dzdy = (F.lead("_rs").over(col_w) - F.lag("_rs").over(col_w)) / (8.0 * 25.0)
    d2 = d1.select("gi", "gj", cs.alias("_cs"), dzdy.alias("_dzdy"))
    dzdx = (F.lead("_cs").over(row_w) - F.lag("_cs").over(row_w)) / (8.0 * 30.0)
    d3 = d2.select("gi", "gj", "_dzdy", dzdx.alias("_dzdx")).where(
        F.col("_dzdx").isNotNull() & F.col("_dzdy").isNotNull())
    slope = F.atan(F.sqrt(F.col("_dzdx") * F.col("_dzdx")
                          + F.col("_dzdy") * F.col("_dzdy")))
    aspect = F.atan2(F.col("_dzdy"), -F.col("_dzdx"))
    zen, az = math.radians(45.0), math.radians(315.0)
    hs = 255.0 * F.greatest(
        F.lit(0.0),
        math.cos(zen) * F.cos(slope)
        + math.sin(zen) * F.sin(slope) * F.cos(az - aspect))
    want = {(r["gi"], r["gj"]): (r["s"], r["a"], r["h"])
            for r in d3.select("gi", "gj", slope.alias("s"), aspect.alias("a"),
                               hs.alias("h")).collect()}

    assert got.keys() == want.keys() and len(got) == (w - 2) * (w - 2)
    for k, v in want.items():
        assert got[k] == v  # EXACT double equality, all three outputs


def test_sample_tiles_pertap_path_matches_explode_path(spark):
    """r6's zero-exchange per-tap gather (nearest/bilinear, broadcast)
    must reproduce the explode+re-aggregate path bit-for-bit, and its
    plan must contain no Exchange."""
    from projcl_spark.operators.warp import grid_df, sample_tiles
    from projcl_spark.sources.synth import tiles_df

    tiles = tiles_df(spark, 3, 3, 8, 8, channels=2)
    g = grid_df(spark, 31, 17, 0.3, 0.7, 22.9, 22.3)
    for filt in ("nearest", "bilinear"):
        for border in ("clamp", "zero"):
            fast = sample_tiles(g, tiles, 8, 8, 3, 3, filter=filt,
                                border=border,
                                channel_cols=("pixels", "pixels_1"))
            slow = sample_tiles(g, tiles, 8, 8, 3, 3, filter=filt,
                                border=border, broadcast_tiles=False,
                                channel_cols=("pixels", "pixels_1"))
            a = {(r["gi"], r["gj"]): (r["value_0"], r["value_1"])
                 for r in fast.collect()}
            b = {(r["gi"], r["gj"]): (r["value_0"], r["value_1"])
                 for r in slow.collect()}
            assert a == b, (filt, border)  # exact doubles
    import re

    plan = (sample_tiles(g, tiles, 8, 8, 3, 3, filter="bilinear")
            ._jdf.queryExecution().executedPlan().toString())
    # BroadcastExchange (the per-tap probes) is expected; what must be
    # gone is any SHUFFLE exchange (the old explode path's groupBy)
    assert not re.search(r"Exchange (hash|range|rounds|SinglePartition)",
                         plan), "per-tap gather must not shuffle"
    assert "BroadcastHashJoin" in plan


def test_cosine_topk_closure_path_matches_crossjoin_path(spark):
    """r6's closure-vectorized dot sweep accumulates over dimensions in
    the HOF fold's sequential order — ranks AND quantized sims must equal
    the crossJoin fallback exactly."""
    import random

    from projcl_spark.operators import ann as A

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(12)])
            for i in range(180)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fast = (A.cosine_topk(emb.limit(7), emb, k=4).toPandas()
            .sort_values(["query_id", "rank"]).reset_index(drop=True))
    cap = A.MAX_CLOSURE_QUERIES
    try:
        A.MAX_CLOSURE_QUERIES = 0  # force the crossJoin fallback
        slow = (A.cosine_topk(emb.limit(7), emb, k=4).toPandas()
                .sort_values(["query_id", "rank"]).reset_index(drop=True))
    finally:
        A.MAX_CLOSURE_QUERIES = cap
    assert list(fast.columns) == list(slow.columns)
    assert (fast.values == slow.values).all()


def test_nearest_facility_cross_chunk_argmin(spark):
    """r6's numpy sweep processes facilities in 256-wide chunks; a layer
    larger than one chunk must still produce the brute-force argmin with
    the first-minimum (smallest id) tie rule across chunk boundaries."""
    from projcl_spark.geo.geodesic import haversine
    from projcl_spark.operators.allocate import _FAC_CHUNK, nearest_facility
    from projcl_spark.sources import synth

    n_fac = _FAC_CHUNK + 40  # spans two chunks
    pts = synth.geo_points(spark, 200).withColumn(
        "k", F.concat_ws("#", "doc_id", F.col("offset").cast("string")))
    fac = (synth.geo_points(spark, n_fac + 60)
           .selectExpr("abs(hash(doc_id, offset)) AS fid",
                       "lon AS flon", "lat AS flat")
           .dropDuplicates(["fid"]).limit(n_fac))
    got = (nearest_facility(pts, fac, fac_id="fid", fac_lon="flon",
                            fac_lat="flat")
           .toPandas().sort_values("k").reset_index(drop=True))
    fp = fac.toPandas().sort_values("fid").reset_index(drop=True)
    pp = pts.toPandas().sort_values("k").reset_index(drop=True)
    d = haversine(pp.lon.values[:, None], pp.lat.values[:, None],
                  fp.flon.values[None, :], fp.flat.values[None, :])
    want = fp.fid.values[d.argmin(axis=1)]
    assert (got.facility.values == want).all()


def test_streaming_drain_restores_shuffle_partitions(spark):
    """r6 sizes state partitioning for availableNow drains; the session's
    shuffle-partition conf must be restored after the stream starts."""
    import __spark_entry__ as E

    sf_dir = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    E.q_stream_geofence(spark, sf_dir).count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_cell_bfs_odd_and_even_horizons(spark):
    """r6 batches two BFS shells per wave; odd horizons get a final
    single-hop wave — hop counts must match a numpy reference BFS for
    both parities and never exceed max_hops."""
    from collections import deque

    from projcl_spark.index.cells import _scale
    from projcl_spark.operators.dbscan import cell_bfs

    res, n = 4, _scale(4)
    occupied = [(x, y) for x in range(6) for y in range(6)
                if (x + 2 * y) % 3 != 0] + [(10, 10), (11, 10)]
    cells = spark.createDataFrame(
        [(x * n + y,) for x, y in occupied], "cell_id long")
    src_xy = occupied[0]
    src = spark.createDataFrame([(src_xy[0] * n + src_xy[1],)], "cell_id long")

    occ = set(occupied)

    def ref_bfs(max_hops):
        seen = {src_xy: 0}
        q = deque([src_xy])
        while q:
            cx, cy = q.popleft()
            h = seen[(cx, cy)]
            if h >= max_hops:
                continue
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if dx == dy == 0:
                        continue
                    nxy = ((cx + dx) % n, cy + dy)
                    if 0 <= nxy[1] < n and nxy in occ and nxy not in seen:
                        seen[nxy] = h + 1
                        q.append(nxy)
        return {x * n + y: h for (x, y), h in seen.items()}

    for max_hops in (3, 4, 7):
        got = {r["cell_id"]: r["hops"]
               for r in cell_bfs(cells, res, src, max_hops=max_hops).collect()}
        assert got == ref_bfs(max_hops), max_hops
        assert all(h <= max_hops for h in got.values())


def test_hot_cells_single_action_matches_reference_threshold(spark):
    """r6 folded hot_cells' mean + filter + collect into one job; the hot
    set must equal the collected-mean reference exactly."""
    from projcl_spark.operators.skew import cell_histogram, hot_cells

    rows = ([(i, 7) for i in range(400)]
            + [(400 + i, i % 5) for i in range(100)])
    df = spark.createDataFrame(rows, "k long, cell_id int")
    got = sorted(hot_cells(df, threshold_ratio=1.5, sample_key="k",
                           sample_mod=1))
    hist = cell_histogram(df, "cell_id", sample_key="k", sample_mod=1)
    mean = hist.agg(F.avg("n")).first()[0]
    want = sorted(r["cell_id"] for r in
                  hist.filter(F.col("n") > 1.5 * mean).collect())
    assert got == want and got == [7]


def test_cc_single_join_fold_matches_two_join_form(spark):
    """r6 folded the node-table attach in dedup_clusters/grid_dbscan into
    ONE left join against the _cc_labels endpoint table (the former shape
    keyed the node table twice: connected_components' singleton left-join
    + a second payload join).  The folded results must equal the explicit
    two-join formulation exactly — including singleton fill-in and the
    keep-the-longest / ties-to-min-id canonical rule."""
    from projcl_spark.operators.cluster import (
        _cc_labels, connected_components, dedup_clusters,
    )

    # two chains, one triangle, two singletons; weights force a non-min
    # canonical in cluster 1 and a tie in cluster 10
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4), (20, 1), (30, 2), (40, 3)],
        "doc_id long, n_chars long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (20, 30)], "doc_a long, doc_b long")

    got = {r["cluster_id"]: (r["n_docs"], r["canonical"])
           for r in dedup_clusters(docs, pairs).collect()}

    # reference: the pre-fold two-join formulation over the public API
    cc = connected_components(docs, pairs, dedupe_edges=False)
    member = cc.join(docs.select("doc_id", "n_chars"), "doc_id")
    want = {r["cluster_id"]: (r["n_docs"], r["canonical"])
            for r in member.groupBy("cluster_id").agg(
                F.count("*").cast("long").alias("n_docs"),
                F.expr("max_by(doc_id, struct(n_chars, -doc_id))")
                .alias("canonical")).collect()}
    assert got == want
    assert got == {1: (3, 2), 10: (2, 10), 20: (2, 30), 40: (1, 40)}
    # label table holds edge endpoints only; singletons are absent
    assert {r["id"] for r in
            _cc_labels(pairs, dedupe_edges=False).collect()} \
        == {1, 2, 3, 10, 11, 20, 30}


def test_derived_filter_stays_above_repartition(spark):
    """r6 pinned the md5-derived box filters of hilbert_ranges and
    route_corridor ABOVE the repartition with a lazy checkpoint barrier:
    on the unsplittable single-row-group test parquet, Catalyst would
    otherwise push the derivation into the ONE scan task (and re-derive
    it above the exchange).  The scan-level filter must carry only the
    cheap key predicate; the derived predicate evaluates on the
    checkpointed (already-derived) columns."""
    import contextlib
    import io

    import __spark_entry__ as E

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    sf = "/root/testdata/sf0.001"
    for q in (E.q_hilbert_ranges, E.q_route_corridor):
        p = plan_of(q(spark, sf))
        assert "Scan ExistingRDD" in p, q.__name__
        # every md5/conv evaluation left in the visible (post-checkpoint)
        # plan would mean the derivation re-runs below a pushed filter
        assert "md5(" not in p and "conv(" not in p, q.__name__


def test_unique_input_flags_match_default_paths(spark):
    """r6 lets provably-unique inputs skip the operators' de-dup
    shuffles (guide §2.4): cell_bfs(cells_unique=True) and
    hilbert_ranges(assume_unique=True) must return the same rows as the
    default paths on unique inputs, and the flagged plans must drop the
    de-dup aggregate."""
    from collections import Counter

    from projcl_spark.index.cells import _scale
    from projcl_spark.index.hilbert import hilbert_cols, hilbert_ranges
    from projcl_spark.operators.dbscan import cell_bfs

    res, n = 4, _scale(4)
    occupied = [(x, y) for x in range(8) for y in range(8)
                if (x * 3 + y) % 4 != 1]
    cells = spark.createDataFrame(
        [(x * n + y,) for x, y in occupied], "cell_id long")
    src = spark.createDataFrame(
        [(occupied[0][0] * n + occupied[0][1],)], "cell_id long")

    # multisets, not sets: a duplicated output row must fail the test
    base = Counter((r["cell_id"], r["hops"])
                   for r in cell_bfs(cells, res, src, max_hops=5).collect())
    flagged = Counter((r["cell_id"], r["hops"])
                      for r in cell_bfs(cells, res, src, max_hops=5,
                                        cells_unique=True).collect())
    assert flagged == base and base

    grid = spark.createDataFrame(
        [(x, y) for x, y in occupied], "ix long, iy long")
    hs = hilbert_cols(grid, res)
    r_base = Counter((r["range_start"], r["range_end"], r["n_cells"])
                     for r in hilbert_ranges(hs).collect())
    r_flag = Counter((r["range_start"], r["range_end"], r["n_cells"])
                     for r in hilbert_ranges(hs, assume_unique=True).collect())
    assert r_flag == r_base and r_base
    # the flagged plan must not contain the de-dup HashAggregate pair
    # (row_number's window remains; distinct would add two more
    # aggregates below it)
    import contextlib
    import io

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    assert plan_of(hilbert_ranges(hs, assume_unique=True)).count(
        "HashAggregate") < plan_of(hilbert_ranges(hs)).count("HashAggregate")
