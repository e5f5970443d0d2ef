"""Physical-plan regression tests — the PLANS.md claims, asserted.

If a refactor silently turns the PIP broadcast into a sort-merge join or
breaks parquet pushdown, these fail before any benchmark notices.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from projcl_spark.functions import project_fwd_cols
from projcl_spark.operators.knn import knn_join
from projcl_spark.operators.pip import pip_join

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_projection_pushdown_and_pruning(spark):
    pts = E._points_df(spark, SF, "lineitem", ("l_orderkey", "l_linenumber"))
    proj, params = E.PROJ_CASES["proj_albers_e"]
    xc, yc = project_fwd_cols(proj, params)
    p = plan_of(pts.filter(F.col("l_orderkey") < 1000).select("l_orderkey", xc, yc))
    assert "LessThan(l_orderkey,1000)" in p, "filter not pushed to parquet"
    assert "struct<l_orderkey:bigint,l_linenumber:int>" in p, "columns not pruned"
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, \
        "forward projection must stay JVM-side"


def test_pip_join_is_broadcast(spark):
    pts = E._points_df(spark, SF, "lineitem", ("l_orderkey", "l_linenumber"))
    p = plan_of(pip_join(pts, E._triangles_df(spark), res=E.PIP_RES))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "point side must never shuffle for PIP"


def test_knn_join_is_broadcast_no_cross(spark):
    cust = E._points_df(spark, SF, "customer", ("c_custkey",))
    qs = spark.createDataFrame(E.KNN_QUERIES, "query_id long, q_lon double, q_lat double")
    p = plan_of(knn_join(qs, cust, k=5, res=4, ring=1, point_id="c_custkey"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, \
        "kNN must be a pruned equi-join, not a cross product"


def test_topn_uses_take_ordered(spark):
    p = plan_of(E.q_events_topn(spark, SF))
    assert "TakeOrderedAndProject" in p, "global top-k must not global-sort"


def test_spatial_sink_range_read_pushes_down(spark, tmp_path):
    """Z-order sink round trip: the pruned quadrant read returns exactly
    the rows whose res-2 cell matches, and the morton range predicate is
    pushed into the parquet scan (min-max stats can prune row groups)."""
    from projcl_spark.index.cells import cell_id_col
    from projcl_spark.plans.spatial_sink import read_spatial_cell, write_spatial
    from projcl_spark.sources import synth

    pts = synth.geo_points(spark, 3000).withColumn(
        "pid", F.concat_ws("#", "doc_id", "offset")
    ).select("pid", "lon", "lat")
    path = f"file://{tmp_path}/zsink"
    write_spatial(pts, path, res=12, buckets=8)

    sub = read_spatial_cell(spark, path, cell_id=6, cell_res=2, res=12)
    got = {r["pid"] for r in sub.select("pid").collect()}
    want = {
        r["pid"]
        for r in pts.withColumn("c2", cell_id_col(F.col("lon"), F.col("lat"), 2))
        .filter(F.col("c2") == 6).select("pid").collect()
    }
    assert got == want and len(want) > 0

    p = plan_of(sub)
    assert "PushedFilters" in p and "_morton" in p.split("PushedFilters", 1)[1].split("]", 1)[0], \
        "morton range must reach the parquet scan"


def test_spatial_sink_file_skipping_matches_full_read(spark, tmp_path):
    """The file-skipping read equals the full read + range filter (as a
    multiset) on every populated cell, an empty cell, a cell straddling
    files, and after the sink is overwritten and appended to."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from projcl_spark.index.cells import cell_id_np, morton_range_np
    from projcl_spark.plans.spatial_sink import read_spatial_cell, write_spatial

    def points(seed, n=4000):
        rng = np.random.default_rng(seed)
        return spark.createDataFrame(pd.DataFrame({
            "pid": np.arange(n) + seed * 10**6,
            "lon": rng.uniform(-60, 60, n), "lat": rng.uniform(-40, 80, n)}))

    path = f"file://{tmp_path}/zsink"

    def check(cell, cell_res):
        lo, hi = morton_range_np(cell, cell_res, 12)
        got = read_spatial_cell(spark, path, cell, cell_res, res=12)
        want = spark.read.parquet(path).filter(
            (F.col("_morton") >= lo) & (F.col("_morton") < hi))
        assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect())), \
            (cell, cell_res)
        return len(got.inputFiles())

    pts = points(1)
    write_spatial(pts, path, res=12, buckets=8)
    n_files = len(spark.read.parquet(path).inputFiles())
    lon, lat = (np.array(c) for c in zip(*pts.select("lon", "lat").collect()))
    populated = sorted(set(cell_id_np(lon, lat, 4).tolist()))
    touched = [check(c, 4) for c in populated]
    assert max(touched) < n_files, "a one-cell read must skip files"

    # morton 0 (lon -180, lat -90) sorts below every file: no file to read
    empty = int(cell_id_np(-170.0, -85.0, 4))
    assert empty not in populated and check(empty, 4) == 0
    assert read_spatial_cell(spark, path, empty, 4).schema == spark.read.parquet(path).schema

    straddle = [c for c in range(16) if 2 <= check(c, 2) < n_files]
    assert straddle, "no res-2 cell straddles two files"

    write_spatial(points(2), path, res=12, buckets=8, mode="overwrite")
    for c in range(16):
        check(c, 2)
    write_spatial(points(3), path, res=12, buckets=8, mode="append")
    for c in range(16):
        check(c, 2)
    assert check(straddle[0], 2) >= 2


def test_track_stats_reuses_key_exchange(spark):
    """Trajectory rollup: the lag window and the per-track aggregate share
    ONE hash exchange on user_id (plus the input round-robin spread) —
    a second key shuffle here would double the op's cost at scale."""
    import re

    p = plan_of(E.q_track_length(spark, SF))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_ex == 2, p


def test_sessionize_single_exchange(spark):
    """Batch sessionize: the gap window and the per-session aggregate
    share ONE hash exchange on user_id — HashPartitioning(user) already
    satisfies the (user, session_idx) clustering."""
    import re

    p = plan_of(E.q_sessionize(spark, SF))
    n_ex = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_ex == 1, p
