"""The workloads, each one closed-loop client of the public API.

Each workload gives its input sizes, a per-set-up ``prepare``, one timed
``op``, output ``check``s and, for the traced run, ``layers`` measured by
forcing plan prefixes.  Calls into the engine are wrapped in spans of
``ctx.tr``; with tracing off those cost nothing.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from projcl_spark.core.params import ProjectionParams
from projcl_spark.core.spheroid import Spheroid
from projcl_spark.functions import EARTH_RADIUS_SPHERE, project_fwd_cols
from projcl_spark.index.cells import cell_id_col, cell_id_np
from projcl_spark.index.tiles import tile_rollup
from projcl_spark.operators.knn import knn_bruteforce, knn_join
from projcl_spark.operators.pip import pip_join, winding_contains_np, zonal_stats
from projcl_spark.operators.warp import grid_df, sample_tiles
from projcl_spark.plans.checkpoint import Pipeline
from projcl_spark.plans.spatial_sink import read_spatial_cell, write_spatial
from projcl_spark.proj import get_transform

from . import gen
from .sparkstats import executed_plan, last_sql_metrics, metric_sum, plan_counts
from .trace import Tracer

ALBERS = ("albers_equal_area",
          ProjectionParams(spheroid=Spheroid.WGS_84, rlat1=30.0, rlat2=60.0))
POLY_RES = gen.POLY_RES
REPS = 3          # a forced prefix is timed as the median of REPS runs


@dataclass
class Ctx:
    spark: object
    sizes: gen.Sizes
    inputs: gen.Inputs
    work: str
    k: int
    smoke: bool
    tr: Tracer
    layer: dict = field(default_factory=dict)   # per-layer figures of traced ops
    next_op: int = 0                              # index of the next op
    op_lat: dict = field(default_factory=dict)    # op index → seconds, measured ops
    op_cpu: dict = field(default_factory=dict)    # op index → CPU seconds of the process tree

    def add(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def points(self):
        return self.spark.read.parquet(self.inputs.points_path)

    def polygons(self):
        return self.spark.read.parquet(self.inputs.polygons_path)


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _median_time(fn) -> float:
    return statistics.median(_timed(fn) for _ in range(REPS))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _plan(ctx: Ctx, df) -> None:
    """Traced ops only: time physical planning and count plan nodes."""
    with ctx.tr.span("plan.optimize"):
        plan = executed_plan(df)
    exchanges, python_evals = plan_counts(plan)
    ctx.add("plan.exchanges", exchanges)
    ctx.add("plan.python_evals", python_evals)


def _expected_zonal(lon, lat, layer, value=None) -> dict[int, tuple[int, int]]:
    """{poly_id: (n_pts, value sum)} by the numpy winding test, every
    point against every polygon's bbox first."""
    out = {}
    for p in layer:
        xs, ys = p["xs"], p["ys"]
        box = ((lon >= xs.min()) & (lon <= xs.max())
               & (lat >= ys.min()) & (lat <= ys.max()))
        idx = np.flatnonzero(box)
        inside = idx[winding_contains_np(lon[idx], lat[idx], xs, ys)]
        if len(inside):
            out[int(p["poly_id"])] = (len(inside),
                                      int(value[inside].sum()) if value is not None else 0)
    return out


class Workload:
    name = ""
    warmup_ops = 1      # per set-up
    settle_ops = 20     # after the set-ups, before timing

    def kind(self, i: int) -> str:
        """Which kind of op op ``i`` is; ops of one kind are comparable."""
        return self.name

    def prepare(self, ctx: Ctx) -> list[str]:
        """Per-set-up preparation; returns the failures it found."""
        return []

    def extras(self, ctx: Ctx) -> dict:
        """Further end-to-end figures for the report: {name: (value, unit)}."""
        return {}

    def layers(self, ctx: Ctx) -> dict:
        return {}


# ------------------------------------------------------------- join_bulk ---

class JoinBulk(Workload):
    """Project (Albers) → cell-encode → broadcast pip_join → zonal_stats →
    noop sink.  ``pip_join`` cell-encodes the points with ``cell_id_col``
    at the polygon covers' resolution; the zonal measure is the projected
    easting in km, so the projection stays in the plan."""

    name = "join_bulk"

    def sizes(self, smoke: bool) -> gen.Sizes:
        if smoke:
            return gen.Sizes(points=40_000, files=4, row_group=4096)
        return gen.Sizes(points=1_000_000, files=8, row_group=32_768)

    def _zonal(self, ctx: Ctx):
        tr = ctx.tr
        with tr.span("plan.build"):
            with tr.span("proj.call"):
                x, _ = project_fwd_cols(*ALBERS)
            pts = ctx.points().select(
                "lon", "lat", F.floor(x / 1000.0).cast("long").alias("x_km"))
            with tr.span("pip.call"):
                return zonal_stats(pts, ctx.polygons(), value_col="x_km", res=POLY_RES)

    def op(self, ctx: Ctx, i: int) -> None:
        z = self._zonal(ctx)
        if ctx.tr.enabled:
            _plan(ctx, z)
        with ctx.tr.span("exec"):
            _noop(z)
        if ctx.tr.enabled:
            m = last_sql_metrics(ctx.spark)
            ctx.add("pip.candidates", metric_sum(m, "BroadcastHashJoin", "number of output rows"))

    def check(self, ctx: Ctx) -> tuple[int, list[str]]:
        got = {r["poly_id"]: (r["n_pts"], r["val_sum"]) for r in self._zonal(ctx).collect()}
        inp = ctx.inputs
        x, _ = get_transform(*ALBERS)(inp.lon, inp.lat)
        want = _expected_zonal(inp.lon, inp.lat, inp.layer,
                               np.floor(x / 1000.0).astype(np.int64))
        ctx.layer["pip.hits"] = [sum(n for n, _ in want.values())]
        bad = []
        if set(got) != set(want):
            bad.append(f"zonal polygons differ: {sorted(set(got) ^ set(want))[:5]}")
        for pid in set(got) & set(want):
            (gn, gs), (wn, ws) = got[pid], want[pid]
            # n exact; the km floor may flip on a last-ulp difference
            # between the JVM and numpy projections, at most 1 per point
            if gn != wn or abs(gs - ws) > max(2, gn // 100_000):
                bad.append(f"polygon {pid}: got {(gn, gs)} want {(wn, ws)}")
        return 1, bad

    def layers(self, ctx: Ctx) -> dict:
        pts, polys = ctx.points(), ctx.polygons()
        x, y = project_fwd_cols(*ALBERS)
        proj = pts.select("lon", "lat", x, y)
        cells = proj.withColumn("cell_id", cell_id_col(F.col("lon"), F.col("lat"), POLY_RES))
        cover = polys.select("poly_id", F.explode("cells").alias("cell_id"))
        t_scan = _median_time(lambda: pts.agg(F.sum(F.col("lon") + F.col("lat"))).collect())
        t_proj = _median_time(lambda: proj.agg(F.sum(F.col("x") + F.col("y"))).collect())
        t_cells = _median_time(lambda: cells.agg(
            F.sum(F.col("x") + F.col("y") + F.col("cell_id"))).collect())
        t_cand = _median_time(lambda: cells.join(F.broadcast(cover), "cell_id").count())
        t_pip = _median_time(lambda: pip_join(proj, polys, res=POLY_RES).count())
        return {"proj.busy_s": t_proj - t_scan, "index.cells.busy_s": t_cells - t_proj,
                "pip.busy_s": t_pip - t_cand}


# ---------------------------------------------------------------- ingest ---

TILE_ZOOM = 9
STAGES = ("tiles", "pyramid", "raster")
SINK_RES = 12     # morton resolution of the sink


class Ingest:
    """Checkpointed ingest of the points, run in ``query_loop``'s set-up:
    ``Pipeline`` stages tiles (``tile_rollup``) → coarser pyramid level →
    warp raster (``sample_tiles``), then the Z-order sink the queries read.
    Each ingest is invoked again with the same run id to time its resume."""

    def __init__(self, ctx: Ctx):
        self.root = os.path.join(ctx.work, "ckpt")
        self.raster_px = 64 if ctx.smoke else 384

    def _raster(self, ctx: Ctx):
        sz = ctx.sizes
        img = sz.tiles_across * sz.tile_px
        grid = grid_df(ctx.spark, self.raster_px, self.raster_px, 0.0, 0.0,
                       img - 1.0, img - 1.0, num_partitions=2 * ctx.k)
        return sample_tiles(grid, ctx.spark.read.parquet(ctx.inputs.tiles_path),
                            sz.tile_px, sz.tile_px, sz.tiles_across, sz.tiles_across,
                            filter="bilinear")

    def _stages(self, ctx: Ctx, p: Pipeline, label: str) -> list:
        tr = ctx.tr

        def built(span, build):
            with tr.span(span):
                return build()

        stages = (
            ("tiles", (), lambda: built(
                "index.tiles.call", lambda: tile_rollup(ctx.points(), zoom=TILE_ZOOM))),
            ("pyramid", ("tiles",), lambda t: built("pyramid.call", lambda: t.groupBy(
                F.floor(F.col("tx") / 2).alias("tx"), F.floor(F.col("ty") / 2).alias("ty"),
            ).agg(F.sum("n_pts").alias("n_pts"), F.count("*").alias("children")))),
            ("raster", (), lambda: built("warp.call", lambda: self._raster(ctx))),
        )
        outs = []
        for name, inputs, fn in stages:
            with tr.span(f"{label}.{name}"):
                outs.append(p.stage(name, fn, inputs))
        return outs

    def run(self, ctx: Ctx, run: str, sink: str) -> dict:
        """Ingest under run id ``run`` into ``sink``, then resume it."""
        p = Pipeline(ctx.spark, self.root, run)
        self._stages(ctx, p, "ckpt.stage")
        with ctx.tr.span("sink.write"):
            write_spatial(ctx.points(), sink, res=SINK_RES, buckets=4 * ctx.k)
        written = gen.dir_bytes(os.path.join(self.root, run)) + gen.dir_bytes(sink)
        t = time.perf_counter()
        again = Pipeline(ctx.spark, self.root, run)
        for df in self._stages(ctx, again, "ckpt.resume"):
            df.count()
        resume_s = time.perf_counter() - t
        bad = []
        if again.ran or again.resumed != list(STAGES):
            bad.append(f"{run} resume ran {again.ran}, resumed {again.resumed}")
        return {"run": run, "sink": sink, "pipeline": p, "written": written,
                "resume_s": resume_s, "failures": bad}

    def check(self, ctx: Ctx, rec: dict) -> list[str]:
        n = len(ctx.inputs.lon)
        p = Pipeline(ctx.spark, self.root, rec["run"])
        tiles, pyr, ras = self._stages(ctx, p, "check")
        bad = []
        for name, df in (("tiles", tiles), ("pyramid", pyr)):
            total = df.agg(F.sum("n_pts")).first()[0]
            if total != n:
                bad.append(f"{name} counts sum to {total}, input has {n}")
        for name, m in p.metrics().items():
            rows = ctx.spark.read.parquet(
                os.path.join(self.root, rec["run"], name, "data")).count()
            if m["n_rows"] != rows:
                bad.append(f"{name} lineage rows {m['n_rows']} != data rows {rows}")
        if ras.count() != self.raster_px ** 2:
            bad.append("raster does not cover every destination pixel")
        sink_rows = ctx.spark.read.parquet(rec["sink"]).count()
        if sink_rows != n:
            bad.append(f"sink holds {sink_rows} rows, input has {n}")
        return bad

    def layers(self, ctx: Ctx) -> dict:
        """Three traced ingests into fresh run ids (``ckpt.*`` and
        ``sink.write`` spans, averaged by the caller), then forced tile and
        warp prefixes."""
        tr = ctx.tr
        tr.enabled = True
        for r in range(3):
            run = tr.run_id = f"traced{r}"
            rec = self.run(ctx, run, os.path.join(self.root, run + "-sink"))
            stage_s = {s["name"]: s["end"] - s["start"] for s in tr.spans
                       if s["run_id"] == run and s["name"].startswith("ckpt.stage.")}
            for name, m in rec["pipeline"].metrics().items():
                ctx.add(f"ckpt.{name}.wall_ms", m["wall_ms"])
                ctx.add("ckpt.commit_s", stage_s[f"ckpt.stage.{name}"] - m["wall_ms"] / 1e3)
            ctx.add("ckpt.bytes_written_mb", rec["written"] / 2**20)
            ctx.add("ckpt.write_amp", rec["written"] / ctx.inputs.input_bytes)
            ctx.add("ckpt.resume_stage_s", rec["resume_s"] / len(STAGES))
        tr.enabled = False
        pts = ctx.points()
        tiles = tile_rollup(pts, zoom=TILE_ZOOM)
        t_scan = _median_time(lambda: _noop(pts))
        t_tiles = _median_time(lambda: _noop(tiles))
        t_warp = _median_time(lambda: _noop(self._raster(ctx)))
        return {"index.tiles.busy_s": t_tiles - t_scan, "index.tiles.groups": tiles.count(),
                "warp.busy_s": t_warp, "warp.taps_per_s": 4 * self.raster_px ** 2 / t_warp}


# ------------------------------------------------------------ query_loop ---

CELL_RES = 8      # resolution of the cells the queries read
KINDS = ("cell_count", "knn", "pip_cell")
KNN_K = 5


def _knn_np(inp: gen.Inputs, qi: int) -> list[int]:
    """pids of the KNN_K nearest points by the haversine of ``haversine_col``,
    ties broken by pid, as ``knn_join`` orders them."""
    la1, lo1 = np.radians(inp.q_lat[qi]), np.radians(inp.q_lon[qi])
    la2, lo2 = np.radians(inp.lat), np.radians(inp.lon)
    h = (np.sin((la2 - la1) / 2) ** 2
         + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2)
    d = 2.0 * EARTH_RADIUS_SPHERE * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))
    near = np.argpartition(d, 4 * KNN_K)[:4 * KNN_K]
    order = np.lexsort((inp.pid[near], d[near]))[:KNN_K]
    return inp.pid[near][order].tolist()


def _query_df(spark, inp: gen.Inputs, qi: int):
    """Query point ``qi``, read from the generated query table."""
    return spark.read.parquet(inp.queries_path).where(F.col("query_id") == qi)


def _by_rank(rows) -> list[int]:
    return [r["pid"] for r in sorted(rows, key=lambda r: r["rank"])]


class QueryLoop(Workload):
    """Small interactive queries against the Z-order sink that the set-up's
    checkpointed ingest wrote, in a fixed round-robin of kinds over the
    seeded query points."""

    name = "query_loop"
    warmup_ops = len(KINDS)
    settle_ops = 6 * len(KINDS)

    def __init__(self):
        self.ingests: list[dict] = []     # one per set-up

    def kind(self, i: int) -> str:
        return KINDS[i % len(KINDS)]

    def sizes(self, smoke: bool) -> gen.Sizes:
        if smoke:
            return gen.Sizes(points=40_000, files=4, row_group=4096, queries=30,
                             tiles_across=2, tile_px=32)
        return gen.Sizes(points=300_000, files=8, row_group=16_384, queries=600,
                         tiles_across=8, tile_px=64)

    def prepare(self, ctx: Ctx) -> list[str]:
        self.sink = os.path.join(ctx.work, "sink")
        self.ingest = Ingest(ctx)
        self.ingests.append(self.ingest.run(ctx, "ingest", self.sink))
        self.sink_files = sum(1 for f in os.listdir(self.sink) if f.endswith(".parquet"))
        # the kNN ring must hold k neighbours: coarser cells for sparse tables
        self.knn_res = 5 if ctx.smoke else 8
        self.results: list[tuple[str, int, object]] = []
        return self.ingests[-1]["failures"]

    def _cell(self, ctx: Ctx, qi: int) -> int:
        return int(cell_id_np(ctx.inputs.q_lon[qi], ctx.inputs.q_lat[qi], CELL_RES))

    def op(self, ctx: Ctx, i: int) -> None:
        tr, spark = ctx.tr, ctx.spark
        kind, qi = self.kind(i), i % len(ctx.inputs.q_lon)
        if kind == "cell_count":
            with tr.span("sink.read"):
                with tr.span("plan.build"):
                    df = read_spatial_cell(spark, self.sink, self._cell(ctx, qi),
                                           CELL_RES, SINK_RES).agg(F.count("*").alias("n"))
                if tr.enabled:
                    _plan(ctx, df)
                with tr.span("exec"):
                    out = df.first()["n"]
            if tr.enabled:
                m = last_sql_metrics(spark)
                ctx.add("sink.files_scanned_frac",
                        metric_sum(m, "Scan parquet", "number of files read") / self.sink_files)
                ctx.add("sink.rows_scanned", metric_sum(m, "Scan parquet", "number of output rows"))
                ctx.add("sink.rows_returned", out)
        elif kind == "knn":
            with tr.span("knn.query"):
                with tr.span("plan.build"):
                    pts = spark.read.parquet(self.sink).select("pid", "lon", "lat")
                    with tr.span("knn.call"):
                        df = knn_join(_query_df(spark, ctx.inputs, qi), pts, k=KNN_K,
                                      res=self.knn_res, point_id="pid")
                    df = df.select("pid", "rank")
                if tr.enabled:
                    _plan(ctx, df)
                with tr.span("exec"):
                    out = _by_rank(df.collect())
            if tr.enabled:
                m = last_sql_metrics(spark)
                ctx.add("knn.candidates_per_query",
                        metric_sum(m, "BroadcastHashJoin", "number of output rows")
                        + metric_sum(m, "SortMergeJoin", "number of output rows"))
        else:
            with tr.span("plan.build"):
                pts = read_spatial_cell(spark, self.sink, self._cell(ctx, qi), CELL_RES, SINK_RES)
                with tr.span("pip.call"):
                    df = pip_join(pts, ctx.polygons(), res=POLY_RES)
                df = df.groupBy("poly_id").count()
            if tr.enabled:
                _plan(ctx, df)
            with tr.span("exec"):
                out = {r["poly_id"]: r["count"] for r in df.collect()}
        self.results.append((kind, qi, out))

    def extras(self, ctx: Ctx) -> dict:
        out = {f"query_p50_ms.{kind}": (1e3 * statistics.median(
            dt for i, dt in ctx.op_lat.items() if self.kind(i) == kind), "ms")
            for kind in KINDS}
        out["resume_s"] = (statistics.median(r["resume_s"] for r in self.ingests), "s")
        out["write_amp"] = (self.ingests[-1]["written"] / ctx.inputs.input_bytes, "ratio")
        return out

    def check(self, ctx: Ctx) -> tuple[int, list[str]]:
        inp = ctx.inputs
        cells = cell_id_np(inp.lon, inp.lat, CELL_RES)
        bad, twin_checked = [], 0
        for kind, qi, out in self.results:
            in_cell = cells == self._cell(ctx, qi)
            if kind == "cell_count":
                want = int(in_cell.sum())
            elif kind == "pip_cell":
                want = {p: n for p, (n, _) in _expected_zonal(
                    inp.lon[in_cell], inp.lat[in_cell], inp.layer).items()}
            else:
                want = _knn_np(inp, qi)
                if not twin_checked:   # the engine's twin is a full cross join: once
                    twin_checked = 1
                    twin = _by_rank(knn_bruteforce(
                        _query_df(ctx.spark, inp, qi), ctx.points().select("pid", "lon", "lat"),
                        k=KNN_K, point_id="pid").collect())
                    if twin != want:
                        bad.append(f"knn_bruteforce query {qi}: {twin} != numpy {want}")
            if out != want:
                bad.append(f"{kind} query {qi}: got {str(out)[:80]} want {str(want)[:80]}")
        bad += self.ingest.check(ctx, self.ingests[-1])
        return len(self.results) + twin_checked + 1, bad

    def layers(self, ctx: Ctx) -> dict:
        scanned = sum(ctx.layer.pop("sink.rows_scanned", [0]))
        returned = sum(ctx.layer.pop("sink.rows_returned", [0]))
        return {"sink.rows_scanned_per_row_returned": scanned / max(returned, 1),
                **self.ingest.layers(ctx)}


WORKLOADS = {w.name: w for w in (JoinBulk, QueryLoop)}
