"""Checkpoint/lineage pipeline tests: resume-from-checkpoint semantics,
per-file lineage rows, metrics — the north rule's persistence story."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from projcl_spark.plans.checkpoint import Pipeline


class _Injected(RuntimeError):
    """The failure a fault-injection test raises on purpose."""


def _build(spark, root, run_id, counter, fail_in_fn=False):
    p = Pipeline(spark, root, run_id)

    def s1():
        counter["s1"] += 1
        return spark.range(1000).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        )

    def s2(df):
        counter["s2"] += 1
        if fail_in_fn:
            raise _Injected("agg fn")
        return df.groupBy("k").agg(F.count("*").alias("n"))

    def s3(df):
        counter["s3"] += 1
        return df.agg(F.sum("n").alias("total"))

    p.stage("gen", s1)
    p.stage("agg", s2, inputs=("gen",))
    out = p.stage("total", s3, inputs=("agg",))
    return p, out


def test_pipeline_runs_and_resumes(spark, tmp_path):
    root, run_id = str(tmp_path), f"run-{uuid.uuid4().hex[:8]}"
    counter = {"s1": 0, "s2": 0, "s3": 0}

    p1, out1 = _build(spark, root, run_id, counter)
    assert out1.first()["total"] == 1000
    assert p1.ran == ["gen", "agg", "total"] and not p1.resumed
    assert counter == {"s1": 1, "s2": 1, "s3": 1}

    # same run id → every stage resumes from checkpoint, zero recompute
    p2, out2 = _build(spark, root, run_id, counter)
    assert out2.first()["total"] == 1000
    assert p2.resumed == ["gen", "agg", "total"] and not p2.ran
    assert counter == {"s1": 1, "s2": 1, "s3": 1}


def test_pipeline_resumes_mid_run(spark, tmp_path):
    """Crash after stage 2 → re-run recomputes ONLY stage 3."""
    root, run_id = str(tmp_path), f"run-{uuid.uuid4().hex[:8]}"
    counter = {"s1": 0, "s2": 0, "s3": 0}

    # simulate a partial run: execute only the first two stages
    p = Pipeline(spark, root, run_id)
    p.stage("gen", lambda: (counter.__setitem__("s1", counter["s1"] + 1),
                            spark.range(1000).select("id", (F.col("id") % 7).alias("k")))[1])
    p.stage("agg", lambda df: (counter.__setitem__("s2", counter["s2"] + 1),
                               df.groupBy("k").agg(F.count("*").alias("n")))[1],
            inputs=("gen",))

    p2, out = _build(spark, root, run_id, counter)
    assert out.first()["total"] == 1000
    assert p2.resumed == ["gen", "agg"] and p2.ran == ["total"]
    assert counter == {"s1": 1, "s2": 1, "s3": 1}


def _inject(monkeypatch, point):
    """Arm one failure in the middle stage ("agg") after its ``fn`` ran:
    right after its data write (data on disk, no marker) or in its ``_OK``
    rename.  A failure in ``fn`` itself needs no patch:
    ``_build(fail_in_fn=True)`` raises there."""
    if point == "after_data_write":
        write = Pipeline._write

        def write_then_fail(self, df, path):
            write(self, df, path)
            if path == os.path.join(self._dir("agg"), "data"):
                raise _Injected(point)

        monkeypatch.setattr(Pipeline, "_write", write_then_fail)
    elif point == "ok_rename":
        replace = os.replace

        def failing_replace(src, dst):
            if dst.endswith(os.path.join("agg", "_OK")):
                raise _Injected(point)
            replace(src, dst)

        monkeypatch.setattr(os, "replace", failing_replace)


@pytest.mark.parametrize("point", ["fn", "after_data_write", "ok_rename"])
def test_pipeline_resumes_after_failure(spark, tmp_path, monkeypatch, point):
    """A failure anywhere in a stage before its ``_OK`` commit leaves the
    stage uncommitted: a fresh Pipeline on the same run id serves the
    committed stage from its checkpoint, re-runs exactly the failed stage
    and those after it, and every stage's lineage counts its data rows."""
    root, run_id = str(tmp_path), f"run-{uuid.uuid4().hex[:8]}"
    counter = {"s1": 0, "s2": 0, "s3": 0}

    with monkeypatch.context() as m:
        _inject(m, point)
        with pytest.raises(_Injected):
            _build(spark, root, run_id, counter, fail_in_fn=point == "fn")
    assert counter == {"s1": 1, "s2": 1, "s3": 0}

    p, out = _build(spark, root, run_id, counter)
    assert out.first()["total"] == 1000
    assert p.resumed == ["gen"] and p.ran == ["agg", "total"]
    assert counter == {"s1": 1, "s2": 2, "s3": 1}

    lin = {r["stage"]: r["n"] for r in p.lineage().groupBy("stage")
           .agg(F.sum("n_rows").alias("n")).collect()}
    data = {s: spark.read.parquet(os.path.join(root, run_id, s, "data")).count()
            for s in ("gen", "agg", "total")}
    assert lin == data == {"gen": 1000, "agg": 7, "total": 1}


def _rows_per_file(spark, data_dir):
    """Rows of each data file under ``data_dir`` in sorted name order,
    counted by reading the data."""
    names = sorted(f for f in os.listdir(data_dir) if not f.startswith(("_", ".")))
    by_file = {os.path.basename(f): n for f, n in spark.read.parquet(data_dir)
               .groupBy(F.input_file_name()).count().collect()}
    return [by_file.get(f, 0) for f in names]


def test_lineage_and_metrics(spark, tmp_path):
    root, run_id = str(tmp_path), f"run-{uuid.uuid4().hex[:8]}"
    counter = {"s1": 0, "s2": 0, "s3": 0}
    p, _ = _build(spark, root, run_id, counter)

    sc = spark.sparkContext
    group = f"ckpt-meta-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "metrics and lineage read the markers only")
    try:
        m = p.metrics()
        lin_df = p.lineage()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    lin = lin_df.toPandas()
    assert set(lin.columns) == {"run_id", "stage", "partition_id", "n_rows",
                                "wall_ms", "inputs", "finished_at"}
    assert set(lin["stage"]) == {"gen", "agg", "total"}
    assert lin[lin.stage == "gen"]["n_rows"].sum() == 1000
    assert lin[lin.stage == "total"]["n_rows"].sum() == 1
    for stage in ("gen", "agg", "total"):
        data_dir = os.path.join(root, run_id, stage, "data")
        got = lin[lin.stage == stage].sort_values("partition_id")
        assert list(got["partition_id"]) == list(range(len(got)))
        assert list(got["n_rows"]) == _rows_per_file(spark, data_dir)
        assert m[stage]["n_rows"] == spark.read.parquet(data_dir).count()

    assert m["gen"]["n_rows"] == 1000
    assert m["agg"]["inputs"] == ["gen"]
    assert all(v["wall_ms"] >= 0 for v in m.values())


def test_marker_without_rows_reruns(spark, tmp_path):
    """A ``_OK`` marker written before per-file counts (no ``rows``) is not
    a commit: the stage re-runs and its metrics count what it wrote."""
    root, run_id = str(tmp_path), f"run-{uuid.uuid4().hex[:8]}"
    os.makedirs(os.path.join(root, run_id, "gen"))
    with open(os.path.join(root, run_id, "gen", "_OK"), "w") as f:
        json.dump({"stage": "gen", "wall_ms": 280, "inputs": []}, f)
    counter = {"s1": 0, "s2": 0, "s3": 0}

    p, out = _build(spark, root, run_id, counter)
    assert out.first()["total"] == 1000
    assert p.ran == ["gen", "agg", "total"] and not p.resumed
    assert p.metrics()["gen"]["n_rows"] == 1000


def test_duplicate_stage_rejected(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path), "r1")
    p.stage("a", lambda: spark.range(3))
    with pytest.raises(ValueError):
        p.stage("a", lambda: spark.range(3))


def test_flagship_pipeline_runs_and_resumes(spark, tmp_path):
    """The real docs→spans→project→PIP→rollup flow, checkpointed: a second
    invocation resumes every stage; a partial run resumes mid-pipeline."""
    from projcl_spark.plans.flagship import flagship_pipeline

    root, run_id = str(tmp_path), "flag-1"
    p1, out1 = flagship_pipeline(spark, root, run_id, n_docs=400)
    r1 = {r["poly_id"]: (r["n_hits"], r["n_docs"]) for r in out1.collect()}
    assert p1.ran == ["docs", "spans", "projected", "pip", "rollup"]
    assert len(r1) > 0

    p2, out2 = flagship_pipeline(spark, root, run_id, n_docs=400)
    r2 = {r["poly_id"]: (r["n_hits"], r["n_docs"]) for r in out2.collect()}
    assert p2.resumed == ["docs", "spans", "projected", "pip", "rollup"]
    assert not p2.ran
    assert r1 == r2

    lin = p2.lineage().groupBy("stage").count().count()
    assert lin == 5


def test_iceberg_seam(spark, tmp_path):
    """Drive the table_format="iceberg" checkpoint path end-to-end when the
    iceberg-spark runtime jar is on the classpath; otherwise verify the seam
    fails loudly (and skip).  On a real cluster this is the north-star
    Iceberg scan/sink path — identical stage/lineage/resume contract."""
    from projcl_spark.plans.checkpoint import Pipeline, iceberg_available

    if not iceberg_available(spark):
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            Pipeline(spark, str(tmp_path), "run_ice", table_format="iceberg")
        # jar fetch attempted 2026-08-17 (r3), retried 2026-08-17 (r4)
        # and 2026-08-18 (r5, curl: "Could not resolve host"):
        # repo1.maven.org does not resolve from this sandbox (curl exit 6,
        # DNS failure), so spark.jars.packages cannot pull
        # iceberg-spark-runtime; the seam stays verified-to-reject until
        # run on a connected cluster.
        pytest.skip("iceberg-spark runtime jar not in this container; "
                    "seam verified to reject cleanly")
    if spark.conf.get("spark.sql.catalog.projcl", None) is None:
        with pytest.raises(RuntimeError, match="spark.sql.catalog"):
            Pipeline(spark, str(tmp_path), "run_ice", table_format="iceberg")
        pytest.skip("iceberg jar present but no spark.sql.catalog.projcl "
                    "configured; catalog guard verified to reject cleanly")
    p = Pipeline(spark, str(tmp_path), "run_ice", table_format="iceberg")
    out = p.stage("s1", lambda: spark.range(10).withColumnRenamed("id", "v"))
    assert out.count() == 10
    # resume from the Iceberg table, not recompute
    p2 = Pipeline(spark, str(tmp_path), "run_ice", table_format="iceberg")
    assert p2.stage("s1", lambda: spark.range(0)).count() == 10
    assert p2.resumed == ["s1"]


def test_scratch_tag_cleanup_and_isolation(spark, tmp_path):
    """Tagged scratch dirs: a new input fingerprint replaces stale
    siblings of the SAME name; other names (other sf dirs) are untouched;
    untagged paths never delete anything."""
    import __spark_entry__ as E

    old = spark.conf.get("spark.projcl.scratchDir", None)
    spark.conf.set("spark.projcl.scratchDir", str(tmp_path))
    try:
        a1 = E._scratch_path(spark, "x_sf1", tag="aaa")
        os.makedirs(a1)
        b1 = E._scratch_path(spark, "x_sf2", tag="ccc")
        os.makedirs(b1)
        a2 = E._scratch_path(spark, "x_sf1", tag="bbb")  # new fingerprint
        assert not os.path.exists(a1), "stale same-name tag must be removed"
        assert os.path.exists(b1), "other names must be untouched"
        assert a2.endswith("x_sf1_bbb")
        plain = E._scratch_path(spark, "x_sf1")  # untagged: no cleanup
        assert os.path.exists(b1)
        assert plain == str(tmp_path / "x_sf1")
        assert E._fs_url(plain).startswith("file://")
        assert E._fs_url("hdfs://h/p") == "hdfs://h/p"
    finally:
        if old is None:
            spark.conf.unset("spark.projcl.scratchDir")
        else:
            spark.conf.set("spark.projcl.scratchDir", old)
