"""Streaming ops (windowed cell counts, stateful sessionize) vs their batch
twins, and multimodal plumbing (decode/resize/frames/embed)."""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from projcl_spark.operators import media
from projcl_spark.streaming.ops import (
    event_points,
    sessionize,
    sessionize_batch_oracle,
    stream_cell_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("events_in"))
    spark.read.parquet(f"{SF}/events.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(p)
    return p


def test_stream_cell_counts_matches_batch(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    out = stream_cell_counts(stream)
    name = f"cells_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        # MUST terminate: a timeout would leave a partial memory sink and
        # the subset assertion below would pass vacuously
        assert q.awaitTermination(120), "stream did not terminate"
    finally:
        q.stop()
    got = spark.sql(f"SELECT * FROM {name}").toPandas()

    batch = (
        event_points(spark.read.parquet(events_dir))
        .groupBy(F.window("ts", "5 minutes").alias("win"), "cell_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "cell_id", "n")
        .toPandas()
    )
    key = ["win_start", "cell_id"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    # append-mode emits only watermark-closed windows → subset of batch
    merged = g.merge(b, on=key, suffixes=("_s", "_b"))
    assert len(merged) == len(g) and (merged["n_s"] == merged["n_b"]).all()
    assert len(g) > 0


def test_sessionize_matches_batch_oracle(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        sessionize(stream).writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(180), "stream did not terminate"
    finally:
        q.stop()
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    oracle = sessionize_batch_oracle(spark.read.parquet(events_dir)).toPandas()

    # streamed CLOSED sessions must appear in the batch oracle with
    # identical boundaries and event counts
    okey = {(r.user_id, r.session_start, r.session_end): r.n_events
            for r in oracle.itertuples()}
    assert len(got) > 0
    for r in got.itertuples():
        k = (r.user_id, r.session_start, r.session_end)
        assert k in okey and okey[k] == r.n_events, k


def test_stream_dedup_collapses_replays(spark, tmp_path):
    """Explicitly replayed rows (at-least-once ingestion) collapse to one
    row per key; emitted set == batch DISTINCT of the keys."""
    from projcl_spark.streaming.ops import stream_dedup

    rows = [
        # (event_id, user_id) — event_id 3 and 53 share bucket 3 (mod 50),
        # and ids 7/7 are a literal replay
        (3, 1, "2024-01-01 10:00:00"), (53, 1, "2024-01-01 10:01:00"),
        (7, 2, "2024-01-01 10:02:00"), (7, 2, "2024-01-01 10:02:00"),
        (3, 2, "2024-01-01 10:03:00"),  # same bucket, different user → kept
    ]
    p = str(tmp_path / "dedup_in")
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(p)
    schema = spark.read.parquet(p).schema
    stream = spark.readStream.schema(schema).parquet(p)
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        stream_dedup(stream).writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120), "stream did not terminate"
    finally:
        q.stop()
    got = {(r.user_id, r.bucket) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {(1, 3), (2, 7), (2, 3)}


def test_stream_pip_matches_batch(spark, tmp_path):
    """Stateless stream-static PIP enrichment: availableNow append output
    must equal the batch pip_join row-for-row (no watermark/state)."""
    import uuid

    from projcl_spark.operators.pip import pip_join
    from projcl_spark.sources.synth import polygons_df
    from projcl_spark.streaming.ops import event_points, stream_pip

    rows = [(i, 7 * i % 40, f"2024-01-01 10:{i % 60:02d}:00") for i in range(400)]
    p = str(tmp_path / "pip_in")
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp")).repartition(4).write.parquet(p)
    polys = polygons_df(spark, 16, res=6)
    schema = spark.read.parquet(p).schema
    stream = spark.readStream.schema(schema).parquet(p)
    name = f"spip_{uuid.uuid4().hex[:8]}"
    q = (stream_pip(stream, polys, res=6).writeStream.format("memory")
         .queryName(name).outputMode("append").trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120), "stream did not terminate"
    finally:
        q.stop()
    got = {(r.event_id, r.poly_id) for r in spark.sql(f"SELECT * FROM {name}").collect()}
    batch = pip_join(event_points(spark.read.parquet(p)), polys, res=6)
    want = {(r.event_id, r.poly_id) for r in batch.select("event_id", "poly_id").collect()}
    assert got == want and len(want) > 0


def test_media_decode_roundtrip(spark):
    m = media.synth_media(spark, 50)
    meta = m.select("media_ref", "kind", media.decode_meta("data").alias("meta"))
    bad = meta.filter(F.col("kind") != F.col("meta.kind")).count()
    assert bad == 0
    rows = meta.select("meta.width", "meta.height", "meta.n_frames").toPandas()
    assert ((rows["width"] >= 64) & (rows["width"] < 1024)).all()
    assert ((rows["n_frames"] >= 1) & (rows["n_frames"] <= 240)).all()


def test_media_header_truncated_nulls():
    """A header whose 5th '|' lands past the 64-byte parse slice must null
    out, not silently parse truncated numerics (ADVICE r3: frames '789'
    cut to '78' was a plausible wrong value with no signal)."""
    import pandas as pd

    long_kind = "k" * 60  # pushes the frames field past byte 64
    good = b"PCLMEDIA|video|320|240|789|payloadbytes"
    trunc = f"PCLMEDIA|{long_kind}|320|240|789|payload".encode()
    out = media._parse_headers(pd.Series([good, trunc], dtype=object))
    assert out.loc[0, "kind"] == "video" and out.loc[0, "n_frames"] == 789
    assert pd.isna(out.loc[1, "kind"]) and pd.isna(out.loc[1, "n_frames"])
    assert pd.isna(out.loc[1, "width"]) and pd.isna(out.loc[1, "height"])
    assert out.loc[1, "n_bytes"] == len(trunc)  # length still reported


def test_media_decode_pixels_codec_seam_is_opt_in():
    """decode_pixels must run the SQL-expressible stub by default even if
    Pillow is importable; the real-codec seam is explicit opt-in."""
    import pytest

    blob = b"PCLMEDIA|image|4|3|1|abcdef"
    px = media.decode_pixels(blob, 4, 3)
    payload = b"abcdef"
    assert px.shape == (3, 4)
    assert px[0, 0] == payload[0] and px[1, 2] == payload[(31 * 2 + 17) % 6]
    with pytest.raises(NotImplementedError):
        media.decode_pixels(blob, 4, 3, use_codec=True)


def test_media_resize_stats_deterministic(spark):
    m = media.synth_media(spark, 20)
    a = media.resize_stats(m).toPandas().sort_values("media_ref").reset_index(drop=True)
    b = media.resize_stats(m.repartition(5)).toPandas().sort_values("media_ref").reset_index(drop=True)
    assert (a["mean_e3"] == b["mean_e3"]).all()
    assert ((a["out_w"] <= 32) & (a["out_h"] <= 32)).all()


def test_media_embed_stub_normalized(spark):
    m = media.synth_media(spark, 20)
    e = media.embed_stub(m, dim=16).toPandas()
    assert len(e) == 20
    norms = np.array([np.linalg.norm(v) for v in e["embedding"]])
    np.testing.assert_allclose(norms, 1.0, atol=1e-5)


def test_ivf_pq_deterministic_and_compressed(spark):
    """IVF-PQ: (a) identical results across repartitionings (argmax
    encode + quantized ranking are layout-independent); (b) the candidate
    side really is compressed — the plan carries codes, not the float
    vector."""
    from projcl_spark.operators.ann import (
        cosine_topk_ivf_pq, fixed_centroids, fixed_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    C = fixed_centroids(64, 16, 7)
    B = fixed_codebooks(64, 8, 16, 11)
    q = emb.filter(F.col("vec_id") < 8)
    a = cosine_topk_ivf_pq(q, emb, k=3, centroids=C, codebooks=B).toPandas()
    b = cosine_topk_ivf_pq(q.repartition(5), emb.repartition(7), k=3,
                           centroids=C, codebooks=B).toPandas()
    key = ["query_id", "rank"]
    pa = a.sort_values(key).reset_index(drop=True)
    pb = b.sort_values(key).reset_index(drop=True)
    assert pa.equals(pb) and len(pa) > 0


def test_lsh_ann_recall(spark):
    """LSH-bucketed ANN finds most of the exact top-3 (scale path recall)."""
    from projcl_spark.operators.ann import cosine_topk, cosine_topk_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 24)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(q, emb, k=3).collect()}
    # random synthetic embeddings are near-orthogonal (top-3 cosine ~0.3),
    # the hardest case for hyperplane LSH — short signatures + many tables
    lsh = {(r.query_id, r.neighbor_id)
           for r in cosine_topk_lsh(q, emb, k=3, n_bits=3, n_tables=8).collect()}
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_ann_recall(spark):
    """IVF-bucketed ANN (driver-side spherical k-means + inverted lists)
    recovers most exact top-3 neighbors with n_probe=6 of 16 cells."""
    from projcl_spark.operators.ann import cosine_topk, cosine_topk_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 24)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(q, emb, k=3).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in cosine_topk_ivf(q, emb, k=3, n_cells=16, n_probe=6).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_deterministic(spark):
    from projcl_spark.operators.ann import cosine_topk_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    a = cosine_topk_ivf(q, emb, k=3).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = cosine_topk_ivf(q.repartition(3), emb.repartition(7), k=3).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert (a["neighbor_id"] == b["neighbor_id"]).all()


def test_stream_geofence_cross_batch_boundary(spark, tmp_path):
    """A user whose fence crossing straddles two micro-batches emits the
    transition EXACTLY once (from the batch that observes the flip), and
    the full emitted set equals the batch operator.  Two parquet files +
    maxFilesPerTrigger=1 force two ordered micro-batches."""
    import uuid

    import numpy as np

    from projcl_spark.operators.trajectory import geofence_transitions
    from projcl_spark.sources.synth import polygon_cover_cells
    from projcl_spark.streaming.ops import stream_geofence
    from projcl_spark.oracle import derived_lonlat

    # fence = unit square matching PIP res 7 conventions
    p = {"poly_id": 0,
         "xs": np.array([0.0, 20.0, 20.0, 0.0]),
         "ys": np.array([0.0, 0.0, 20.0, 20.0])}
    polys = spark.createDataFrame(
        [(0, [0.0, 20.0, 20.0, 0.0], [0.0, 0.0, 20.0, 20.0],
          [int(c) for c in polygon_cover_cells(p, 7)])],
        "poly_id long, xs array<double>, ys array<double>, cells array<long>")

    # stream_geofence derives lon/lat from event_id; probe the derivation
    # to build a ping sequence that actually crosses the fence
    lon_e, lat_e = derived_lonlat("'events:' || CAST(event_id AS STRING)",
                                  "spark")
    probe = spark.range(400).select(
        F.col("id").alias("event_id"),
        F.expr(lon_e).alias("lon"), F.expr(lat_e).alias("lat"))
    inside_ids, outside_ids = [], []
    for r in probe.collect():
        (inside_ids if (0 < r["lon"] < 20 and 0 < r["lat"] < 20)
         else outside_ids).append(r["event_id"])
    assert len(inside_ids) >= 2 and len(outside_ids) >= 2

    # user 1: out, in | (batch split) | in, out  -> enter + exit, the
    # exit observed in batch 2 relative to batch-1 boundary state
    seq = [outside_ids[0], inside_ids[0], inside_ids[1], outside_ids[1]]
    ts = ["2024-01-01 10:0%d:00" % i for i in range(4)]
    rows1 = [(seq[0], 1, ts[0]), (seq[1], 1, ts[1])]
    rows2 = [(seq[2], 1, ts[2]), (seq[3], 1, ts[3])]
    d = str(tmp_path / "geo_in")
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(rows, "event_id long, user_id long, ts string") \
            .withColumn("ts", F.col("ts").cast("timestamp")) \
            .coalesce(1).write.mode("append").parquet(d)
    # batch reference over the SAME rows
    allrows = spark.read.parquet(d)
    lon_e2, lat_e2 = derived_lonlat("'events:' || CAST(event_id AS STRING)",
                                    "spark")
    ev = allrows.select("user_id", "ts", "event_id",
                        F.expr(lon_e2).alias("lon"), F.expr(lat_e2).alias("lat"))
    want = sorted((r["user_id"], r["t_us"], r["direction"]) for r in
                  geofence_transitions(ev, polys, order_id="event_id", res=7)
                  .withColumn("t_us", F.col("t_us").cast("long")).collect())

    schema = allrows.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    name = f"geof_{uuid.uuid4().hex[:8]}"
    q = (stream_geofence(stream, polys, res=7)
         .writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(180), "stream did not terminate"
    finally:
        q.stop()
    got = sorted((r["user_id"], r["t_us"], r["direction"]) for r in
                 spark.sql(f"SELECT * FROM {name}").collect())
    assert got == want and len(got) == 2


def test_concurrent_drains_restore_shuffle_partitions(spark):
    """Two availableNow drains started at once on one session (the driver
    contract's streaming scaffold lowers the session-global shuffle
    partitions around ``start()``): both return the rows of a lone drain
    and the session's value is restored afterwards."""
    import os
    import sys
    import threading
    from collections import Counter

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    def drain():
        name = E._run_available_now(spark, SF, "stream_cells", 4, stream_cell_counts)
        return Counter(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))

    before = spark.conf.get("spark.sql.shuffle.partitions")
    want = drain()   # also stages the drain's input once
    assert want and spark.conf.get("spark.sql.shuffle.partitions") == before
    for _ in range(2):
        gate, got, errs = threading.Barrier(2), [], []

        def run():
            gate.wait(60)
            try:
                got.append(drain())
            except Exception as ex:  # surfaced by the assert below
                errs.append(ex)

        threads = [threading.Thread(target=run) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(600)
        assert not any(t.is_alive() for t in threads), "a drain hung"
        assert not errs and got == [want, want]
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
