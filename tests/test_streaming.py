"""Streaming service + windowed-stream tests (SURVEY §2.4 X1-X9).

Exercises: drain-and-exit trigger (X1), one-file-per-trigger
backpressure (X2), dead-letter quarantine (X7/K11), untouched
completion for non-raw uploads (T4), pmtiles passthrough (T5),
progress ledger rows 0->30->per-chunk->100 (T15/X9), external cancel
(X5/X6), checkpointed exactly-once ledger append across restarts
(K10), and batch/stream window parity (X8).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from geohub_data_pipeline_spark.streaming.service import IngestService
from geohub_data_pipeline_spark.streaming import windows as W
from geohub_data_pipeline_spark.sources.tables import load_table


def _write_msgs(d: str, name: str, msgs: list[dict]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")


URL = "https://acct.blob.core.windows.net/userdata/u1"


@pytest.fixture()
def service(spark, tmp_path):
    """Routing/ledger-machinery fixture: ``simulate=True`` skips the
    real conversions (the message URLs here are synthetic); the real
    pipeline is exercised end-to-end by
    ``test_service_real_pipeline_e2e``."""
    base = str(tmp_path)
    svc = IngestService(
        spark=spark,
        messages_dir=f"{base}/msgs",
        ledger_dir=f"{base}/ledger",
        checkpoint_dir=f"{base}/ckpt",
        cancel_dir=f"{base}/cancel",
        n_chunks=4,
        simulate=True,
    )
    os.makedirs(svc.messages_dir, exist_ok=True)
    os.makedirs(svc.cancel_dir, exist_ok=True)
    return svc


def test_service_routes_and_ledger(service):
    _write_msgs(service.messages_dir, "batch1.json", [
        {"msg_id": 1, "body": f"{URL}/raw/a.gpkg;tok1;join_vector_tiles=true",
         "enqueued_ts": "2024-01-01T00:00:00"},
        {"msg_id": 2, "body": f"{URL}/datasets/b.gpkg;tok2;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:01"},
        {"msg_id": 3, "body": f"{URL}/raw/c.pmtiles;tok3;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:02"},
        {"msg_id": 4, "body": "garbage-no-semicolons",
         "enqueued_ts": "2024-01-01T00:00:03"},
        {"msg_id": 5, "body": f"{URL}/raw/d.tif;tok5;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:04"},
    ])
    _write_msgs(service.cancel_dir, "cancel1.json", [
        {"user": "u1", "url": f"{URL}/raw/d.tif", "cancel": True},
    ])
    service.run_available_now()
    ledger = service.ledger().collect()
    by_dataset: dict = {}
    for r in ledger:
        by_dataset.setdefault(r.dataset, []).append(r)

    # raw vector upload: full progress trail 0 -> 30 -> chunks -> 100
    a = sorted((r.progress for r in by_dataset["userdata/u1/raw/a.gpkg"]))
    assert a == [0, 30, 47, 65, 82, 100, 100]
    stages = {r.stage for r in by_dataset["userdata/u1/raw/a.gpkg"]}
    assert {"downloading", "downloaded", "processed"} <= stages

    # non-raw: completed untouched, nothing else (T4)
    b = by_dataset["userdata/u1/datasets/b.gpkg"]
    assert [r.stage for r in b] == ["completed_untouched"]

    # pmtiles passthrough (T5)
    c = by_dataset["userdata/u1/raw/c.pmtiles"]
    assert [r.stage for r in c] == ["copied"]

    # malformed message dead-lettered (X7)
    errors = [r for r in ledger if r.kind == "error"]
    assert len(errors) == 1 and "dead-letter" in errors[0].content

    # cancelled upload gets Cancelled, no processing rows (X5/X6)
    d = by_dataset["userdata/u1/raw/d.tif"]
    assert [r.stage for r in d] == ["Cancelled"]


def test_simulate_reads_each_message_once(service):
    """A dry run builds its ledger with the real path's per-message
    code, so the micro-batch is read once: the source reports as many
    input rows as there are messages."""
    _write_msgs(service.messages_dir, "batch1.json", [
        {"msg_id": i, "body": f"{URL}/raw/m{i}.gpkg;t;"
         "join_vector_tiles=false", "enqueued_ts": "2024-01-01"}
        for i in range(3)])
    progress = []
    start_once = service._start_once

    def spy(src):
        q = start_once(src)
        progress.extend(q.recentProgress)
        return q
    service._start_once = spy
    service.run_available_now(queue_rate=3)
    assert sum(p.numInputRows for p in progress) == 3
    assert service.ledger().filter("stage = 'processed'").count() == 3


def test_ledger_write_idempotent_on_batch_retry(service, spark):
    """foreachBatch is at-least-once: re-delivering the SAME batch_id
    must not double the ledger (dynamic partition overwrite replaces
    the batch's own partitions and leaves other batches intact)."""
    _write_msgs(service.messages_dir, "batch1.json", [
        {"msg_id": 1, "body": f"{URL}/raw/a.gpkg;tok1;join_vector_tiles=true",
         "enqueued_ts": "2024-01-01T00:00:00"},
    ])
    batch = spark.read.json(service.messages_dir)
    service._process_batch(batch, batch_id=0)
    once = sorted(map(tuple, service.ledger()
                      .select("dataset", "stage", "progress").collect()))
    service._process_batch(batch, batch_id=0)      # simulated retry
    twice = sorted(map(tuple, service.ledger()
                       .select("dataset", "stage", "progress").collect()))
    assert twice == once

    # a different batch_id appends alongside, untouched by retries
    _write_msgs(service.messages_dir, "batch2.json", [
        {"msg_id": 9, "body": f"{URL}/raw/z.tif;tok9;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:01:00"},
    ])
    b2 = spark.read.json(f"{service.messages_dir}/batch2.json")
    service._process_batch(b2, batch_id=1)
    service._process_batch(batch, batch_id=0)      # retry again
    final = service.ledger()
    assert final.filter("batch_id = 1").count() > 0
    assert sorted(map(tuple, final.filter("batch_id = 0")
                      .select("dataset", "stage", "progress")
                      .collect())) == once


def test_service_real_pipeline_e2e(spark, tmp_path):
    """T13 full (ref ingest/processing.py:555-826 via ingest.py:
    210-270): dropping a .gpkg and a .tif message drives the REAL
    probe -> normalize -> tile -> PMTiles / warp -> COG stages; the
    ledger's chunk rows come from the actual probe
    (layers + bands, ref ingest/utils.py:87-123), and valid artifacts
    land under the raw->datasets rewrite of the blob path."""
    import numpy as np

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import pmtiles as PMT
    from geohub_data_pipeline_spark.operators import rasterprobe as RP
    from geohub_data_pipeline_spark.operators.cogwriter import (
        _Level,
        geotiff_bytes,
    )
    from geohub_data_pipeline_spark.sources import geopackage as GP

    raw = tmp_path / "userdata" / "u1" / "raw"
    raw.mkdir(parents=True)
    GP.write_gpkg(str(raw / "sample.gpkg"), {
        "points": [(1, G.wkb_point(12.5, 41.9)),
                   (2, G.wkb_point(-3.7, 40.4))],
        "zones": [(1, G.wkb_polygon([[(0.0, 0.0), (1.0, 0.0),
                                      (1.0, 1.0), (0.0, 1.0),
                                      (0.0, 0.0)]]))],
    }, srid=4326)
    arr = np.arange(48 * 64, dtype=np.float64).reshape(48, 64)
    tile = np.zeros((256, 256))
    tile[:48, :64] = arr
    (raw / "scene.tif").write_bytes(geotiff_bytes(
        [_Level(64, 48, {(0, 0): tile})], epsg=3857,
        pixel_scale=(1000.0, 1000.0), origin=(-2000000.0, 4000000.0)))
    (raw / "ready.pmtiles").write_bytes(b"PMTiles-passthrough-bytes")

    base = str(tmp_path)
    _write_msgs(f"{base}/msgs", "b1.json", [
        {"msg_id": 1,
         "body": f"file://{raw}/sample.gpkg;tok1;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:00"},
        {"msg_id": 2,
         "body": f"file://{raw}/scene.tif;tok2;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:01"},
        {"msg_id": 3,
         "body": f"file://{raw}/ready.pmtiles;tok3;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:02"},
    ])
    svc = IngestService(
        spark=spark,
        messages_dir=f"{base}/msgs",
        ledger_dir=f"{base}/ledger",
        checkpoint_dir=f"{base}/ckpt",
        output_dir=f"{base}/out",
    )
    svc.run_available_now(queue_rate=3)
    ledger = svc.ledger().collect()
    by_ds: dict = {}
    for r in ledger:
        by_ds.setdefault(r.dataset.rsplit("/", 1)[-1], []).append(r)

    # probe-derived chunk rows: one per gpkg layer, one per tif band
    g_stages = [r.stage for r in by_ds["sample.gpkg"]
                if r.kind == "progress"]
    assert "processing layer points" in g_stages
    assert "processing layer zones" in g_stages
    assert {"downloading", "downloaded", "processed"} <= set(g_stages)
    g_prog = sorted(r.progress for r in by_ds["sample.gpkg"]
                    if r.kind == "progress")
    assert g_prog == [0, 30, 65, 100, 100]
    t_stages = [r.stage for r in by_ds["scene.tif"]
                if r.kind == "progress"]
    assert "processing band band1" in t_stages

    # real artifacts: .fgb + per-layer PMTiles for the vector,
    # a valid COG for the raster — all under the datasets rewrite
    arts = {r.dataset.rsplit("/", 1)[-1]: [] for r in ledger
            if r.kind == "artifact"}
    for r in ledger:
        if r.kind == "artifact":
            arts[r.dataset.rsplit("/", 1)[-1]].append(r.content)
    g_arts = arts["sample.gpkg"]
    fgbs = [a for a in g_arts if a.endswith(".fgb")]
    pmts = [a for a in g_arts if a.endswith(".pmtiles")]
    assert len(fgbs) == 2 and len(pmts) == 2      # per-layer mode
    for p in g_arts:
        assert os.path.exists(p) and "/datasets/" in p
    names = {n for p in pmts for n in PMT.pmtiles_layer_names(p)}
    assert names == {"points", "zones"}
    cogs = [a for a in arts["scene.tif"] if a.endswith(".tif")]
    assert len(cogs) == 1
    with open(cogs[0], "rb") as f:
        payload = f.read()
    assert RP.validate_cog(payload)["valid"]
    probe = RP.probe_geotiff(payload)
    assert probe["width"] > 0 and probe["n_overviews"] >= 1

    # K9 passthrough: the .pmtiles bytes were server-side copied
    copied = [r.content for r in by_ds["ready.pmtiles"]
              if r.stage == "copied"]
    assert len(copied) == 1
    with open(copied[0], "rb") as f:
        assert f.read() == b"PMTiles-passthrough-bytes"


def test_service_mbtiles_route(spark, tmp_path):
    """A .mbtiles upload converts tile-level to a PMTiles archive
    through the service (the reference allowlists .mbtiles)."""
    from geohub_data_pipeline_spark.operators import mbtiles as MB
    from geohub_data_pipeline_spark.operators import pmtiles as PMT

    raw = tmp_path / "u" / "raw"
    raw.mkdir(parents=True)
    MB.write_mbtiles(str(raw / "roads.mbtiles"),
                     [(0, 0, 0, b"\x1a\x05tile0"),
                      (1, 1, 1, b"\x1a\x05tile3")],
                     {"name": "roads", "format": "pbf"})
    svc = IngestService(
        spark=spark,
        messages_dir=f"{tmp_path}/msgs",
        ledger_dir=f"{tmp_path}/ledger",
        checkpoint_dir=f"{tmp_path}/ckpt",
        output_dir=f"{tmp_path}/out",
    )
    _write_msgs(svc.messages_dir, "b.json", [
        {"msg_id": 1, "body": f"file://{raw}/roads.mbtiles;t;"
                              "join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:00"},
    ])
    svc.run_available_now()
    rows = svc.ledger().collect()
    arts = [r.content for r in rows if r.kind == "artifact"]
    assert len(arts) == 1 and arts[0].endswith(".pmtiles")
    arch = PMT.read_pmtiles(arts[0])
    assert arch["tiles"][(0, 0, 0)] == b"\x1a\x05tile0"
    stages = {r.stage for r in rows if r.stage}
    assert "processed" in stages
    assert any(s.startswith("processing tileset") for s in stages)


def test_service_ingest_timeout_watchdog(spark, tmp_path, monkeypatch):
    """X4 (ref INGEST_TIMEOUT, ingest/ingest.py:35,126-152): a
    conversion exceeding the per-message budget yields a timeout
    error row + 'Cancelled' stage, and the service moves on."""
    import time as _time

    from geohub_data_pipeline_spark import processing as PROC

    raw = tmp_path / "u" / "raw"
    raw.mkdir(parents=True)
    (raw / "slow.gpkg").write_bytes(b"not really a gpkg")

    def hang(*a, **kw):
        _time.sleep(90)

    monkeypatch.setattr(PROC, "process_geo_file", hang)
    svc = IngestService(
        spark=spark,
        messages_dir=f"{tmp_path}/msgs",
        ledger_dir=f"{tmp_path}/ledger",
        checkpoint_dir=f"{tmp_path}/ckpt",
        output_dir=f"{tmp_path}/out",
        ingest_timeout=1.5,
    )
    _write_msgs(svc.messages_dir, "b.json", [
        {"msg_id": 1, "body": f"file://{raw}/slow.gpkg;t;"
                              "join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:00"},
    ])
    t0 = _time.time()
    svc.run_available_now()
    assert _time.time() - t0 < 60          # did not wait out the hang
    rows = svc.ledger().collect()
    stages = {r.stage for r in rows if r.stage}
    assert "Cancelled" in stages
    errs = [r.content for r in rows if r.kind == "error"]
    assert any("timeout" in (e or "") for e in errs)


def test_service_mid_conversion_cancel(spark, tmp_path, monkeypatch):
    """X5/X6: a cancel request arriving WHILE a conversion runs kills
    its job group and records the Cancelled trail (the reference's
    WebPubSub cancel sets the event mid-processing,
    ref ingest/utils.py:126-131)."""
    import time as _time

    from geohub_data_pipeline_spark import processing as PROC

    raw = tmp_path / "u" / "raw"
    raw.mkdir(parents=True)
    (raw / "slow.gpkg").write_bytes(b"gpkg-ish")
    blob_url = f"file://{raw}/slow.gpkg"
    cancel_dir = tmp_path / "cancel"
    cancel_dir.mkdir()

    def hang(*a, **kw):
        # the conversion itself drops the cancel request mid-flight
        _write_msgs(str(cancel_dir), "c.json", [
            {"user": "u", "url": blob_url, "cancel": True}])
        _time.sleep(120)

    monkeypatch.setattr(PROC, "process_geo_file", hang)
    svc = IngestService(
        spark=spark,
        messages_dir=f"{tmp_path}/msgs",
        ledger_dir=f"{tmp_path}/ledger",
        checkpoint_dir=f"{tmp_path}/ckpt",
        cancel_dir=str(cancel_dir),
        output_dir=f"{tmp_path}/out",
        ingest_timeout=90.0,               # cancel, not timeout
    )
    _write_msgs(svc.messages_dir, "b.json", [
        {"msg_id": 1, "body": f"{blob_url};t;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:00"},
    ])
    t0 = _time.time()
    svc.run_available_now()
    assert _time.time() - t0 < 70          # cancelled, not timed out
    rows = svc.ledger().collect()
    stages = {r.stage for r in rows if r.stage}
    assert "Cancelled" in stages
    errs = [r.content for r in rows if r.kind == "error"]
    assert any("cancelled by user" in (e or "") for e in errs)


def test_service_drain_and_restart_exactly_once(service):
    """X1 drain semantics + K10 checkpoint: re-running after a restart
    must not duplicate ledger rows; new files are picked up."""
    _write_msgs(service.messages_dir, "m1.json", [
        {"msg_id": 1, "body": f"{URL}/raw/x.gpkg;t;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:00"},
    ])
    service.run_available_now()
    n1 = service.ledger().count()
    # restart with no new input: drained queue => no new rows
    service.run_available_now()
    assert service.ledger().count() == n1
    # new message arrives => exactly its rows are appended
    _write_msgs(service.messages_dir, "m2.json", [
        {"msg_id": 2, "body": f"{URL}/raw/y.gpkg;t;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:01:00"},
    ])
    service.run_available_now()
    assert service.ledger().count() == 2 * n1


def test_drain_check_starts_no_empty_round(spark, tmp_path):
    """X1 without the empty round: a query start that would read
    nothing is decided on the driver from the spool listing, so a call
    makes exactly as many starts as it has non-empty receives."""

    def spied(name: str, n_msgs: int):
        base = str(tmp_path / name)
        svc = IngestService(spark=spark, messages_dir=f"{base}/msgs",
                            ledger_dir=f"{base}/ledger",
                            checkpoint_dir=f"{base}/ckpt", simulate=True)
        _write_msgs(svc.messages_dir, "m0.json", [
            {"msg_id": i, "body": f"{URL}/raw/{name}{i}.gpkg;t;"
             "join_vector_tiles=false", "enqueued_ts": "2024-01-01"}
            for i in range(n_msgs)])
        starts = []
        start_once = svc._start_once

        def spy(src):
            starts.append(src)
            return start_once(src)
        svc._start_once = spy
        return svc, starts

    def datasets(svc):
        return {r.dataset.rsplit("/", 1)[-1] for r in svc.ledger()
                .select("dataset").collect()}

    empty, starts = spied("empty", 0)
    empty.run_available_now()                   # nothing spooled yet
    assert len(starts) == 1

    one, starts = spied("one", 1)
    one.run_available_now()
    assert len(starts) == 1 and datasets(one) == {"one0.gpkg"}
    one.run_available_now()                     # drained: one empty start
    assert len(starts) == 2 and datasets(one) == {"one0.gpkg"}

    three, starts = spied("three", 3)
    three.run_available_now(queue_rate=2)       # receives of 2, then 1
    assert len(starts) == 2
    assert datasets(three) == {f"three{i}.gpkg" for i in range(3)}

    late, starts = spied("late", 1)
    process_batch = late._process_batch

    def spool_during_batch(batch_df, batch_id):
        process_batch(batch_df, batch_id)
        if batch_id == 0:
            _write_msgs(late.messages_dir, "m1.json", [
                {"msg_id": 1, "body": f"{URL}/raw/late1.gpkg;t;"
                 "join_vector_tiles=false", "enqueued_ts": "2024-01-01"}])
    late._process_batch = spool_during_batch
    late.run_available_now()
    assert len(starts) == 2
    assert datasets(late) == {"late0.gpkg", "late1.gpkg"}


@pytest.mark.parametrize("maker,batch_builder,end_col,wm_secs", [
    (
        W.tumbling_counts,
        lambda ev: ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"),
                (F.col("w.start") + F.expr("INTERVAL 1 HOUR")).alias("__end"),
                "event_type", "n_events"),
        "__end", 2 * 3600,
    ),
    (
        W.session_stats,
        lambda ev: ev.groupBy(
            F.session_window("ts", "10 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"), "n_events")
        .withColumn("__end", F.col("session_end")),
        "__end", 30 * 60,
    ),
])
def test_stream_batch_window_parity(spark, sf_dir, tmp_path, maker,
                                    batch_builder, end_col, wm_secs):
    """A drained watermarked stream emits exactly the batch windows
    that closed before the final watermark (append-mode contract);
    everything it emits must match batch bit-for-bit."""
    events = load_table(spark, sf_dir, "events").limit(300)
    src = f"{tmp_path}/events_json"
    events.select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("string").alias("ts"),
    ).coalesce(1).write.json(src)

    schema = ("event_id LONG, user_id LONG, event_type STRING, ts STRING")
    stream = (
        spark.readStream.schema(schema).json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out_dir = f"{tmp_path}/out"
    q = (
        maker(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    want = batch_builder(
        events.select("event_id", "user_id", "event_type", "ts"))
    # every emitted window matches the batch computation exactly
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    # every window closed by the final watermark was emitted
    max_ts = events.agg(F.max("ts")).first()[0]
    closed = want.filter(
        F.col(end_col) <= F.lit(max_ts) - F.expr(f"INTERVAL {wm_secs} SECOND")
    ).select(*got.columns)
    assert closed.exceptAll(got).count() == 0
    assert got.count() >= closed.count()


def test_cancel_stream_stream_join(spark, tmp_path):
    """X6: cancel requests joined to in-flight messages within the
    horizon, as a watermarked stream-stream join."""
    msrc, csrc = f"{tmp_path}/msgs2", f"{tmp_path}/cancels2"
    _write_msgs(msrc, "m.json", [
        {"msg_id": 1, "url": f"{URL}/raw/a.gpkg",
         "enqueued_ts": "2024-01-01T00:00:00"},
        {"msg_id": 2, "url": f"{URL}/raw/b.gpkg",
         "enqueued_ts": "2024-01-01T00:05:00"},
        {"msg_id": 3, "url": f"{URL}/raw/c.gpkg",
         "enqueued_ts": "2024-01-01T00:10:00"},
    ])
    _write_msgs(csrc, "c.json", [
        # within horizon of msg 1
        {"user": "u1", "url": f"{URL}/raw/a.gpkg", "cancel": True,
         "sent_ts": "2024-01-01T00:10:00"},
        # cancel=false: ignored
        {"user": "u1", "url": f"{URL}/raw/b.gpkg", "cancel": False,
         "sent_ts": "2024-01-01T00:06:00"},
        # too late for msg 3 (horizon 30 min)
        {"user": "u1", "url": f"{URL}/raw/c.gpkg", "cancel": True,
         "sent_ts": "2024-01-01T02:00:00"},
    ])
    from geohub_data_pipeline_spark.streaming.windows import cancel_stream_join

    msgs = (
        spark.readStream.schema("msg_id long, url string, enqueued_ts string")
        .json(msrc)
        .select("msg_id", F.col("url").alias("blob_url"),
                F.col("enqueued_ts").cast("timestamp").alias("enqueued_ts"))
    )
    cancels = (
        spark.readStream.schema(
            "user string, url string, cancel boolean, sent_ts string")
        .json(csrc)
        .withColumn("sent_ts", F.col("sent_ts").cast("timestamp"))
    )
    out = f"{tmp_path}/cancelled"
    q = (
        cancel_stream_join(msgs, cancels)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{tmp_path}/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert [r.msg_id for r in rows] == [1]
    assert str(rows[0].cancelled_at) == "2024-01-01 00:10:00"


def test_watermark_drops_late_data(spark, tmp_path):
    """X8 late-data policy: events older than the watermark when they
    arrive are dropped from append-mode windows."""
    src = f"{tmp_path}/late_src"

    def run():
        stream = (
            spark.readStream.schema("event_id long, ts string").json(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", f"{tmp_path}/late_ckpt")
            .format("parquet").option("path", f"{tmp_path}/late_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: events up to 01:00 -> watermark advances to 00:50
    _write_msgs(src, "b1.json", [
        {"event_id": 1, "ts": "2024-01-01T00:05:00"},
        {"event_id": 2, "ts": "2024-01-01T00:06:00"},
        {"event_id": 3, "ts": "2024-01-01T01:00:00"},
    ])
    run()
    # batch 2: one event far below the watermark (00:05 window already
    # emitted+closed) and one fresh event
    _write_msgs(src, "b2.json", [
        {"event_id": 4, "ts": "2024-01-01T00:07:00"},   # LATE -> dropped
        {"event_id": 5, "ts": "2024-01-01T01:30:00"},
    ])
    run()
    got = {str(r.ws): r.n
           for r in spark.read.parquet(f"{tmp_path}/late_out").collect()}
    # the 00:00 window was finalized with exactly 2 events — the late
    # arrival did not reopen or re-emit it
    assert got.get("2024-01-01 00:00:00") == 2


def test_progress_log_listener(spark, tmp_path):
    """K7 analog: every micro-batch leaves a queryable progress record."""
    from geohub_data_pipeline_spark.streaming.listener import (
        attach_progress_log,
        detach,
    )

    log_dir = f"{tmp_path}/qlog"
    listener = attach_progress_log(spark, log_dir)
    try:
        src = f"{tmp_path}/lsrc"
        _write_msgs(src, "x.json", [{"v": i} for i in range(5)])
        q = (
            spark.readStream.schema("v long").json(src)
            .writeStream.format("parquet")
            .option("path", f"{tmp_path}/lout")
            .option("checkpointLocation", f"{tmp_path}/lckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import time
        deadline = time.time() + 30
        events = set()
        while time.time() < deadline:
            try:
                log = spark.read.json(log_dir)
                events = {r.event for r in log.select("event").collect()}
                if {"started", "progress", "terminated"} <= events:
                    break
            except Exception:
                pass
            time.sleep(1)
        assert {"started", "progress", "terminated"} <= events, events
        prog = spark.read.json(log_dir).filter("event = 'progress'")
        payload = json.loads(prog.first().payload)
        assert payload["numInputRows"] == 5
    finally:
        detach(spark, listener)


def test_rocksdb_state_store_parity(spark, sf_dir, tmp_path):
    """The RocksDB state-store provider (the at-scale backend) produces
    the same windowed aggregation results as the default provider."""
    from geohub_data_pipeline_spark.streaming.stateful import (
        ROCKSDB_STATE_CONFS, enable_rocksdb_state)

    events = load_table(spark, sf_dir, "events")
    expected = {tuple(r) for r in W.tumbling_counts(events).collect()}

    src_dir = str(tmp_path / "events_src")
    events.write.parquet(src_dir)
    prev = {k: spark.conf.get(k, None) for k in ROCKSDB_STATE_CONFS}
    enable_rocksdb_state(spark)
    try:
        stream = (spark.readStream.schema(events.schema).parquet(src_dir))
        q = (W.tumbling_counts(stream)
             .writeStream.format("memory").queryName("rocksdb_parity")
             .outputMode("complete")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {tuple(r)
               for r in spark.sql("SELECT * FROM rocksdb_parity").collect()}
        assert got == expected
        assert "RocksDB" in spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass")
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_service_concurrent_messages_match_sequential(spark, tmp_path):
    """r9: ``max_concurrent_messages=3`` drains a 5-message batch with
    three conversions in flight (X2 relaxed — the reference's
    one-at-a-time receive exists to bound a single asyncio process's
    RAM, ref ingest/ingest.py:225-233; Spark conversions are
    distributed jobs, so the driver can overlap them) and produces
    EXACTLY the ledger of the sequential service: same rows, same
    artifacts, per-message watchdog/job-group isolation intact."""
    import numpy as np

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators.cogwriter import (
        _Level,
        geotiff_bytes,
    )
    from geohub_data_pipeline_spark.sources import geopackage as GP

    raw = tmp_path / "userdata" / "u1" / "raw"
    raw.mkdir(parents=True)
    for i in range(3):
        GP.write_gpkg(str(raw / f"v{i}.gpkg"), {
            "pts": [(1, G.wkb_point(10.0 + i, 41.0)),
                    (2, G.wkb_point(-3.0, 40.0 - i))],
        }, srid=4326)
    tile = np.zeros((256, 256))
    tile[:32, :32] = np.arange(32 * 32, dtype=np.float64).reshape(32, 32)
    (raw / "r.tif").write_bytes(geotiff_bytes(
        [_Level(32, 32, {(0, 0): tile})], epsg=3857,
        pixel_scale=(1000.0, 1000.0), origin=(0.0, 4000000.0)))
    (raw / "done.pmtiles").write_bytes(b"pm-bytes")

    msgs = [{"msg_id": i + 1,
             "body": f"file://{raw}/{name};tok;join_vector_tiles=false",
             "enqueued_ts": f"2024-01-01T00:00:0{i}"}
            for i, name in enumerate(
                ["v0.gpkg", "v1.gpkg", "v2.gpkg", "r.tif", "done.pmtiles"])]

    def drain(label: str, n_conc: int):
        base = str(tmp_path / label)
        _write_msgs(f"{base}/msgs", "b.json", msgs)
        svc = IngestService(
            spark=spark,
            messages_dir=f"{base}/msgs",
            ledger_dir=f"{base}/ledger",
            checkpoint_dir=f"{base}/ckpt",
            output_dir=f"{base}/out",
            max_concurrent_messages=n_conc,
        )
        svc.run_available_now(queue_rate=8)
        return svc

    seq = drain("seq", 1)
    conc = drain("conc", 3)

    def canon(svc):
        rows = [(r.dataset, r.kind, r.stage, r.progress,
                 # artifact paths differ by the seq/conc root prefix
                 (r.content or "").split("/out/")[-1])
                for r in svc.ledger().collect()]
        return sorted(rows)

    assert canon(seq) == canon(conc)
    # the concurrent run's artifacts are real files
    arts = [r.content for r in conc.ledger().collect()
            if r.kind == "artifact"]
    assert len(arts) >= 4
    for a in arts:
        assert os.path.exists(a)
    # exactly-once: a second drain on the same checkpoint is a no-op
    before = len(conc.ledger().collect())
    conc.run_available_now(queue_rate=8)
    assert len(conc.ledger().collect()) == before


def test_concurrent_timeout_isolated_to_one_message(spark, tmp_path,
                                                    monkeypatch):
    """r9: with max_concurrent_messages=2, one hanging message times
    out WITHOUT cancelling or stalling its concurrently-running
    sibling — the msg_id-disambiguated job groups isolate the kill
    even when both messages target the SAME dataset path."""
    import time as _time

    from geohub_data_pipeline_spark import processing as PROC

    raw = tmp_path / "u" / "raw"
    raw.mkdir(parents=True)
    (raw / "twin.gpkg").write_bytes(b"gpkg-ish")
    blob = f"file://{raw}/twin.gpkg"

    real_sleep = _time.sleep
    calls = {"n": 0}

    def convert(spark_arg, src, dst_dir, **kw):
        # first-invoked message hangs past the timeout; the other
        # finishes quickly with a real-looking result dict
        calls["n"] += 1
        me = calls["n"]
        if me == 1:
            real_sleep(90)
        real_sleep(0.2)
        return {"chunks": [{"kind": "layer", "name": "pts"}],
                "artifacts": [], "audits": {}}

    monkeypatch.setattr(PROC, "process_geo_file", convert)
    svc = IngestService(
        spark=spark,
        messages_dir=f"{tmp_path}/msgs",
        ledger_dir=f"{tmp_path}/ledger",
        checkpoint_dir=f"{tmp_path}/ckpt",
        output_dir=f"{tmp_path}/out",
        ingest_timeout=3.0,
        max_concurrent_messages=2,
    )
    _write_msgs(svc.messages_dir, "b.json", [
        {"msg_id": 1, "body": f"{blob};t;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:00"},
        {"msg_id": 2, "body": f"{blob};t;join_vector_tiles=false",
         "enqueued_ts": "2024-01-01T00:00:01"},
    ])
    t0 = _time.time()
    svc.run_available_now(queue_rate=4)
    wall = _time.time() - t0
    assert wall < 60                      # the hang did not serialize
    rows = svc.ledger().collect()
    errs = [r.content for r in rows if r.kind == "error"]
    assert sum("timeout" in (e or "") for e in errs) == 1
    stages = [r.stage for r in rows if r.kind == "progress"]
    # the sibling COMPLETED: its probe chunk + processed rows exist
    assert "processing layer pts" in stages
    assert "processed" in stages
    assert "Cancelled" in stages          # the timed-out one


def test_stream_sliding_distinct_users_parity(spark, sf_dir, tmp_path):
    """Streaming twin of events_sliding_distinct_users: watermarked
    dropDuplicates on (user, window) chained into a windowed count —
    exact sliding distinct with bounded keyed state (Spark 4.x
    chained stateful operators).  Every window the drained stream
    emits matches the batch computation bit-for-bit, and every
    window closed by the final watermark is emitted."""
    events = load_table(spark, sf_dir, "events").limit(400)
    src = f"{tmp_path}/events_json"
    events.select(
        "event_id", "user_id",
        F.col("ts").cast("string").alias("ts"),
    ).coalesce(1).write.json(src)

    schema = "event_id LONG, user_id LONG, ts STRING"
    stream = (
        spark.readStream.schema(schema).json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    win = F.window(F.col("ts"), "3 days", "1 day")
    out_dir = f"{tmp_path}/out"
    q = (
        stream.withWatermark("ts", "1 day")
        .select("user_id", "ts", win.alias("window"))
        .dropDuplicates(["user_id", "window"])
        .groupBy("window")
        .agg(F.count(F.lit(1)).alias("distinct_users"))
        .select("window.start", "window.end", "distinct_users")
        .writeStream.outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    want = (events.select("user_id", win.alias("window"))
            .distinct()
            .groupBy("window")
            .agg(F.count(F.lit(1)).alias("distinct_users"))
            .select("window.start", "window.end", "distinct_users"))
    assert got.exceptAll(want.select(*got.columns)).count() == 0
    max_ts = events.agg(F.max("ts")).first()[0]
    closed = want.filter(
        F.col("end") <= F.lit(max_ts) - F.expr("INTERVAL 1 DAY")
    ).select(*got.columns)
    assert closed.exceptAll(got).count() == 0
    assert got.count() >= closed.count()


# --- round 10: streaming joins beyond the cancel inner join ----------------

def _write_rows(d: str, name: str, rows: list[dict]) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_interval_join_outer_batch_parity(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join == the batch left join
    on the same data: matched rows carry the ack timestamp, events
    whose ack never arrived (or arrived past the horizon) emit with
    NULL once the watermark proves no match can come.  A sentinel
    event far in the future pushes the final watermark so every
    outer result is flushed under availableNow."""
    events = [
        {"event_id": 1, "ts": "2026-01-01 10:00:00", "v": 10},
        {"event_id": 2, "ts": "2026-01-01 10:01:00", "v": 20},
        {"event_id": 3, "ts": "2026-01-01 10:02:00", "v": 30},
        {"event_id": 4, "ts": "2026-01-01 10:03:00", "v": 40},
        # sentinel: advances the watermark past every horizon
        {"event_id": 999, "ts": "2026-01-02 00:00:00", "v": 0},
    ]
    acks = [
        {"event_id": 1, "ack_ts": "2026-01-01 10:04:00"},  # in horizon
        {"event_id": 2, "ack_ts": "2026-01-01 10:30:00"},  # PAST horizon
        # event 3: no ack at all
        {"event_id": 4, "ack_ts": "2026-01-01 10:05:00"},  # in horizon
        {"event_id": 999, "ack_ts": "2026-01-02 00:00:01"},
    ]
    ldir, rdir = f"{tmp_path}/ev", f"{tmp_path}/ack"
    _write_rows(ldir, "a.json", events[:3])
    _write_rows(ldir, "b.json", events[3:])
    _write_rows(rdir, "a.json", acks[:2])
    _write_rows(rdir, "b.json", acks[2:])

    lschema = "event_id long, ts timestamp, v long"
    rschema = "event_id long, ack_ts timestamp"
    ls = (spark.readStream.schema(lschema)
          .option("maxFilesPerTrigger", 1).json(ldir))
    rs = (spark.readStream.schema(rschema)
          .option("maxFilesPerTrigger", 1).json(rdir))
    q = (W.interval_join_outer(ls, rs, watermark="1 minute",
                               horizon="10 minutes")
         .writeStream.outputMode("append")
         .option("checkpointLocation", f"{tmp_path}/ckpt")
         .trigger(availableNow=True)
         .format("memory").queryName("ij_outer").start())
    q.awaitTermination(300)
    got = {(r.event_id, r.v,
            None if r.matched_ack_ts is None
            else r.matched_ack_ts.strftime("%H:%M:%S"))
           for r in spark.sql(
               "SELECT * FROM ij_outer WHERE event_id != 999").collect()}

    lb = spark.createDataFrame(
        [(e["event_id"], e["ts"], e["v"]) for e in events],
        "event_id long, ts string, v long"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "v")
    rb = spark.createDataFrame(
        [(a["event_id"], a["ack_ts"]) for a in acks],
        "event_id long, ack_ts string"
    ).select("event_id", F.col("ack_ts").cast("timestamp").alias("ack_ts"))
    batch = lb.alias("l").join(
        rb.alias("r"),
        (F.col("l.event_id") == F.col("r.event_id"))
        & (F.col("r.ack_ts") >= F.col("l.ts"))
        & (F.col("r.ack_ts") <= F.col("l.ts")
           + F.expr("INTERVAL 10 minutes")),
        "leftOuter").select("l.event_id", "l.v", "r.ack_ts")
    want = {(r.event_id, r.v,
             None if r.ack_ts is None
             else r.ack_ts.strftime("%H:%M:%S"))
            for r in batch.filter("event_id != 999").collect()}

    assert want == {(1, 10, "10:04:00"), (2, 20, None),
                    (3, 30, None), (4, 40, "10:05:00")}
    assert got == want


def test_enrich_stream_static_broadcast(spark, tmp_path):
    """Stream-static enrichment: every micro-batch row picks up its
    dimension attributes via a broadcast join — no stream shuffle,
    and rows with no dim entry survive (left join)."""
    rows = [{"event_id": i, "nation_key": i % 5} for i in range(20)]
    src = f"{tmp_path}/ev2"
    _write_rows(src, "a.json", rows[:11])
    _write_rows(src, "b.json", rows[11:])
    dim = spark.createDataFrame(
        [(k, f"nation_{k}") for k in range(3)],   # keys 3, 4 missing
        "nation_key long, nation_name string")
    stream = (spark.readStream.schema("event_id long, nation_key long")
              .option("maxFilesPerTrigger", 1).json(src))
    q = (W.enrich_stream_static(stream, dim, "nation_key")
         .writeStream.outputMode("append")
         .option("checkpointLocation", f"{tmp_path}/ckpt2")
         .trigger(availableNow=True)
         .format("memory").queryName("enriched").start())
    q.awaitTermination(300)
    out = spark.sql("SELECT * FROM enriched").collect()
    assert len(out) == 20
    named = {r.event_id: r.nation_name for r in out}
    for i in range(20):
        expect = f"nation_{i % 5}" if i % 5 < 3 else None
        assert named[i] == expect, i
