"""EP2 (CLI) and EP3 (backfill) entry-point tests."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from geohub_data_pipeline_spark.backfill import backfill_plan, backfill_user_ids
from geohub_data_pipeline_spark.operators import geometry as G


def test_backfill_plan(spark):
    datasets = spark.createDataFrame(
        [("u1/datasets/a/a.pmtiles",),   # missing fgb, raw present -> work
         ("u1/datasets/b/b.pmtiles",),   # fgb exists -> skip
         ("u2/datasets/c/c.pmtiles",),   # raw missing -> skip
         ("test/datasets/d/d.pmtiles",), # excluded user -> skip
         ("u2/datasets/e/e.fgb",)],      # not a pmtiles dataset
        "path string")
    existing = spark.createDataFrame(
        [("u1/datasets/b/b.fgb",)], "path string")
    raw = spark.createDataFrame(
        [("u1/raw/a/a.gpkg",), ("u1/raw/b/b.gpkg",),
         ("test/raw/d/d.gpkg",)], "path string")
    plan = backfill_plan(datasets, existing, raw).collect()
    assert [(r.user, r.dataset_path) for r in plan] == \
        [("u1", "u1/datasets/a/a.pmtiles")]
    r = plan[0]
    assert r.fgb_path == "u1/datasets/a/a.fgb"
    assert r.raw_path == "u1/raw/a/a"


def test_backfill_user_ids(spark):
    datasets = spark.createDataFrame(
        [("u1/datasets/a.pmtiles",), ("u1/datasets/b.pmtiles",),
         ("u2/datasets/c.pmtiles",), ("test/datasets/d.pmtiles",)],
        "path string")
    users = {r.user: r.user_hash
             for r in backfill_user_ids(datasets).collect()}
    assert set(users) == {"u1", "u2"}
    assert len(users["u1"]) == 32    # md5 hex


def test_cli_pipeline(spark, tmp_path):
    """EP2: feature parquet in -> tile pyramid + audits out (driven via
    the same functions the CLI wires; the argv surface is exercised in
    scripts, not here, to reuse the session fixture)."""
    from geohub_data_pipeline_spark.operators import tiling as TLG

    src = f"{tmp_path}/feats"
    spark.createDataFrame(
        [("d", "l", i, G.wkb_point(i * 3.0 - 60, i * 2.0 - 30), 4326)
         for i in range(20)],
        "dataset string, layer string, fid long, geometry binary, srid int"
    ).write.parquet(src)

    feats = spark.read.parquet(src)
    norm = G.normalize_features(feats)
    tiles = TLG.build_tiles(norm, maxzoom=3)
    out = f"{tmp_path}/out"
    tiles.write.partitionBy("z").parquet(f"{out}/tiles")
    got = spark.read.parquet(f"{out}/tiles")
    assert got.count() > 0
    assert got.filter("z = 0").agg(F.sum("n_features")).first()[0] == 20


def test_curation_pipeline(spark, tmp_path):
    """--curate composition: exact dup, near dup (tail-beyond-cap),
    and boilerplate docs are removed; survivors get a split and the
    train side a (shard, offset) manifest."""
    from geohub_data_pipeline_spark.operators import curation as Cu
    from geohub_data_pipeline_spark.operators import dedup as D

    base = " ".join(f"alpha{i} beta{i}" for i in range(60))
    rows = [(1, base),
            (2, base),                                   # exact dup of 1
            (3, base + " tail beyond the shingle cap"),  # near dup of 1
            (4, "spam " * 60),                           # repetitive
            (5, " ".join(f"unique{i}" for i in range(50)))]
    src = f"{tmp_path}/docs"
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)

    docs = spark.read.parquet(src).select("doc_id", "text")
    keep = (docs.groupBy(F.md5("text").alias("__h"))
            .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    d1 = docs.join(keep, "doc_id")
    assert {r.doc_id for r in d1.select("doc_id").collect()} == \
        {1, 3, 4, 5}                                     # 2 = exact dup

    sigs = D.minhash_signatures(d1, "text", "doc_id")
    cand = D.lsh_candidate_pairs(sigs, "doc_id").select("id_a", "id_b")
    verified = D.jaccard_for_pairs(d1, cand, "text", "doc_id") \
        .filter(F.col("jaccard") >= 0.8)
    cc = D.connected_components(verified.select("id_a", "id_b"))
    drop = cc.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"))
    d2 = d1.join(drop, "doc_id", "left_anti")
    assert {r.doc_id for r in d2.select("doc_id").collect()} == \
        {1, 4, 5}                                        # 3 = near dup

    rep = Cu.repetition_stats(d2).select("doc_id", "flagged")
    d3 = (d2.join(rep, "doc_id", "left")
          .filter(~F.coalesce(F.col("flagged"), F.lit(False)))
          .drop("flagged"))
    assert {r.doc_id for r in d3.select("doc_id").collect()} == \
        {1, 5}                                           # 4 = boilerplate

    sp = Cu.hash_split(d3).select("doc_id", "split")
    clean = d3.join(sp, "doc_id")
    assert clean.count() == 2
    train = clean.filter(F.col("split") == "train").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("tokens"))
    manifest = Cu.pack_token_shards(train, 100)
    m = manifest.collect()
    assert all(r.offset < 100 or r.shard > 0 for r in m)


def test_cli_raster_pipeline(spark, tmp_path, capsys):
    """--raster: .asc + classic .nc -> cascade -> COG files, probed."""
    from test_format_sources import _asc_text
    from test_netcdf3 import write_cdf1

    from geohub_data_pipeline_spark.cli import main
    from geohub_data_pipeline_spark.operators import rasterprobe as RP

    with open(tmp_path / "dem.asc", "w") as f:
        f.write(_asc_text(300, 270)[0])
    with open(tmp_path / "climate.nc", "wb") as f:
        f.write(write_cdf1())

    rc = main(["--raster", str(tmp_path), "--no-warp",
               "--dst", str(tmp_path / "out"),
               "--overview-levels", "1"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "wrote 3 COGs" in out          # dem band1 + climate temp x2
    cog = tmp_path / "out" / "cog" / "dem.asc_band1.tif"
    with open(cog, "rb") as f:
        m = RP.probe_geotiff(f.read())
    assert (m["width"], m["height"], m["n_overviews"]) == (300, 270, 1)
    assert m["tiled"] and m["compression"] in ("zstd", "deflate")


def test_cli_gpkg_source(spark, tmp_path, capsys):
    """--src data.gpkg drives the vector tile pipeline."""
    from test_geopackage import _sample_gpkg

    from geohub_data_pipeline_spark.cli import main

    _sample_gpkg(str(tmp_path / "data.gpkg"))
    rc = main(["--src", str(tmp_path / "data.gpkg"),
               "--dst", str(tmp_path / "out"), "--maxzoom", "2"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "wrote" in out and "tiles" in out
    audits = json.loads((tmp_path / "out" / "audits.json").read_text())
    assert sum(a["n_tiles"] for a in audits["archives"]) > 0


def test_cli_join_tiles_selects_archive_mode(spark, tmp_path, capsys):
    """--src writes one PMTiles archive per layer by default and one
    joined archive with --join-tiles (T8 vs T9)."""
    from test_geopackage import _sample_gpkg

    from geohub_data_pipeline_spark.cli import main

    _sample_gpkg(str(tmp_path / "data.gpkg"))
    for flags, want in (([], {"data.points.pmtiles", "data.zones.pmtiles"}),
                        (["--join-tiles"], {"data.pmtiles"})):
        dst = tmp_path / ("out" + "".join(flags))
        assert main(["--src", str(tmp_path / "data.gpkg"),
                     "--dst", str(dst), "--maxzoom", "2", *flags]) == 0
        assert {p.name for p in (dst / "archives").iterdir()} == want
        audits = json.loads((dst / "audits.json").read_text())
        assert len(audits["archives"]) == len(want)


def test_run_backfill_regenerates_missing_fgb(spark, tmp_path):
    """EP3 end-to-end (ref fgb_upload/main.py:105-192): the backfill
    regenerates .fgb companions ONLY for datasets that are missing
    them AND whose raw upload exists, excluding the 'test' user."""
    import os

    from geohub_data_pipeline_spark.backfill import run_backfill
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import flatgeobuf as FGB
    from geohub_data_pipeline_spark.sources import geopackage as GP

    base = tmp_path / "store"
    for user in ("u1", "u2", "test"):
        (base / user / "datasets").mkdir(parents=True)
        (base / user / "raw").mkdir(parents=True)

    # u1/a: pmtiles present, fgb MISSING, raw present -> regenerate
    (base / "u1/datasets/a.pmtiles").write_bytes(b"pm")
    GP.write_gpkg(str(base / "u1/raw/a.gpkg"), {
        "pts": [(1, G.wkb_point(10.0, 50.0)),
                (2, G.wkb_point(11.0, 51.0))]}, srid=4326)
    # u1/b: fgb already exists -> skipped (T20)
    (base / "u1/datasets/b.pmtiles").write_bytes(b"pm")
    (base / "u1/datasets/b.fgb").write_bytes(b"existing")
    GP.write_gpkg(str(base / "u1/raw/b.gpkg"), {
        "pts": [(1, G.wkb_point(0.0, 0.0))]}, srid=4326)
    # u2/c: raw missing -> skipped
    (base / "u2/datasets/c.pmtiles").write_bytes(b"pm")
    # test/d: excluded user (T21)
    (base / "test/datasets/d.pmtiles").write_bytes(b"pm")
    GP.write_gpkg(str(base / "test/raw/d.gpkg"), {
        "pts": [(1, G.wkb_point(1.0, 1.0))]}, srid=4326)

    report = run_backfill(spark, str(base)).collect()
    assert len(report) == 1
    assert report[0].dataset_path == "u1/datasets/a.pmtiles"
    assert report[0].n_fgb == 1
    out = report[0].fgb_paths[0]
    assert os.path.exists(out)
    rows = list(FGB.read_fgb_bytes(open(out, "rb").read(), "a"))
    assert len(rows) == 2                  # both points made it
    # untouched: pre-existing fgb not overwritten
    assert (base / "u1/datasets/b.fgb").read_bytes() == b"existing"


def test_cli_decode_pmtiles_roundtrip(spark, tmp_path, capsys):
    """--decode-pmtiles re-ingests an engine-written archive: the
    max-zoom MVT tiles decode back to feature parquet."""
    from geohub_data_pipeline_spark import cli

    src = tmp_path / "demo.kml"
    src.write_bytes(
        b'<?xml version="1.0"?>'
        b'<kml xmlns="http://www.opengis.net/kml/2.2">'
        b'<Document><name>demo</name>'
        b'<Placemark><name>A</name><Point>'
        b'<coordinates>10.5,52.25</coordinates></Point></Placemark>'
        b'<Placemark><name>B</name><Point>'
        b'<coordinates>11.5,51.25</coordinates></Point></Placemark>'
        b'</Document></kml>')
    assert cli.main(["--src", str(src),
                     "--dst", str(tmp_path / "out")]) == 0
    archive = tmp_path / "out" / "archives" / "demo.demo.pmtiles"
    assert archive.exists()

    assert cli.main(["--decode-pmtiles", str(archive),
                     "--dst", str(tmp_path / "re")]) == 0
    back = spark.read.parquet(str(tmp_path / "re" / "features"))
    rows = back.collect()
    assert len(rows) == 2
    assert {r.layer for r in rows} == {"demo"}
    from geohub_data_pipeline_spark.operators import geometry as G
    lons = sorted(round(G.parse_wkb(bytes(r.geometry))["coords"][0], 1)
                  for r in rows)
    assert lons == [10.5, 11.5]
