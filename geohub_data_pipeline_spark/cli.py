"""Offline CLI entry point (EP2).

Reference: ``/root/reference/ingest/cli/main.py:18-40`` — argparse
(-src, -dst, -j join-tiles, -d debug) driving ``process_geo_file``
directly with no Azure/queue.  Here too: ``--src`` is one
``processing.process_geo_file`` call, the function the streaming
service (EP1) runs per message, and ``--raster`` is one
``processing.process_raster`` call (it adds the ``--no-warp`` and
``--rgb-composite`` choices the service does not expose).

Usage:
    python -m geohub_data_pipeline_spark.cli \
        --src /path/upload.gpkg --dst /path/out [--join-tiles]
        [--maxzoom N] [--point-drop-rate G]
    python -m geohub_data_pipeline_spark.cli \
        --raster /path/dem.tif --dst /path/out [--no-warp]
        [--overview-levels N] [--cog-dtype T] [--rgb-composite]

Output layout under ``--dst``:

* ``fgb/``       one FlatGeobuf per vector layer;
* ``archives/``  PMTiles: one ``<stem>.<layer>.pmtiles`` per layer, or
  one ``<stem>.pmtiles`` with ``--join-tiles`` (an ``.mbtiles`` upload
  converts tile for tile);
* ``cog/``       validated COGs: one per band, one composite per RGB
  GeoTIFF (or per dataset with ``--rgb-composite``);
* ``audits.json`` the conversion's audits — per-layer feature counts,
  per-archive tile counts, per-COG validation — the same JSON the
  service stores in its ``processed`` ledger row.

The other modes: ``--serve`` (EP1 over a spool directory),
``--backfill`` (EP3), ``--decode-pmtiles``, ``--curate``, and
``--demo`` (the registry's flagship query against --sf-dir, a smoke
entry that needs no geospatial input).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from geohub_data_pipeline_spark import processing as PROC
from geohub_data_pipeline_spark.session import get_session


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="geohub-data-pipeline-spark")
    ap.add_argument("--src", help="upload to convert: any vector, "
                    "raster, .mbtiles or archive file, or engine "
                    "feature parquet")
    ap.add_argument("--dst", help="output directory for artifacts + "
                    "audits.json")
    ap.add_argument("--join-tiles", action="store_true",
                    help="multilayer joined mode (T9)")
    ap.add_argument("--maxzoom", type=int, default=None,
                    help="fixed max zoom (default: -zg heuristic)")
    ap.add_argument("--point-drop-rate", type=float, default=None,
                    help="tippecanoe-style point dropping gamma "
                         "(e.g. 2.5): keep 1/rate^(maxzoom-z) of "
                         "points at each zoom below maxzoom, "
                         "deterministically by feature hash")
    ap.add_argument("--demo", action="store_true",
                    help="run the flagship query on --sf-dir instead")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--serve", metavar="BASE_DIR",
                    help="run the streaming ingest service over "
                         "BASE_DIR/{msgs,cancel} until drained (EP1)")
    ap.add_argument("--backfill", metavar="BASE_DIR",
                    help="EP3: scan BASE_DIR's {user}/datasets trees "
                         "and regenerate missing .fgb companions "
                         "from {user}/raw uploads")
    ap.add_argument("--decode-pmtiles", metavar="ARCHIVE",
                    help="re-ingest a PMTiles archive: decode its "
                         "max-zoom MVT tiles back into feature rows "
                         "(operators/mvt.py) and write GeoParquet-"
                         "style feature parquet under --dst; a "
                         "feature CLIPPED across several max-zoom "
                         "tiles decodes as one fragment row per "
                         "tile (same fid)")
    ap.add_argument("--curate", metavar="DOCS_PARQUET",
                    help="run the corpus-curation pipeline (exact dedup "
                         "-> LSH near-dup clusters -> repetition filter "
                         "-> train/val split -> shard manifest) over a "
                         "(doc_id, text) parquet; writes to --dst")
    ap.add_argument("--shard-tokens", type=int, default=20_000,
                    help="token capacity per training shard")
    ap.add_argument("--raster", metavar="SRC",
                    help="raster ingest (T11): .tif/.tiff (full pixel "
                         "decode), .asc/.grd/.aig/.sgr, classic .nc, "
                         ".nc4/.h5 (HDF5), Erdas raw (.raw/.bl), .hgt, "
                         ".img, a .zip/.tar/.7z of any of these, or a "
                         "directory of them -> "
                         "WebMercatorQuad warp -> overview cascade -> "
                         "validated COGs in --dst")
    ap.add_argument("--overview-levels", type=int, default=2,
                    help="overview pyramid rounds for --raster")
    ap.add_argument("--no-warp", action="store_true",
                    help="skip the WebMercatorQuad warp (keep the "
                         "source grid; the reference always warps)")
    ap.add_argument("--cog-dtype", default="auto",
                    choices=["auto", "u1", "u2", "u4", "i1", "i2",
                             "i4", "f4", "f8"],
                    help="COG sample type; 'auto' (default) preserves "
                         "the probed source dtype per dataset (as the "
                         "reference does through rio-cogeo) and falls "
                         "back to f8 for sources without a dtype "
                         "probe; an explicit type forces it for all "
                         "outputs")
    ap.add_argument("--rgb-composite", action="store_true",
                    help="write ONE chunky multiband COG per dataset "
                         "instead of one per band (T12 RGB rule; the "
                         "reference auto-detects via colorinterp)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_session("geohub-cli")
    try:
        if args.serve:
            from geohub_data_pipeline_spark.streaming.service import (
                IngestService,
            )

            base = args.serve.rstrip("/")
            svc = IngestService(
                spark=spark,
                messages_dir=f"{base}/msgs",
                ledger_dir=f"{base}/ledger",
                checkpoint_dir=f"{base}/ckpt",
                cancel_dir=f"{base}/cancel",
                output_dir=f"{base}/datasets",
            )
            svc.run_available_now()
            ledger = svc.ledger()
            counts = {r["stage"]: r["count"] for r in
                      ledger.groupBy("stage").count().collect()}
            arts = [r.content for r in
                    ledger.filter("kind = 'artifact'").collect()]
            for a in sorted(arts):
                print(f"artifact: {a}")
            print(f"ledger rows: {ledger.count()}; stages: {counts}")
            return 0

        if args.backfill:
            from geohub_data_pipeline_spark.backfill import run_backfill

            report = run_backfill(spark, args.backfill).collect()
            for r in report:
                print(f"backfilled: {r.dataset_path} -> "
                      f"{r.n_fgb} fgb ({', '.join(r.fgb_paths)})")
            print(f"backfill: {len(report)} datasets regenerated")
            return 0

        if args.decode_pmtiles:
            if not args.dst:
                ap.error("--decode-pmtiles requires --dst")
            from pyspark.sql import functions as F

            from geohub_data_pipeline_spark.operators import mvt as MVT
            from geohub_data_pipeline_spark.sources import (
                pmtiles_source as PMDS,
            )

            PMDS.register(spark)
            # max zoom comes from the v3 HEADER (byte 101) — no need
            # to scan every tile payload just to find it
            with open(args.decode_pmtiles, "rb") as fh:
                hdr = fh.read(102)
            zmax = hdr[101]
            tiles = (spark.read.format("pmtiles")
                     .option("path", args.decode_pmtiles).load()
                     .filter(F.col("z") == zmax))
            # lower zooms are simplified duplicates; at zmax the
            # per-tile duplicate copies (the encoder ships the full
            # geometry to every covering tile) re-merge to one row
            # per feature — the round-trip-faithful form
            feats = MVT.merge_tile_fragments(
                MVT.features_from_tiles(tiles))
            out = f"{args.dst.rstrip('/')}/features"
            feats.write.mode("overwrite").parquet(out)
            back = spark.read.parquet(out)
            stats = back.groupBy("layer").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("n_tiles") - 1).alias("dups")).collect()
            total = 0
            for r in sorted(stats, key=lambda x: x["layer"]):
                dup = "" if not r["dups"] else \
                    f" ({r['dups']} per-tile copies merged)"
                print(f"layer {r['layer']}: {r['n']} features"
                      f"{dup} (z{zmax})")
                total += r["n"]
            print(f"decoded {total} features -> {out}")
            return 0

        if args.curate:
            if not args.dst:
                ap.error("--curate requires --dst")
            from pyspark.sql import functions as F

            from geohub_data_pipeline_spark.operators import curation as Cu
            from geohub_data_pipeline_spark.operators import dedup as D

            docs = spark.read.parquet(args.curate).select("doc_id", "text")
            n0 = docs.count()

            # 1. exact dedup — keep the lowest id per content hash
            keep = (docs.groupBy(F.md5("text").alias("__h"))
                    .agg(F.min("doc_id").alias("doc_id"))
                    .select("doc_id"))
            d1 = docs.join(keep, "doc_id")

            # 2. near-dup clusters — drop non-canonical members
            sigs = D.minhash_signatures(d1, "text", "doc_id")
            cand = D.lsh_candidate_pairs(sigs, "doc_id").select(
                "id_a", "id_b")
            verified = D.jaccard_for_pairs(d1, cand, "text", "doc_id") \
                .filter(F.col("jaccard") >= 0.8)
            cc = D.connected_components(verified.select("id_a", "id_b"))
            drop = cc.filter(F.col("node") != F.col("label")).select(
                F.col("node").alias("doc_id"))
            d2 = d1.join(drop, "doc_id", "left_anti")

            # 3. repetition filter (docs too short to shingle pass)
            rep = Cu.repetition_stats(d2).select("doc_id", "flagged")
            d3 = (d2.join(rep, "doc_id", "left")
                  .filter(~F.coalesce(F.col("flagged"), F.lit(False)))
                  .drop("flagged"))

            # 4. deterministic split; 5. shard manifest for train docs
            sp = Cu.hash_split(d3).select("doc_id", "split")
            clean = d3.join(sp, "doc_id")
            clean.write.mode("overwrite").partitionBy("split").parquet(
                f"{args.dst}/corpus")
            train = clean.filter(F.col("split") == "train").select(
                "doc_id",
                F.size(F.split("text", " ")).cast("long").alias("tokens"))
            manifest = Cu.pack_token_shards(train, args.shard_tokens)
            manifest.write.mode("overwrite").parquet(
                f"{args.dst}/shard_manifest")

            back = spark.read.parquet(f"{args.dst}/corpus")
            n_train = back.filter(F.col("split") == "train").count()
            n_val = back.filter(F.col("split") == "val").count()
            n_shards = spark.read.parquet(
                f"{args.dst}/shard_manifest").select("shard") \
                .distinct().count()
            print(f"curate: {n0} docs in -> {n_train + n_val} kept "
                  f"({n_train} train / {n_val} val), "
                  f"{n_shards} training shards -> {args.dst}")
            return 0

        if args.raster:
            if not args.dst:
                ap.error("--raster requires --dst")
            res = PROC.process_raster(
                spark, args.raster, args.dst, warp=not args.no_warp,
                overview_levels=args.overview_levels,
                dtype=None if args.cog_dtype == "auto" else args.cog_dtype,
                rgb_composite=args.rgb_composite)
            _report(args.raster, args.dst, res)
            return 0

        if args.demo:
            from geohub_data_pipeline_spark.plans import all_queries
            df = all_queries()["q1_pricing_summary"].fn(spark, args.sf_dir)
            for row in df.collect():
                print(row)
            return 0

        if not args.src or not args.dst:
            ap.error("--src and --dst are required (or use --demo)")
        res = PROC.process_geo_file(spark, args.src, args.dst,
                                    join_vector_tiles=args.join_tiles,
                                    maxzoom=args.maxzoom,
                                    point_drop_rate=args.point_drop_rate)
        _report(args.src, args.dst, res)
        return 0
    finally:
        # only stop a session this invocation created — in-process
        # callers (tests, notebooks) keep theirs
        if not preexisting:
            spark.stop()


def _report(src: str, dst: str, res: dict) -> None:
    """Print a conversion's artifacts and audits, and write the audits
    to ``{dst}/audits.json`` (the service's ``processed`` ledger row
    carries the same JSON)."""
    audits = res["audits"]
    for a in res["artifacts"]:
        print(f"artifact: {a}")
    for f in audits.get("feature_counts", []):
        print(f"layer {f['dataset']}/{f['layer']}: {f['original']} -> "
              f"{f['converted']} features ({f['status']})")
    for a in audits.get("archives", []):
        print(f"archive: {a['path']} ({a['n_tiles']} tiles, "
              f"{a['n_layers']} layers)")
    for c in audits.get("cog_validate", []):
        print(f"cog: {c['path']} {c['bands']}, {c['bytes']} bytes, "
              "valid COG")
    if "cog_validate" in audits:
        print(f"wrote {len(audits['cog_validate'])} COGs to {dst}/cog")
    if "archives" in audits:
        n = sum(a["n_tiles"] for a in audits["archives"])
        print(f"wrote {n} tiles to {dst}/archives")
    os.makedirs(dst, exist_ok=True)
    with open(os.path.join(dst, "audits.json"), "w") as f:
        json.dump(audits, f, sort_keys=True)
    print(f"converted {src} -> {len(res['artifacts'])} artifacts, "
          f"audits in {dst}/audits.json")


if __name__ == "__main__":
    sys.exit(main())
