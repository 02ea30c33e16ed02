"""The full geo-file dispatch tree as a Spark dataflow (T13).

This is the reference's ``process_geo_file`` (ref /root/reference/
ingest/processing.py:555-826) re-expressed Spark-first, shared by the
EP1 streaming service (streaming/service.py) and the EP2 CLI (cli.py):

* probe: the reference double-probes with GDAL (``OpenEx`` OF_VECTOR
  then OF_RASTER, ref ingest/utils.py:87-123) and pre-partitions the
  work into ``nvector_layers + nraster_bands + n_subdatasets``
  progress chunks — here ``probe_chunks`` derives the same chunk list
  from the engine's own format readers;
* vector path: ``normalize_features`` (T7: promote-to-multi,
  makevalid, reproject to 4326) -> ``.fgb`` artifacts ->
  ``build_tiles`` -> PMTiles archives (T8/T9/T14, ref
  processing.py:405-443) with feature-count + tilestats audits
  (T16/T17, ref processing.py:160-181, 257-265);
* raster path: blocks -> WebMercatorQuad warp (ref
  processing.py:497-506) -> overview cascade -> validated COGs
  (T11/T12, ref processing.py:469-552 and the post-write
  ``cog_validate`` at :511-514).

Scale posture: ONE message's conversion is a distributed Spark job —
the probe/normalize/tile/warp stages are the same DataFrame programs
the CLI runs, and parallelism lives INSIDE each conversion (the
reference likewise processes one message at a time and parallelizes
within GDAL/tippecanoe, ref ingest/ingest.py:51-54, 225-233).  The
per-message driver loop is bounded by the stream's
``maxFilesPerTrigger`` backpressure, never by data volume.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.operators.raster import (
    BLOCK_SCHEMA,
    GEOREF_SCHEMA,
)
from geohub_data_pipeline_spark.sources.files import scan_files
from geohub_data_pipeline_spark.sources.geotiff import dtypes_from_geotiff
from geohub_data_pipeline_spark.sources.rasters import (
    ERDAS_EXTS,
    RASTER_EXTS,
    RASTER_FORMATS,
    TIFF_EXTS,
    raster_blocks_from_members,
    raster_georefs_from_members,
    raster_format,
)

VECTOR_EXTS = (".gpkg", ".gdb", ".fgb", ".geojson", ".json", ".shp",
               ".kml", ".kmz", ".gpx", ".csv", ".geojsonl",
               ".ndjson", ".geojsons", ".topojson", ".gml")
ARCHIVE_EXTS = (".zip", ".gz", ".tar", ".tgz", ".7z")


def resolve_local_path(blob_url: str) -> str | None:
    """Map a message's blob URL to a readable local path — the
    download stage's stand-in (S3/S4; the reference streams the blob
    to a temp file, ref ingest/azblob.py:422-484; under Spark the
    Hadoop FS connector reads object storage directly, so 'download'
    reduces to resolving a path the readers can scan)."""
    p = blob_url
    if p.startswith("file://"):
        p = p[len("file://"):]
    if os.path.exists(p):
        return p
    return None


def read_vector_features(spark: SparkSession, path: str) -> DataFrame:
    """Extension-dispatched vector read -> engine feature rows
    (dataset, layer, fid, geometry WKB, srid, crs_wkt, properties).
    The GDAL-probe analog (S5, ref ingest/processing.py:617-633):
    each format reader infers layers + schema from the bytes."""
    low = path.lower().rstrip("/")
    if low.endswith(ARCHIVE_EXTS):
        from geohub_data_pipeline_spark.sources.archive import (
            features_from_archives,
        )
        return features_from_archives(spark, path)
    if low.endswith(".gpkg"):
        from geohub_data_pipeline_spark.sources.geopackage import (
            features_from_gpkg,
        )
        return features_from_gpkg(spark, path)
    if low.endswith(".gdb"):
        from geohub_data_pipeline_spark.sources.filegdb import (
            features_from_gdb,
        )
        return features_from_gdb(spark, path)
    if low.endswith(".fgb"):
        from geohub_data_pipeline_spark.sources.flatgeobuf import (
            features_from_fgb,
        )
        return features_from_fgb(spark, path)
    if low.endswith(".topojson"):
        from geohub_data_pipeline_spark.sources.topojson import (
            features_from_topojson,
        )
        return features_from_topojson(spark, path)
    if low.endswith((".geojson", ".json")):
        from pyspark.sql import functions as F

        from geohub_data_pipeline_spark.sources.archive import (
            geojson_feature_rows,
        )
        # the member kernel's schema: a bare file is its own
        # archive-of-one (archive_path = member = the file path)
        raw = (spark.read.format("binaryFile").load(path)
               .select(F.col("path").alias("archive_path"),
                       F.col("path").alias("member"), "content"))
        return geojson_feature_rows(raw)
    if low.endswith(".shp"):
        from geohub_data_pipeline_spark.sources.shapefile import (
            shapefile_feature_rows,
        )
        raw = (spark.read.format("binaryFile")
               .load(os.path.dirname(path) or ".")
               .select("path", "content"))
        return shapefile_feature_rows(raw)
    if low.endswith((".kml", ".kmz")):
        from geohub_data_pipeline_spark.sources.kml import (
            features_from_kml,
        )
        return features_from_kml(spark, path)
    if low.endswith(".gpx"):
        from geohub_data_pipeline_spark.sources.kml import (
            features_from_gpx,
        )
        return features_from_gpx(spark, path)
    if low.endswith(".csv"):
        from geohub_data_pipeline_spark.sources.csvpoints import (
            features_from_csv,
        )
        return features_from_csv(spark, path)
    if low.endswith((".geojsonl", ".ndjson", ".geojsons")):
        from geohub_data_pipeline_spark.sources.geojsonseq import (
            features_from_geojsonseq,
        )
        return features_from_geojsonseq(spark, path)
    if low.endswith(".gml"):
        from geohub_data_pipeline_spark.sources.gml import (
            features_from_gml,
        )
        return features_from_gml(spark, path)
    if low.endswith((".parquet", ".geoparquet")) or os.path.isdir(path):
        from geohub_data_pipeline_spark.operators.geoparquet import (
            features_from_geoparquet,
            geoparquet_info,
        )
        # a ``geo`` footer marks a GeoParquet layer file; plain
        # parquet falls through as engine-native feature rows
        if geoparquet_info(path) is not None:
            return features_from_geoparquet(spark, path)
    # fall through: engine-native feature parquet
    return spark.read.parquet(path)


def read_raster_source(spark: SparkSession, path: str):
    """Extension-dispatched raster read -> (BLOCK rows, GEOREF rows
    or None, per-dataset dtype sidecar or None).  The OF_RASTER probe
    analog (S6, ref processing.py:681-687): a file reads through its
    ``sources/rasters.py`` table entry, an archive's members through
    the same entries.  A directory reads every raster family it
    holds: one glob per extension, each through the file branch
    below, unioned."""
    if os.path.isdir(path):
        return _read_raster_dir(spark, path)
    low = path.lower()
    if low.endswith(ARCHIVE_EXTS):
        from geohub_data_pipeline_spark.sources.archive import (
            read_archives,
        )
        members = read_archives(spark, path)
        return (raster_blocks_from_members(members),
                raster_georefs_from_members(members), None)
    if low.endswith(ERDAS_EXTS):
        from geohub_data_pipeline_spark.sources import erdasraw as ER
        return (ER.blocks_from_erdas(
            spark, os.path.dirname(path) or "."), None, None)
    fmt = raster_format(low)
    if fmt is None:
        raise ValueError(f"no raster reader for {path}")
    return (scan_files(spark, path, BLOCK_SCHEMA, fmt.blocks, fmt.errors),
            scan_files(spark, path, GEOREF_SCHEMA, fmt.georef, fmt.errors,
                       column=fmt.georef_column),
            dtypes_from_geotiff(spark, path)
            if low.endswith(TIFF_EXTS) else None)


def _read_raster_dir(spark: SparkSession, path: str):
    """``read_raster_source`` over every raster file directly under
    ``path``.  An Erdas pair is one read of the whole directory, so
    its ``.bl`` data files add no glob of their own."""
    from functools import reduce

    exts = sorted({os.path.splitext(n)[1] for n in os.listdir(path)
                   if n.lower().endswith(RASTER_EXTS)
                   and not n.lower().endswith(".bl")})
    if not exts:
        raise ValueError(f"no raster files under {path}")
    reads = [read_raster_source(spark, os.path.join(path, "*" + e))
             for e in exts]

    def union(frames):
        frames = [f for f in frames if f is not None]
        return reduce(DataFrame.unionByName, frames) if frames else None

    return tuple(union(part) for part in zip(*reads))


def probe_vector_chunks(feats: DataFrame) -> list[dict]:
    """One progress chunk per vector layer (ref ingest/utils.py:
    96-105: ``nvector_layers`` from the OF_VECTOR probe)."""
    layers = [r.layer for r in
              feats.select("layer").distinct().collect()]
    return [{"kind": "layer", "name": str(name)}
            for name in sorted(layers)]


def probe_raster_chunks(blocks: DataFrame, src_path: str | None = None
                        ) -> tuple[list[dict], set[str]]:
    """One chunk per subdataset, else per root band (ref
    ingest/utils.py:106-114 + the dispatch at processing.py:697,
    717-740: subdatasets each convert whole; a root raster converts
    per band).  Also returns the RGB datasets: GeoTIFFs whose header
    says RGB photometric with >= 3 bands, which convert to ONE
    composite COG (T12, ref processing.py:783-786).

    GeoTIFF fast path: band count and photometric are header metadata
    (``probe_rasters``), so the probe never decodes tiles; other
    formats, and directories, fall back to a distinct over the block
    frame (one decode pass — the same price the reference's
    OF_RASTER double-probe pays, ref ingest/utils.py:96-114)."""
    probes = []
    tiffs = _tiff_files(src_path) if src_path else []
    if tiffs:
        from geohub_data_pipeline_spark.operators.rasterprobe import (
            probe_rasters,
        )
        raw = (blocks.sparkSession.read.format("binaryFile")
               .load(tiffs).select("path", "content"))
        probes = [r for r in probe_rasters(raw).collect() if r.ok]
    rgb = {os.path.basename(r.path) for r in probes
           if (r.photometric or 1) >= 2 and (r.n_bands or 1) >= 3}
    if probes and not os.path.isdir(src_path):
        n = max(int(r.n_bands or 1) for r in probes)
        return [{"kind": "band", "name": f"band{b}"}
                for b in range(1, n + 1)], rgb
    cols = ["band"] + (["subdataset"] if "subdataset"
                       in blocks.columns else [])
    rows = blocks.select(*cols).distinct().collect()
    subs = sorted({r.subdataset for r in rows
                   if "subdataset" in cols and r.subdataset})
    if subs:
        return [{"kind": "subdataset", "name": str(s)}
                for s in subs], rgb
    bands = sorted({int(r.band) for r in rows})
    return [{"kind": "band", "name": f"band{b}"} for b in bands], rgb


def _tiff_files(path: str) -> list[str]:
    """The GeoTIFF files a raster read of ``path`` decodes."""
    if os.path.isdir(path):
        return [os.path.join(path, n) for n in sorted(os.listdir(path))
                if n.lower().endswith(TIFF_EXTS)]
    return [path] if path.lower().endswith(TIFF_EXTS) else []


def process_vector(spark: SparkSession, src_path: str, dst_dir: str,
                   join_vector_tiles: bool = False,
                   maxzoom: int | None = None,
                   point_drop_rate: float | None = None) -> dict:
    """The T7->T8/T9->T14 chain on one vector source: normalize ->
    .fgb artifacts -> tiles -> PMTiles archives + audits.
    ``point_drop_rate`` is tippecanoe's point-dropping gamma (see
    ``tiling.build_tiles``; None keeps every point).  Returns
    {"chunks": [...], "artifacts": [paths], "audits": {...}}."""
    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import pmtiles as PMT
    from geohub_data_pipeline_spark.operators import tiling as TLG
    from geohub_data_pipeline_spark.sources.flatgeobuf import (
        write_flatgeobuf_tables,
    )

    feats = read_vector_features(spark, src_path)
    chunks = probe_vector_chunks(feats)
    norm = G.normalize_features(feats)
    if "properties" in feats.columns:
        norm = norm.join(
            feats.select("dataset", "layer", "fid", "properties"),
            ["dataset", "layer", "fid"], "left")

    artifacts: list[str] = []
    fgb_manifest = write_flatgeobuf_tables(
        norm, f"{dst_dir}/fgb").collect()
    artifacts += [m.path for m in fgb_manifest]

    tiles = TLG.build_tiles(norm, maxzoom=maxzoom,
                            simplify_low_zooms=True, encode="mvt",
                            point_drop_rate=point_drop_rate)
    # joined mode (T9, ref processing.py:314-402) puts every layer in
    # ONE archive; per-layer mode (T8, ref :228-311) writes one
    # archive per layer — the writer groups by ``dataset``, so the
    # mode is just the choice of archive key
    stem = os.path.basename(src_path.rstrip("/"))
    stem = stem.rsplit(".", 1)[0] or stem
    if join_vector_tiles:
        tiles = tiles.withColumn("dataset", F.lit(stem))
    else:
        tiles = tiles.withColumn(
            "dataset", F.concat(F.lit(stem + "."), F.col("layer")))
    pm_manifest = PMT.write_pmtiles_tables(
        tiles, f"{dst_dir}/archives", payload_format="mvt").collect()
    artifacts += [m.path for m in pm_manifest]

    # T16 feature-count audit (ref processing.py:160-181) + T17
    # tilestats audit (ref processing.py:257-265)
    fc = G.feature_count_audit(feats, norm, ["dataset", "layer"]) \
        .collect()
    audits = {
        "feature_counts": [
            {"dataset": r.dataset, "layer": r.layer,
             "original": int(r.original_count),
             "converted": int(r.converted_count),
             "status": r.audit_status}
            for r in fc],
        "archives": [
            {"path": m.path, "n_tiles": int(m.n_tiles),
             "n_layers": int(m.n_layers)} for m in pm_manifest],
    }
    return {"chunks": chunks, "artifacts": artifacts, "audits": audits}


def process_raster(spark: SparkSession, src_path: str, dst_dir: str,
                   warp: bool = True, overview_levels: int = 2,
                   dtype: str | None = None,
                   rgb_composite: bool = False) -> dict:
    """The T11/T12 chain on one raster source: blocks -> mercator
    warp -> overview cascade -> validated COGs.  ``dtype=None``
    auto-preserves the probed source dtype when the reader exposes
    one (the reference keeps the source dtype through rio-cogeo, ref
    ingest/config.py:92-101).  An RGB GeoTIFF becomes ONE composite
    COG and everything else one COG per band (T12);
    ``rgb_composite`` makes every dataset a composite."""
    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.operators import (
        cogwriter as W,
        raster as R,
        rasterprobe as RP,
    )

    blocks, georef, dtypes = read_raster_source(spark, src_path)
    chunks, rgb = probe_raster_chunks(blocks, src_path)
    if georef is not None and warp:
        from geohub_data_pipeline_spark.operators import warp as WP
        blocks, georef = WP.warp_to_mercator(blocks, georef)
    pyramid = R.overview_cascade(blocks, overview_levels)
    if rgb_composite:
        composite, per_band = pyramid, None
    elif rgb:
        is_rgb = F.col("dataset").isin(sorted(rgb))
        composite, per_band = pyramid.filter(is_rgb), pyramid.filter(~is_rgb)
    else:
        composite, per_band = None, pyramid
    kw = {"georef": georef, "dtype": dtype if dtype else "f8",
          "dtypes": dtypes if dtype is None else None}
    manifest = []
    if composite is not None:
        manifest += W.assemble_cog_rgb_tables(
            composite, f"{dst_dir}/cog", **kw).collect()
    if per_band is not None:
        manifest += W.assemble_cog_tables(
            per_band, f"{dst_dir}/cog", **kw).collect()
    audits = []
    for m in manifest:
        # header-prefix validation: O(MB) driver memory regardless of
        # artifact size (a multi-GB COG must not be slurped whole)
        check = RP.validate_cog_path(m.path)
        audits.append({"path": m.path, "valid": bool(check["valid"]),
                       "errors": list(check.get("errors", [])),
                       "bands": (f"{m.n_bands}-band rgb"
                                 if "n_bands" in m.__fields__
                                 else f"band {m.band}"),
                       "bytes": int(m.file_bytes)})
        if not check["valid"]:
            raise RuntimeError(
                f"invalid COG {m.path}: {check['errors']}")
    return {"chunks": chunks,
            "artifacts": [m.path for m in manifest],
            "audits": {"cog_validate": audits}}


def process_mbtiles(spark: SparkSession, src_path: str,
                    dst_dir: str) -> dict:
    """MBTiles upload -> PMTiles archive, tile-level (no re-tiling;
    the reference allowlists .mbtiles, ref ingest/config.py:42-66)."""
    from geohub_data_pipeline_spark.operators import pmtiles as PMT
    from geohub_data_pipeline_spark.operators.mbtiles import (
        tiles_from_mbtiles,
    )

    tiles = tiles_from_mbtiles(spark, src_path)
    manifest = PMT.write_pmtiles_tables(
        tiles, f"{dst_dir}/archives", payload_format="mvt").collect()
    return {
        "chunks": [{"kind": "tileset", "name": m.dataset}
                   for m in manifest],
        "artifacts": [m.path for m in manifest],
        "audits": {"archives": [
            {"path": m.path, "n_tiles": int(m.n_tiles),
             "n_layers": int(m.n_layers)} for m in manifest]},
    }


def process_geo_file(spark: SparkSession, src_path: str, dst_dir: str,
                     join_vector_tiles: bool = False,
                     maxzoom: int | None = None,
                     overview_levels: int = 2,
                     dtype: str | None = None,
                     point_drop_rate: float | None = None) -> dict:
    """Dispatch one uploaded file down the real tree (ref
    processing.py:555-826): vector extensions -> FGB+PMTiles, raster
    extensions -> COG, .mbtiles -> PMTiles.  Raises on unreadable
    input (the service turns that into a dead-letter/error ledger
    row, ref ingest/ingest.py:184-187)."""
    low = src_path.lower().rstrip("/")

    def vector():
        return process_vector(spark, src_path, dst_dir,
                              join_vector_tiles=join_vector_tiles,
                              maxzoom=maxzoom,
                              point_drop_rate=point_drop_rate)

    def raster():
        return process_raster(spark, src_path, dst_dir,
                              overview_levels=overview_levels,
                              dtype=dtype)

    if low.endswith(".mbtiles"):
        return process_mbtiles(spark, src_path, dst_dir)
    if low.endswith(ARCHIVE_EXTS):
        # the reference double-probes every upload (OF_VECTOR then
        # OF_RASTER, ref ingest/utils.py:96-114) and converts BOTH
        # sides — an archive can carry shapefiles AND GeoTIFFs
        has_r = _archive_is_raster(src_path)
        has_v = _archive_is_vector(src_path)
        if has_r and has_v:
            v, r = vector(), raster()
            return {"chunks": v["chunks"] + r["chunks"],
                    "artifacts": v["artifacts"] + r["artifacts"],
                    "audits": {**v["audits"], **r["audits"]}}
        return raster() if has_r else vector()
    if low.endswith(RASTER_EXTS):
        return raster()
    return vector()


def _archive_members_match(path: str, exts: tuple) -> bool:
    """Peek the archive member names (names only — no member
    decompress), as the reference's double-probe does on the VSI path
    (ref ingest/utils.py:96-114)."""
    import tarfile
    import zipfile

    try:
        if zipfile.is_zipfile(path):
            with zipfile.ZipFile(path) as z:
                return any(n.lower().endswith(exts)
                           for n in z.namelist())
        if tarfile.is_tarfile(path):
            with tarfile.open(path) as t:
                return any(n.lower().endswith(exts)
                           for n in t.getnames())
    except OSError:
        pass
    return False


def _archive_is_raster(path: str) -> bool:
    return _archive_members_match(path, tuple(RASTER_FORMATS))


def _archive_is_vector(path: str) -> bool:
    return _archive_members_match(path, VECTOR_EXTS)
