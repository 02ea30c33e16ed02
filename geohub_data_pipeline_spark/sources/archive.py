"""Archive content source: .zip / .gz / .tar(.tgz) / .7z -> member rows.

The reference wraps archive uploads in GDAL VSI paths
(``/vsizip/...``, ref ingest/utils.py:23-32, registry
ingest/config.py:32-38) and lets GDAL read members in place.  This
container has no GDAL, so the same capability is a Spark source:
``binaryFile`` scans the archives (distributed, splittable *across*
files) and a ``mapInPandas`` kernel expands each archive into its
members with the stdlib (``zipfile``/``gzip``/``tarfile``) — map-side
only, zero shuffle.  Each member row carries the ``vsi_path`` the
reference would have produced, so downstream path algebra
(functions/paths.py) is shared.

GeoJSON members (the interchange format the reference's vector stage
consumes via ogr2ogr) parse straight into the engine's feature rows:
one layer per member, WKB geometry, fid from the feature ``id`` or
its index.  At 100 TB: one archive = one task; members stream through
Arrow batches and land partitioned like any other feature scan.
"""

from __future__ import annotations

import gzip
import io
import json
import lzma
import os
import struct
import tarfile
import zipfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

ARCHIVE_MEMBER_SCHEMA = (
    "archive_path string, member string, vsi_path string, "
    "size long, content binary"
)

_FEATURE_SCHEMA = (
    "dataset string, layer string, fid long, geometry binary, srid int, "
    "crs_wkt string, properties string"
)


def _expand_one(path: str, content: bytes):
    """Yield (member, vsi_path, payload) for one archive blob."""
    low = path.lower()
    ext = os.path.splitext(path)[1].lower()
    if low.endswith((".tar.gz", ".tar.bz2", ".tar.xz")):
        ext = ".tar"                       # tarfile mode "r:*" decompresses
    if ext == ".zip":
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                yield (info.filename,
                       f"/vsizip/{path}/{info.filename}",
                       zf.read(info))
    elif ext == ".gz":
        member = os.path.basename(path)[:-3] or os.path.basename(path)
        yield member, f"/vsigzip/{path}", gzip.decompress(content)
    elif ext in (".tar", ".tgz"):
        with tarfile.open(fileobj=io.BytesIO(content), mode="r:*") as tf:
            for info in tf.getmembers():
                if not info.isfile():
                    continue
                fobj = tf.extractfile(info)
                if fobj is None:
                    continue
                yield (info.name,
                       f"/vsitar/{path}/{info.name}",
                       fobj.read())
    elif ext == ".7z":
        from geohub_data_pipeline_spark.sources import sevenzip
        for member, payload in sevenzip.extract_7z(content):
            yield member, f"/vsi7z/{path}/{member}", payload
    else:
        # not an archive: pass through as its own single member
        yield os.path.basename(path), path, content


def read_archives(spark: SparkSession, path: str) -> DataFrame:
    """Scan archives under ``path`` and expand them into member rows.

    Input: any binaryFile-readable path/glob.  Output columns:
    archive_path, member, vsi_path, size, content.
    """
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(spark)

    raw = (spark.read.format("binaryFile").load(path)
           .select("path", "content"))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for p, content in pdf[["path", "content"]].itertuples(
                    index=False, name=None):
                p = p.removeprefix("file:")
                try:
                    for member, vsi, payload in _expand_one(
                            p, bytes(content)):
                        rows.append((p, member, vsi, len(payload),
                                     payload))
                except (zipfile.BadZipFile, tarfile.TarError, OSError,
                        EOFError, ValueError, lzma.LZMAError):
                    continue  # corrupt/unsupported archive: skip+audit
            yield pd.DataFrame(rows, columns=[
                "archive_path", "member", "vsi_path", "size", "content"])

    return raw.mapInPandas(kernel, ARCHIVE_MEMBER_SCHEMA)


# ---------------------------------------------------------------------------
# GeoJSON members -> engine feature rows
# ---------------------------------------------------------------------------

def _geojson_features(doc: dict):
    if doc.get("type") == "FeatureCollection":
        yield from doc.get("features", [])
    elif doc.get("type") == "Feature":
        yield doc
    elif "type" in doc:                    # bare geometry
        yield {"type": "Feature", "geometry": doc, "properties": {}}


def _member_fid(member: str, layer: str, fid) -> int:
    """Member-scoped 63-bit fid: readers with per-document counters
    or feature-index fids (GPX, KML, CSV, GML, GeoJSON(-Seq),
    TopoJSON) restart per member, so two members in one archive
    would collide on (dataset, layer, fid) and fan out the
    downstream properties join.  63-bit POSITIVE by construction:
    the MVT Feature.id is a uint varint, so a negative engine fid
    would crash the tile encoder.  (GeoPackage/FlatGeobuf members
    keep their native table pks — real per-layer keys, as ogr2ogr
    preserves them.)"""
    import hashlib

    h = hashlib.md5(f"{member}|{layer}|{fid}".encode()).digest()
    return int.from_bytes(h[:8], "big") & ((1 << 63) - 1)


def geojson_feature_rows(members: DataFrame) -> DataFrame:
    """Parse ``.geojson``/``.json``, ``.gpkg`` AND ``.fgb`` members
    into feature rows (dataset, layer, fid, geometry WKB, srid,
    crs_wkt — GeoJSON is RFC 7946 WGS84 by definition; GeoPackage
    members go through the stdlib sqlite3 reader in
    sources/geopackage.py with their declared srs; FlatGeobuf through
    sources/flatgeobuf.py with its header CRS).

    dataset = archive file name; layer = member stem (GeoJSON) or
    feature table name (GeoPackage); fid = feature ``id``/pk when
    present, else the member-local index.
    """
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(members.sparkSession)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sqlite3

        from geohub_data_pipeline_spark.sources import geopackage as GP

        for pdf in it:
            rows = []
            for arch, member, payload in pdf[
                    ["archive_path", "member", "content"]].itertuples(
                    index=False, name=None):
                dataset = os.path.basename(arch)
                low = member.lower()
                if low.endswith(".gpkg"):
                    try:
                        rows += [r + (None,) * (7 - len(r))
                                 for r in GP.read_gpkg_bytes(
                                     bytes(payload), dataset,
                                     with_wkt=True,
                                     with_props=True)]
                    except (sqlite3.Error, ValueError, OSError):
                        pass               # -skipfailures
                    continue
                if low.endswith(".fgb"):
                    from geohub_data_pipeline_spark.sources import (
                        flatgeobuf as FGB,
                    )
                    try:
                        rows += [r[:6] + (r[6],)
                                 for r in FGB.read_fgb_bytes(
                                     bytes(payload), dataset)]
                    except (ValueError, struct.error, IndexError):
                        pass               # -skipfailures
                    continue
                if low.endswith(".gml"):
                    from xml.etree.ElementTree import ParseError

                    from geohub_data_pipeline_spark.sources import (
                        gml as GML,
                    )
                    try:
                        rows += [(r[0], r[1],
                                  _member_fid(member, r[1], r[2]))
                                 + r[3:] for r in GML.read_gml_bytes(
                                     bytes(payload), dataset)]
                    except (ParseError, ValueError, TypeError,
                            OSError):
                        pass               # -skipfailures
                    continue
                if low.endswith((".kml", ".kmz", ".gpx")):
                    import zipfile
                    from xml.etree.ElementTree import ParseError

                    from geohub_data_pipeline_spark.sources import (
                        kml as KML,
                    )
                    mstem = os.path.splitext(
                        os.path.basename(member))[0]
                    try:
                        if low.endswith(".gpx"):
                            got = list(KML.read_gpx_bytes(
                                bytes(payload), dataset))
                        else:
                            got = list(KML.read_kml_bytes(
                                bytes(payload), dataset,
                                default_layer=mstem))
                        # per-document counter fids -> member-scoped
                        rows += [(r[0], r[1],
                                  _member_fid(member, r[1], r[2]))
                                 + r[3:] for r in got]
                    except (ParseError, ValueError, TypeError, OSError,
                            zipfile.BadZipFile):
                        pass               # -skipfailures
                    continue
                if low.endswith((".geojsonl", ".ndjson", ".geojsons")):
                    from geohub_data_pipeline_spark.sources import (
                        geojsonseq as GJS,
                    )
                    mstem = os.path.splitext(
                        os.path.basename(member))[0]
                    text = bytes(payload).decode("utf-8", "replace")
                    for ln, line in enumerate(text.splitlines(), 1):
                        parsed = GJS.parse_feature_line(line)
                        if parsed is None:
                            continue       # -skipfailures
                        wkb, fid, pjson = parsed
                        rows.append((
                            dataset, mstem,
                            _member_fid(member, mstem,
                                        fid if fid is not None
                                        else ln),
                            wkb, 4326, None, pjson))
                    continue
                if low.endswith(".csv"):
                    from geohub_data_pipeline_spark.sources import (
                        csvpoints as CSVP,
                    )
                    mstem = os.path.splitext(
                        os.path.basename(member))[0]
                    try:
                        rows += [(dataset, mstem,
                                  _member_fid(member, mstem, r[2]))
                                 + r[3:]
                                 for r in CSVP.read_csv_bytes(
                                     bytes(payload), dataset)]
                    except (ValueError, TypeError, OSError):
                        pass               # -skipfailures
                    continue
                if not low.endswith((".geojson", ".json", ".topojson")):
                    continue
                try:
                    doc = json.loads(bytes(payload).decode("utf-8"))
                except (ValueError, UnicodeDecodeError):
                    continue               # -skipfailures
                if doc.get("type") == "Topology":
                    from geohub_data_pipeline_spark.sources import (
                        topojson as TJ,
                    )
                    try:
                        rows += [(r[0], r[1],
                                  _member_fid(member, r[1], r[2]))
                                 + r[3:]
                                 for r in TJ.read_topojson_bytes(
                                     bytes(payload), dataset)]
                    except (ValueError, KeyError, TypeError,
                            IndexError):
                        pass               # -skipfailures
                    continue
                layer = os.path.splitext(os.path.basename(member))[0]
                for i, feat in enumerate(_geojson_features(doc)):
                    geom = feat.get("geometry")
                    wkb = G.wkb_from_geojson(geom) if geom else None
                    if wkb is None:
                        continue           # -skipfailures
                    src_id = feat.get("id")
                    fid = (int(src_id)
                           if isinstance(src_id, (int, float)) else i)
                    fid = _member_fid(member, layer, fid)
                    props = feat.get("properties")
                    props = dict(props) \
                        if isinstance(props, dict) else {}
                    if src_id is not None:
                        # the author-assigned id survives in the
                        # property bag after the member-scoped rekey
                        props.setdefault("_fid", src_id)
                    pjson = (json.dumps(props, sort_keys=True,
                                        separators=(",", ":"))
                             if props else None)
                    rows.append((dataset, layer, fid, wkb, 4326, None,
                                 pjson))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry", "srid",
                "crs_wkt", "properties"])

    return members.mapInPandas(kernel, _FEATURE_SCHEMA)


def features_from_archives(spark: SparkSession, path: str) -> DataFrame:
    """One-call source: archives under ``path`` -> feature rows ready
    for ``normalize_features`` (the CLI's archive ingestion path).

    GeoJSON and GeoPackage members parse map-side; shapefile members
    (.shp paired with their sibling .prj for the srid) and zipped
    FileGDB directories (*.gdb/a*.gdbtable sets) each go through one
    archive-keyed grouping (sources/shapefile.py, sources/filegdb.py).
    """
    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.sources import filegdb as FGDB
    from geohub_data_pipeline_spark.sources import shapefile as SHP

    members = read_archives(spark, path)
    shp = SHP.shapefile_feature_rows(
        members.filter(
            F.lower(F.col("member")).rlike(r"\.(shp|prj|dbf)$")))
    gdb = FGDB.filegdb_feature_rows(members)
    # shapefile rows carry an optional crs_wkt (.prj text for layers
    # whose EPSG is unresolvable); fill NULL for the other sources
    return geojson_feature_rows(members) \
        .unionByName(shp, allowMissingColumns=True) \
        .unionByName(gdb, allowMissingColumns=True)
