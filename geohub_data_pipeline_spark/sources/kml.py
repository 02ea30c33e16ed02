"""KML / KMZ and GPX vector sources — stdlib XML, no GDAL.

The two consumer geo-XML formats GeoHub-style portals receive
(the reference feeds them through ogr2ogr's LIBKML/GPX drivers, ref
ingest/processing.py:100-213; both are in GDAL's default vector
driver set):

* KML (OGC 07-147r2): ``<Placemark>`` features carrying Point /
  LineString / Polygon (outerBoundaryIs + innerBoundaryIs rings) /
  MultiGeometry, coordinates as ``lon,lat[,alt]`` whitespace-
  separated tuples; layers are the containing Document/Folder
  ``<name>``.  KMZ is a ZIP whose first ``.kml`` member (by
  convention ``doc.kml``) is the document.
* GPX 1.1 (Topografix schema): ``<wpt>`` waypoints (point layer),
  ``<trk>/<trkseg>/<trkpt>`` tracks (one MultiLineString per track),
  ``<rte>/<rtept>`` routes (one LineString per route).

Both formats are WGS84 by specification — srid is always 4326 and
``normalize_features`` skips reprojection.

Scale: one file = one task inside an Arrow-batched ``mapInPandas``
kernel over a ``binaryFile`` scan — the same shape as every other
format source (shapefile.py, geopackage.py): no driver-side parsing,
no shuffle; rows stream out as Arrow batches.
"""

from __future__ import annotations

import io
import json
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.sources.files import scan_files
from geohub_data_pipeline_spark.sources.shapefile import FEATURE_SCHEMA

_KML_WKT = ('GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
            '6378137,298.257223563]],PRIMEM["Greenwich",0],'
            'UNIT["degree",0.0174532925199433],'
            'AUTHORITY["EPSG","4326"]]')


def _coords(text: str) -> list[tuple[float, float]]:
    """Parse a KML ``<coordinates>`` blob: whitespace-separated
    ``lon,lat[,alt]`` tuples (altitude dropped — 2D engine)."""
    pts = []
    for tok in (text or "").split():
        parts = tok.split(",")
        if len(parts) >= 2:
            pts.append((float(parts[0]), float(parts[1])))
    return pts


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _placemark_geoms(pm) -> list[bytes]:
    """WKB geometries of one Placemark (MultiGeometry flattened —
    normalize_features promotes to Multi* downstream)."""
    from geohub_data_pipeline_spark.operators import geometry as G

    out: list[bytes] = []
    for el in pm.iter():
        kind = _local(el.tag)
        if kind == "Point":
            c = el.find("{*}coordinates")
            pts = _coords(c.text if c is not None else "")
            if pts:
                out.append(G.wkb_point(*pts[0]))
        elif kind == "LineString":
            c = el.find("{*}coordinates")
            pts = _coords(c.text if c is not None else "")
            if len(pts) >= 2:
                out.append(G.wkb_linestring(pts))
        elif kind == "Polygon":
            rings = []
            outer = el.find("{*}outerBoundaryIs/{*}LinearRing/"
                            "{*}coordinates")
            if outer is not None:
                rings.append(_coords(outer.text))
            for inner in el.findall("{*}innerBoundaryIs/{*}LinearRing/"
                                    "{*}coordinates"):
                rings.append(_coords(inner.text))
            rings = [r for r in rings if len(r) >= 4]
            if rings:
                out.append(G.wkb_polygon(rings))
    return out


def _placemark_props(pm) -> str:
    props = {}
    for child in pm:
        k = _local(child.tag)
        if k in ("name", "description") and child.text:
            props[k] = child.text.strip()
    for data in pm.iter():
        if _local(data.tag) == "Data":
            key = data.get("name")
            val = data.find("{*}value")
            if key and val is not None and val.text is not None:
                props[key] = val.text.strip()
        elif _local(data.tag) == "SimpleData":
            key = data.get("name")
            if key and data.text is not None:
                props[key] = data.text.strip()
    return json.dumps(props, sort_keys=True)


def read_kml_bytes(payload: bytes, dataset: str,
                   default_layer: str | None = None):
    """Yield engine feature rows from one KML (or KMZ) document.
    ``default_layer`` names features outside any Document/Folder
    (archive members pass their member stem; bare files default to
    the file stem)."""
    if payload[:2] == b"PK":                 # KMZ: first .kml member
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            names = [n for n in z.namelist()
                     if n.lower().endswith(".kml")]
            if not names:
                return
            names.sort(key=lambda n: (n.lower() != "doc.kml", n))
            payload = z.read(names[0])
    root = ET.fromstring(payload)

    fid = 0
    # layer = nearest ancestor Document/Folder <name>; walk containers
    def walk(node, layer):
        nonlocal fid
        for child in node:
            kind = _local(child.tag)
            if kind in ("Document", "Folder"):
                name_el = child.find("{*}name")
                sub = (name_el.text.strip()
                       if name_el is not None and name_el.text
                       else layer)
                yield from walk(child, sub)
            elif kind == "Placemark":
                props = _placemark_props(child)
                for wkb in _placemark_geoms(child):
                    fid += 1
                    yield (dataset, layer, fid, wkb, 4326,
                           _KML_WKT, props)

    stem = default_layer or dataset.rsplit(".", 1)[0] or dataset
    yield from walk(root, stem)


def read_gpx_bytes(payload: bytes, dataset: str):
    """Yield engine feature rows from one GPX document: waypoints
    (point), tracks (multilinestring), routes (linestring)."""
    from geohub_data_pipeline_spark.operators import geometry as G

    root = ET.fromstring(payload)
    fid = 0

    def pt_props(el) -> str:
        props = {}
        for child in el:
            k = _local(child.tag)
            if k in ("name", "ele", "time", "desc") and child.text:
                props[k] = child.text.strip()
        return json.dumps(props, sort_keys=True)

    for wpt in root.findall(".//{*}wpt"):
        fid += 1
        yield (dataset, "waypoints", fid,
               G.wkb_point(float(wpt.get("lon")), float(wpt.get("lat"))),
               4326, _KML_WKT, pt_props(wpt))
    for trk in root.findall(".//{*}trk"):
        segs = []
        for seg in trk.findall("{*}trkseg"):
            pts = [(float(p.get("lon")), float(p.get("lat")))
                   for p in seg.findall("{*}trkpt")]
            if len(pts) >= 2:
                segs.append(pts)
        if segs:
            from geohub_data_pipeline_spark.sources.shapefile import (
                _multilinestring_wkb,
            )
            fid += 1
            yield (dataset, "tracks", fid,
                   _multilinestring_wkb(segs), 4326, _KML_WKT,
                   pt_props(trk))
    for rte in root.findall(".//{*}rte"):
        pts = [(float(p.get("lon")), float(p.get("lat")))
               for p in rte.findall("{*}rtept")]
        if len(pts) >= 2:
            fid += 1
            yield (dataset, "routes", fid,
                   G.wkb_linestring(pts), 4326, _KML_WKT,
                   pt_props(rte))


def features_from_kml(spark: SparkSession, path: str) -> DataFrame:
    """Scan .kml/.kmz files under ``path`` into engine feature rows."""
    return scan_files(spark, path, FEATURE_SCHEMA, read_kml_bytes,
                      (ET.ParseError, ValueError, OSError,
                       zipfile.BadZipFile))


def features_from_gpx(spark: SparkSession, path: str) -> DataFrame:
    """Scan .gpx files under ``path`` into engine feature rows (a
    missing lat/lon attribute quarantines the document)."""
    return scan_files(spark, path, FEATURE_SCHEMA, read_gpx_bytes,
                      (ET.ParseError, ValueError, TypeError, OSError))
