"""GML (Geography Markup Language) vector source — stdlib XML.

The WFS/INSPIRE download format (OGC 07-036, GML 3.2 Simple Features
profile; GDAL's GML driver is the reference's route for it, ref
ingest/processing.py:100-213).  Pragmatic subset:

* features under ``gml:featureMember`` / ``wfs:member`` /
  ``gml:featureMembers`` (or any child of a FeatureCollection whose
  subtree carries a geometry);
* geometries: Point (``gml:pos`` / ``gml:coordinates``), LineString
  (``gml:posList`` / ``gml:coordinates``), Polygon
  (``gml:exterior``/``gml:interior`` LinearRings), MultiPoint /
  MultiCurve / MultiSurface / MultiGeometry containers;
* ``srsName`` in all three spellings — ``EPSG:4326``,
  ``urn:ogc:def:crs:EPSG::4326``,
  ``http://www.opengis.net/def/crs/EPSG/0/4326``;
* the GML axis-order trap: the urn/http forms declare the official
  axis order — LAT,LON for geographic CRS and NORTHING,EASTING for
  the INSPIRE/national projected grids (ETRS89-LAEA, SWEREF99,
  Poland CS92/CS2000, DHDN-GK) — those swap to the engine's x,y;
  the legacy ``EPSG:nnnn`` spelling stays x,y as GDAL does;
* scalar child elements of the feature become properties.

Scale: one document = one task in an Arrow-batched kernel — XML
cannot split; big WFS dumps arrive as many files, which the
binaryFile scan fans out.
"""

from __future__ import annotations

import json
import re
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.sources.files import scan_files
from geohub_data_pipeline_spark.sources.shapefile import FEATURE_SCHEMA

# geographic CRS whose official (urn) axis order is lat,lon
_LATLON_FIRST = {4326, 4258, 4269, 4283, 4267, 4230, 4674}

# PROJECTED CRS whose official axis order is NORTHING,EASTING — the
# INSPIRE/national grids a urn/http srsName serves north-first (EPSG
# registry axis order): ETRS89-LAEA Europe (3035), Poland CS92/CS2000
# (2180, 2176-2179), SWEREF99 TM + zones (3006-3018), DHDN
# Gauss-Krueger (31466-31469), ETRS89-GK zones (3044-3045).  A
# urn-form projected code outside this set parses x,y as before.
_NORTH_FIRST_PROJECTED = (
    {3035, 2180, 3044, 3045}
    | set(range(2176, 2180))        # Poland CS2000 zones 5-8
    | set(range(3006, 3019))        # SWEREF99 TM + 12 local zones
    | set(range(31466, 31470))      # DHDN / 3-deg Gauss-Krueger 2-5
)

_GEOM_TAGS = {"Point", "LineString", "Polygon", "MultiPoint",
              "MultiCurve", "MultiSurface", "MultiGeometry",
              "MultiLineString", "MultiPolygon", "Curve", "Surface"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def parse_srs(srs: str | None) -> tuple[int, bool]:
    """srsName -> (epsg, swap_axes).  Unknown/absent -> (4326, False)
    per the WFS default of CRS84-style lon/lat."""
    if not srs:
        return 4326, False
    m = re.search(r"EPSG(?::|::|/0/)(\d+)$", srs) \
        or re.search(r"EPSG[:/#]+(\d+)", srs)
    if not m:
        return 4326, False
    code = int(m.group(1))
    official_order = srs.startswith(("urn:", "http://", "https://"))
    return code, official_order and (
        code in _LATLON_FIRST or code in _NORTH_FIRST_PROJECTED)


def _floats(text: str) -> list[float]:
    return [float(t) for t in (text or "").replace(",", " ").split()]


def _pairs(vals: list[float], swap: bool,
           dims: int = 2) -> list[tuple[float, float]]:
    """Group a flat ordinate list into (x, y) pairs, striding by
    ``srsDimension`` — a 3D posList (INSPIRE/CityGML) drops Z instead
    of mispairing it into fabricated vertices."""
    pts = [(vals[i], vals[i + 1])
           for i in range(0, len(vals) - dims + 1, dims)]
    return [(b, a) for a, b in pts] if swap else pts


def _ring_coords(ring_el, swap):
    for tag in ("posList", "coordinates", "pos"):
        el = ring_el.find(f".//{{*}}{tag}")
        if el is not None and el.text:
            dims_attr = (el.get("srsDimension")
                         or ring_el.get("srsDimension"))
            try:
                dims = max(2, int(dims_attr)) if dims_attr else 2
            except ValueError:
                dims = 2
            return _pairs(_floats(el.text), swap, dims)
    return []


def _geom_wkb(el, swap) -> bytes | None:
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources.shapefile import (
        _multilinestring_wkb,
        _multipoint_wkb,
    )

    kind = _local(el.tag)
    if kind == "Point":
        pts = _ring_coords(el, swap)
        return G.wkb_point(*pts[0]) if pts else None
    if kind in ("LineString", "Curve"):
        pts = _ring_coords(el, swap)
        return G.wkb_linestring(pts) if len(pts) >= 2 else None
    if kind in ("Polygon", "Surface"):
        rings = []
        for role in ("exterior", "interior"):
            for bound in el.findall(f"{{*}}{role}"):
                pts = _ring_coords(bound, swap)
                if len(pts) >= 4:
                    rings.append(pts)
        return G.wkb_polygon(rings) if rings else None
    if kind in ("MultiPoint",):
        pts = []
        for sub in el.iter():
            if _local(sub.tag) == "Point":
                p = _ring_coords(sub, swap)
                if p:
                    pts.append(p[0])
        return _multipoint_wkb(pts) if pts else None
    if kind in ("MultiCurve", "MultiLineString"):
        lines = []
        for sub in el.iter():
            if _local(sub.tag) == "LineString":
                pts = _ring_coords(sub, swap)
                if len(pts) >= 2:
                    lines.append(pts)
        return _multilinestring_wkb(lines) if lines else None
    if kind in ("MultiSurface", "MultiPolygon", "MultiGeometry"):
        polys = []
        for sub in el.iter():
            if _local(sub.tag) == "Polygon":
                rings = []
                for role in ("exterior", "interior"):
                    for bound in sub.findall(f"{{*}}{role}"):
                        pts = _ring_coords(bound, swap)
                        if len(pts) >= 4:
                            rings.append(pts)
                if rings:
                    polys.append(rings)
        return G.wkb_multipolygon(polys) if polys else None
    return None


def _feature_of(member):
    """The feature element inside a member wrapper (or the member
    itself when FeatureCollection children are bare features)."""
    kids = list(member)
    if len(kids) == 1 and _local(kids[0].tag) not in _GEOM_TAGS:
        return kids[0]
    return member


def read_gml_bytes(payload: bytes, dataset: str):
    """Yield engine feature rows from one GML document."""
    root = ET.fromstring(payload)
    fid = 0
    members = []
    for el in root.iter():
        if _local(el.tag) in ("featureMember", "member"):
            members.append(_feature_of(el))
        elif _local(el.tag) == "featureMembers":
            members.extend(list(el))
    if not members and _local(root.tag) not in ("FeatureCollection",):
        members = [root]                   # single-feature document

    for feat in members:
        layer = _local(feat.tag)
        geom_el, srs = None, None
        props = {}
        for child in feat:
            kids = list(child)
            inner = kids[0] if len(kids) == 1 else None
            if inner is not None and _local(inner.tag) in _GEOM_TAGS:
                geom_el = inner
                srs = inner.get("srsName") or child.get("srsName")
            elif _local(child.tag) in _GEOM_TAGS:
                geom_el = child
                srs = child.get("srsName")
            elif not kids and child.text and child.text.strip():
                props[_local(child.tag)] = child.text.strip()
        if geom_el is None:
            continue                       # -skipfailures
        srid, swap = parse_srs(srs or root.get("srsName"))
        wkb = _geom_wkb(geom_el, swap)
        if wkb is None:
            continue
        fid += 1
        yield (dataset, layer, fid, wkb, srid, None,
               json.dumps(props, sort_keys=True) if props else None)


def features_from_gml(spark: SparkSession, path: str) -> DataFrame:
    """Scan .gml/.xml files under ``path`` into engine feature rows."""
    return scan_files(spark, path, FEATURE_SCHEMA, read_gml_bytes,
                      (ET.ParseError, ValueError, TypeError, OSError))
