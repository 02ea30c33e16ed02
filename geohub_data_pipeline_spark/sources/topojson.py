"""TopoJSON source — stdlib json, no GDAL.

The TopoJSON specification (topojson/topojson-specification, v1.0):
a ``Topology`` object shares geometry between features through an
``arcs`` table; with a ``transform`` present, arc positions are
delta-encoded quantized integers

    position[j] = (sum of deltas[0..j]) * scale + translate

Geometry objects reference arcs by index — a negative index ``i``
means arc ``~i`` reversed; consecutive arcs in a ring/line share
their junction point, which is dropped when stitching.  ``objects``
keys become engine layers; Point/MultiPoint carry (quantized)
coordinates directly.

The reference ingests TopoJSON through GDAL's TopoJSON driver
(ref ingest/processing.py:100-213, default driver set).

Scale: one document = one task in an Arrow-batched kernel (the
format is a single JSON object and cannot split); arcs decode once
per document with numpy cumsum, then every feature stitches from
the decoded table.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.sources.files import scan_files
from geohub_data_pipeline_spark.sources.shapefile import FEATURE_SCHEMA


def _decode_arcs(topo: dict) -> list[np.ndarray]:
    """The arcs table -> list of [n, 2] float64 position arrays."""
    tr = topo.get("transform")
    out = []
    for arc in topo.get("arcs", []):
        a = np.asarray(arc, dtype=np.float64).reshape(-1, 2)
        if tr is not None:
            a = np.cumsum(a, axis=0)
            a = a * np.asarray(tr["scale"]) + np.asarray(tr["translate"])
        out.append(a)
    return out


def _point(topo: dict, coords) -> tuple[float, float]:
    tr = topo.get("transform")
    x, y = float(coords[0]), float(coords[1])
    if tr is not None:
        x = x * tr["scale"][0] + tr["translate"][0]
        y = y * tr["scale"][1] + tr["translate"][1]
    return x, y


def _stitch(arc_refs, arcs: list[np.ndarray]) -> list[tuple[float, float]]:
    """Arc index list -> stitched point list (spec: negative index =
    reversed arc ~i; drop the shared first point of each arc after
    the first)."""
    pts: list[tuple[float, float]] = []
    for k, ref in enumerate(arc_refs):
        ref = int(ref)
        a = arcs[~ref][::-1] if ref < 0 else arcs[ref]
        start = 1 if k > 0 else 0
        pts.extend((float(x), float(y)) for x, y in a[start:])
    return pts


def _geom_wkb(topo: dict, g: dict, arcs) -> bytes | None:
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources.shapefile import (
        _multilinestring_wkb,
    )

    t = g.get("type")
    if t == "Point":
        return G.wkb_point(*_point(topo, g["coordinates"]))
    if t == "MultiPoint":
        pts = [_point(topo, c) for c in g["coordinates"]]
        if not pts:
            return None
        return G.wkb_point(*pts[0]) if len(pts) == 1 else \
            _multipoint_wkb(pts)
    if t == "LineString":
        pts = _stitch(g["arcs"], arcs)
        return G.wkb_linestring(pts) if len(pts) >= 2 else None
    if t == "MultiLineString":
        lines = [_stitch(a, arcs) for a in g["arcs"]]
        lines = [ln for ln in lines if len(ln) >= 2]
        return _multilinestring_wkb(lines) if lines else None
    if t == "Polygon":
        rings = [_stitch(r, arcs) for r in g["arcs"]]
        rings = [r for r in rings if len(r) >= 4]
        return G.wkb_polygon(rings) if rings else None
    if t == "MultiPolygon":
        polys = [[_stitch(r, arcs) for r in poly] for poly in g["arcs"]]
        polys = [[r for r in rings if len(r) >= 4] for rings in polys]
        polys = [p for p in polys if p]
        return G.wkb_multipolygon(polys) if polys else None
    return None


def _multipoint_wkb(pts) -> bytes:
    from geohub_data_pipeline_spark.sources.shapefile import (
        _multipoint_wkb as mp,
    )
    return mp(pts)


def read_topojson_bytes(payload: bytes, dataset: str):
    """Yield engine feature rows from one Topology document.  Layer =
    ``objects`` key; GeometryCollections flatten one row per member
    geometry; fid = the geometry's ``id`` when numeric, else a
    per-layer counter."""
    topo = json.loads(payload.decode("utf-8"))
    if topo.get("type") != "Topology":
        raise ValueError("not a TopoJSON Topology")
    arcs = _decode_arcs(topo)

    for layer, obj in sorted(topo.get("objects", {}).items()):
        geoms = (obj.get("geometries", [])
                 if obj.get("type") == "GeometryCollection" else [obj])
        counter = 0
        for g in geoms:
            wkb = _geom_wkb(topo, g, arcs)
            if wkb is None:
                continue                   # -skipfailures
            counter += 1
            fid = g.get("id")
            fid = int(fid) if isinstance(fid, (int, float)) else counter
            props = g.get("properties")
            pjson = (json.dumps(props, sort_keys=True,
                                separators=(",", ":"))
                     if isinstance(props, dict) and props else None)
            yield (dataset, layer, fid, wkb, 4326, None, pjson)


def features_from_topojson(spark: SparkSession, path: str) -> DataFrame:
    """Scan .topojson files under ``path`` into engine feature rows."""
    return scan_files(spark, path, FEATURE_SCHEMA, read_topojson_bytes,
                      (ValueError, KeyError, TypeError, IndexError))
