"""Mapbox Vector Tile (MVT 2.1) encoder — pure python, no protobuf lib.

tippecanoe's tile payloads are MVT protobufs (ref /root/reference/
Dockerfile:1-13 builds tippecanoe; ingest/processing.py:228-311 drives
it).  This module hand-writes the protobuf wire format:

  Tile        { repeated Layer layers = 3; }
  Layer       { version = 15 (=2); name = 1; repeated Feature = 2;
                keys = 3; values = 4; extent = 5 (=4096); }
  Feature     { id = 1; packed tags = 2; type = 3; packed geometry = 4; }

Geometries are command integers ((id & 7) | count << 3; MoveTo=1,
LineTo=2, ClosePath=7) with zigzag-encoded coordinate deltas in
tile-local integer coordinates (extent 4096), exactly per the MVT
spec.  Input geometry is WKB (operators/geometry.py codec); the
lon/lat -> tile-local transform is the WebMercator pixel mapping.

Decoded-side verification lives in tests/test_mvt.py with an
independent minimal protobuf-wire reader.
"""

from __future__ import annotations

import json
import math

from geohub_data_pipeline_spark.operators import geometry as G

EXTENT = 4096

MOVE_TO, LINE_TO, CLOSE_PATH = 1, 2, 7
GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = 1, 2, 3

_WKB_TO_MVT = {
    G.POINT: GEOM_POINT, G.MULTIPOINT: GEOM_POINT,
    G.LINESTRING: GEOM_LINESTRING, G.MULTILINESTRING: GEOM_LINESTRING,
    G.POLYGON: GEOM_POLYGON, G.MULTIPOLYGON: GEOM_POLYGON,
}


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

def _varint(v: int) -> bytes:
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _field_varint(num: int, v: int) -> bytes:
    return _varint(num << 3) + _varint(v)


def _field_bytes(num: int, payload: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(payload)) + payload


# ---------------------------------------------------------------------------
# coordinate transform: lon/lat -> integer tile-local coordinates
# ---------------------------------------------------------------------------

def tile_local(lon: float, lat: float, z: int, tx: int, ty: int) -> tuple[int, int]:
    n = 1 << z
    wx = (lon + 180.0) / 360.0 * n
    lat = max(min(lat, 85.051128), -85.051128)
    rad = math.radians(lat)
    wy = (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad)) / math.pi) \
        / 2.0 * n
    px = int(round((wx - tx) * EXTENT))
    py = int(round((wy - ty) * EXTENT))
    return px, py


# ---------------------------------------------------------------------------
# geometry command encoding
# ---------------------------------------------------------------------------

def _cmd(cmd_id: int, count: int) -> int:
    return (cmd_id & 0x7) | (count << 3)


# ---------------------------------------------------------------------------
# numpy-batched twins of the per-vertex primitives: the encode kernel
# runs per tile inside applyInPandas, and a dense tile holds millions
# of vertices — per-vertex Python there is the same bottleneck the
# r5 normalize rewrite removed
# ---------------------------------------------------------------------------

def tile_local_np(lon, lat, z: int, tx: int, ty: int):
    """Vectorized ``tile_local``: arrays of lon/lat -> int64 arrays
    of tile-local pixel coords (same round-half-even as the scalar
    path: ``np.rint`` == ``round``)."""
    import numpy as np
    n = 1 << z
    wx = (np.asarray(lon, np.float64) + 180.0) / 360.0 * n
    latc = np.clip(np.asarray(lat, np.float64), -85.051128, 85.051128)
    rad = np.radians(latc)
    wy = (1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / math.pi) \
        / 2.0 * n
    px = np.rint((wx - tx) * EXTENT).astype(np.int64)
    py = np.rint((wy - ty) * EXTENT).astype(np.int64)
    return px, py


def _zigzag_np(v):
    import numpy as np
    v = np.asarray(v, np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _deltas_np(px, py, cx: int, cy: int):
    """Interleaved zigzag deltas for a vertex run starting from the
    cursor (cx, cy); returns (uint64 array len 2n, new cursor)."""
    import numpy as np
    dx = np.empty(len(px), np.int64)
    dy = np.empty(len(py), np.int64)
    dx[0] = px[0] - cx
    dy[0] = py[0] - cy
    np.subtract(px[1:], px[:-1], out=dx[1:])
    np.subtract(py[1:], py[:-1], out=dy[1:])
    out = np.empty(2 * len(px), np.uint64)
    out[0::2] = _zigzag_np(dx)
    out[1::2] = _zigzag_np(dy)
    return out, int(px[-1]), int(py[-1])


def _varints_np(vals) -> bytes:
    """Bulk protobuf varint encoding of a uint64 array — byte-plane
    construction: per value the byte count is ceil(bitlen/7); plane k
    holds ``(v >> 7k) & 0x7F`` with the continuation bit set below
    the top plane.  ~10 numpy ops per plane instead of a Python loop
    per byte."""
    import numpy as np
    v = np.asarray(vals, np.uint64)
    if v.size == 0:
        return b""
    # bytes per value: 1 + floor(log2(v))/7 for v>0, 1 for v==0
    bits = np.zeros(v.shape, np.int64)
    tmp = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = tmp >= (np.uint64(1) << np.uint64(shift))
        bits[big] += shift
        tmp[big] >>= np.uint64(shift)
    nb = bits // 7 + 1
    offs = np.concatenate(([0], np.cumsum(nb)))
    total = int(offs[-1])
    out = np.zeros(total, np.uint8)
    max_nb = int(nb.max())
    idx0 = offs[:-1]
    for k in range(max_nb):
        sel = nb > k
        b = (v[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nb[sel] - 1) > k
        out[idx0[sel] + k] = b.astype(np.uint8) | (
            cont.astype(np.uint8) << 7)
    return out.tobytes()


def encode_wkb_geometry(wkb: bytes, z: int, tx: int, ty: int):
    """WKB -> (mvt_geom_type, uint64 command array) in tile-local
    coords.  MVT 2.1 §4.3.3.3 keys hole attachment on winding, so
    each ring is re-wound to its role (exterior = screen-CW); the
    transform, deltas, zigzag, and winding test are numpy-batched —
    a dense tile's million vertices encode without per-vertex
    Python."""
    import numpy as np

    walked = G._part_runs(wkb)
    if walked is None:
        return None
    base, runs = walked
    gtype = _WKB_TO_MVT.get(base)
    if gtype is None or not runs:
        return None
    parts_np = []
    roles = []
    for off, n, exterior in runs:
        if n == 0:
            continue
        arr = np.frombuffer(wkb, dtype="<f8", count=2 * n,
                            offset=off).reshape(n, 2)
        parts_np.append(tile_local_np(arr[:, 0], arr[:, 1], z, tx, ty))
        roles.append(exterior)
    if not parts_np:
        return None

    if gtype == GEOM_POINT:
        px = np.concatenate([p for p, _ in parts_np])
        py = np.concatenate([q for _, q in parts_np])
        d, _, _ = _deltas_np(px, py, 0, 0)
        return gtype, np.concatenate(
            (np.array([_cmd(MOVE_TO, len(px))], np.uint64), d))

    close = gtype == GEOM_POLYGON
    chunks: list = []
    cx = cy = 0
    for pi, (px, py) in enumerate(parts_np):
        if close and len(px) >= 2 and px[0] == px[-1] \
                and py[0] == py[-1]:
            px, py = px[:-1], py[:-1]      # ClosePath replaces closure
        if len(px) < (3 if close else 2):
            continue
        if close:
            # screen-CW positive shoelace (MVT 2.1 §4.3.3.3 winding)
            area2 = int(np.sum(px * np.roll(py, -1)
                               - np.roll(px, -1) * py))
            want_cw = roles[pi]
            if area2 != 0 and (area2 > 0) != want_cw:
                px = np.concatenate((px[:1], px[:0:-1]))
                py = np.concatenate((py[:1], py[:0:-1]))
        d, cx, cy = _deltas_np(px, py, cx, cy)
        chunks.append(np.array([_cmd(MOVE_TO, 1), d[0], d[1],
                                _cmd(LINE_TO, len(px) - 1)], np.uint64))
        chunks.append(d[2:])
        if close:
            chunks.append(np.array([_cmd(CLOSE_PATH, 1)], np.uint64))
    if not chunks:
        return None
    return gtype, np.concatenate(chunks)


# ---------------------------------------------------------------------------
# tile assembly
# ---------------------------------------------------------------------------

def encode_feature(fid: int, gtype: int, cmds,
                   tags: list[int] | None = None) -> bytes:
    if isinstance(cmds, list):
        geom = b"".join(_varint(c) for c in cmds)
    else:                                  # uint64 array: bulk encode
        geom = _varints_np(cmds)
    out = _field_varint(1, fid)
    if tags:
        out += _field_bytes(2, b"".join(_varint(t) for t in tags))
    return out + _field_varint(3, gtype) + _field_bytes(4, geom)


def _encode_value(v) -> bytes:
    """MVT 2.1 Value message (one-of): string=1, double=3, sint=6,
    bool=7."""
    if isinstance(v, bool):
        return _field_varint(7, 1 if v else 0)
    if isinstance(v, int):
        return _field_varint(6, (v << 1) ^ (v >> 63))   # zigzag sint64
    if isinstance(v, float):
        import struct as _s
        return bytes([(3 << 3) | 1]) + _s.pack("<d", v)
    return _field_bytes(1, str(v).encode("utf-8"))


def encode_layer(name: str, features: list[bytes],
                 keys: list[str] | None = None,
                 values: list | None = None) -> bytes:
    body = _field_varint(15, 2)                 # version
    body += _field_bytes(1, name.encode())
    for f in features:
        body += _field_bytes(2, f)
    for k in keys or []:
        body += _field_bytes(3, k.encode("utf-8"))
    for v in values or []:
        body += _field_bytes(4, _encode_value(v))
    body += _field_varint(5, EXTENT)
    return _field_bytes(3, body)                # Tile.layers field


def encode_tile(z: int, x: int, y: int,
                layer_features: dict[str, list[tuple]]) -> bytes:
    """layer_features: layer name -> [(fid, wkb)] or
    [(fid, wkb, props-dict)] -> one MVT blob.  Properties are
    interned into the layer's keys/values tables (MVT 2.1 §4.4), as
    tippecanoe preserves attributes from the source FGB."""
    out = b""
    for name in sorted(layer_features):
        feats = []
        keys: list[str] = []
        values: list = []
        key_idx: dict[str, int] = {}
        val_idx: dict[tuple, int] = {}
        for feat in sorted(layer_features[name],
                           key=lambda t: t[0]):
            fid, wkb = feat[0], feat[1]
            props = feat[2] if len(feat) > 2 and feat[2] else None
            enc = encode_wkb_geometry(bytes(wkb), z, x, y)
            if enc is None:
                continue
            tags: list[int] = []
            for k in sorted(props) if props else []:
                v = props[k]
                if v is None:
                    continue
                if k not in key_idx:
                    key_idx[k] = len(keys)
                    keys.append(k)
                vk = (type(v).__name__, v)
                if vk not in val_idx:
                    val_idx[vk] = len(values)
                    values.append(v)
                tags += [key_idx[k], val_idx[vk]]
            feats.append(encode_feature(fid, enc[0], enc[1], tags))
        if feats:
            out += encode_layer(name, feats, keys, values)
    return out


# ---------------------------------------------------------------------------
# MVT decoder — the read twin (PMTiles/MBTiles archives -> features).
# The reference only WRITES tiles (tippecanoe), but its service also
# passthroughs user-supplied .pmtiles (ref ingest/ingest.py:246-247);
# decoding lets the engine audit and re-ingest those archives.
# ---------------------------------------------------------------------------

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _iter_fields(buf: bytes):
    """Yield (field_number, value) — varints as int, length-delimited
    as bytes; other wire types skipped."""
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wire = key >> 3, key & 7
        if wire == 0:
            v, pos = _read_varint(buf, pos)
            yield num, v
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield num, buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            yield num, buf[pos:pos + 4]
            pos += 4
        elif wire == 1:
            yield num, buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _decode_tag_value(buf: bytes):
    import struct as _struct

    for num, v in _iter_fields(buf):
        if num == 1:
            return v.decode("utf-8")
        if num == 2:
            return _struct.unpack("<f", v)[0]
        if num == 3:
            return _struct.unpack("<d", v)[0]
        if num == 4:                       # int64: two's complement
            return v - (1 << 64) if v >= (1 << 63) else v
        if num == 5:                       # uint64
            return v
        if num == 6:
            return _unzigzag(v)
        if num == 7:
            return bool(v)
    return None


def _decode_geometry(cmds: list[int], gtype: int):
    """Command stream -> list of parts (each a list of (px, py))."""
    parts: list[list[tuple[int, int]]] = []
    cur: list[tuple[int, int]] = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cmd, count = cmds[i] & 0x7, cmds[i] >> 3
        i += 1
        if cmd == MOVE_TO:
            for _ in range(count):
                x += _unzigzag(cmds[i]); y += _unzigzag(cmds[i + 1])
                i += 2
                if gtype == GEOM_POINT:
                    parts.append([(x, y)])
                else:
                    if cur:
                        parts.append(cur)
                    cur = [(x, y)]
        elif cmd == LINE_TO:
            for _ in range(count):
                x += _unzigzag(cmds[i]); y += _unzigzag(cmds[i + 1])
                i += 2
                cur.append((x, y))
        elif cmd == CLOSE_PATH:
            if cur:
                cur.append(cur[0])
        else:
            raise ValueError(f"bad geometry command {cmd}")
    if cur:
        parts.append(cur)
    return parts


def decode_mvt(buf: bytes) -> dict:
    """Tile protobuf -> {layer: {"extent": int, "features": [{"id",
    "type", "parts": [[(px, py)...]], "props": dict}]}}."""
    layers: dict = {}
    for num, payload in _iter_fields(buf):
        if num != 3:
            continue
        name, extent = "", EXTENT
        keys: list[str] = []
        values: list = []
        raw_feats: list[bytes] = []
        for fnum, v in _iter_fields(payload):
            if fnum == 1:
                name = v.decode("utf-8")
            elif fnum == 2:
                raw_feats.append(v)
            elif fnum == 3:
                keys.append(v.decode("utf-8"))
            elif fnum == 4:
                values.append(_decode_tag_value(v))
            elif fnum == 5:
                extent = v
        feats = []
        for raw in raw_feats:
            # Feature.id is OPTIONAL; absent (the common tippecanoe
            # output) must not read as a literal 0 shared by every
            # feature — None lets the caller synthesize a unique fid
            fid, gtype, tags, cmds = None, 0, [], []
            for gnum, gv in _iter_fields(raw):
                if gnum == 1:
                    fid = gv
                elif gnum == 2:
                    pos = 0
                    while pos < len(gv):
                        t, pos = _read_varint(gv, pos)
                        tags.append(t)
                elif gnum == 3:
                    gtype = gv
                elif gnum == 4:
                    pos = 0
                    while pos < len(gv):
                        c, pos = _read_varint(gv, pos)
                        cmds.append(c)
            props = {keys[tags[i]]: values[tags[i + 1]]
                     for i in range(0, len(tags) - 1, 2)}
            feats.append({"id": fid, "type": gtype,
                          "parts": _decode_geometry(cmds, gtype),
                          "props": props})
        layers[name] = {"extent": extent, "features": feats}
    return layers


def tile_local_inv(px: float, py: float, z: int, tx: int, ty: int,
                   extent: int = EXTENT) -> tuple[float, float]:
    """Inverse of ``tile_local``: tile-local pixel -> lon/lat."""
    n = 1 << z
    wx = tx + px / extent
    wy = ty + py / extent
    lon = wx / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * wy / n))))
    return lon, lat


def _shoelace_signed(pts) -> float:
    s = 0.0
    for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
        s += x0 * y1 - x1 * y0
    return s / 2.0


def features_from_tiles(tiles) -> "DataFrame":
    """Tile rows ``(dataset, z, x, y, payload)`` (the pmtiles/mbtiles
    sources' schema) -> engine feature rows with lon/lat WKB.
    Polygon parts group by winding per the spec: in y-down tile
    coordinates an exterior ring has POSITIVE shoelace area, interior
    rings negative and attach to the preceding exterior.

    Scale: each tile decodes independently inside an Arrow kernel —
    a map-side transform of however many tiles the (pushdown-pruned)
    tile scan returns; no shuffle."""
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.session import ship_package
    from geohub_data_pipeline_spark.sources.shapefile import (
        FEATURE_SCHEMA,
    )
    ship_package(tiles.sparkSession)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    layers = decode_mvt(bytes(r.payload))
                except (ValueError, IndexError, UnicodeDecodeError):
                    continue               # corrupt tile: quarantine
                for lname, layer in layers.items():
                    ext = layer["extent"]
                    for fidx, f in enumerate(layer["features"]):
                        ll = [[tile_local_inv(px, py, int(r.z),
                                              int(r.x), int(r.y), ext)
                               for px, py in part]
                              for part in f["parts"]]
                        wkb = _parts_wkb(f["type"], f["parts"], ll)
                        if wkb is None:
                            continue
                        props = dict(f["props"])
                        props.update({"_z": int(r.z), "_x": int(r.x),
                                      "_y": int(r.y)})
                        fid = f["id"]
                        if fid is None or not 0 < fid < (1 << 63):
                            # absent / zero / uint64-overflow id:
                            # synthesize a tile-scoped 63-bit fid so
                            # (dataset, layer, fid) stays a key
                            import hashlib
                            h = hashlib.md5(
                                f"{r.z}/{r.x}/{r.y}|{lname}|{fidx}"
                                .encode()).digest()
                            fid = int.from_bytes(h[:8], "big") \
                                & ((1 << 63) - 1)
                        rows.append((
                            r.dataset, lname, int(fid), wkb, 4326,
                            None,
                            json.dumps(props, sort_keys=True,
                                       default=str)))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry", "srid",
                "crs_wkt", "properties"])

    return tiles.mapInPandas(kernel, FEATURE_SCHEMA)


def _parts_wkb(gtype: int, parts, ll):
    from geohub_data_pipeline_spark.sources.shapefile import (
        _multilinestring_wkb,
        _multipoint_wkb,
    )

    if not ll:
        return None
    if gtype == GEOM_POINT:
        pts = [p[0] for p in ll if p]
        if not pts:
            return None
        return G.wkb_point(*pts[0]) if len(pts) == 1 \
            else _multipoint_wkb(pts)
    if gtype == GEOM_LINESTRING:
        lines = [p for p in ll if len(p) >= 2]
        if not lines:
            return None
        return G.wkb_linestring(lines[0]) if len(lines) == 1 \
            else _multilinestring_wkb(lines)
    if gtype == GEOM_POLYGON:
        polys = []
        for part, llpart in zip(parts, ll):
            if len(llpart) < 4:
                continue
            if _shoelace_signed(part) >= 0 or not polys:
                polys.append([llpart])     # exterior (y-down CW)
            else:
                polys[-1].append(llpart)
        if not polys:
            return None
        if len(polys) == 1:
            return G.wkb_polygon(polys[0])
        return G.wkb_multipolygon(polys)
    return None


def merge_tile_fragments(feats) -> "DataFrame":
    """Collapse the per-tile duplicate rows ``features_from_tiles``
    emits into ONE feature row each — the cross-tile re-merge that
    makes a PMTiles re-ingest round-trip faithful.

    Why this is a dedup, not a geometric stitch: the engine's encoder
    (``encode_wkb_geometry``) does NOT clip at tile borders — each
    covering tile carries the FULL geometry in its local coordinate
    frame (the MVT buffer/overflow convention), and because every
    tile's pixel grid is the SAME global grid shifted by an integer
    (``rint((wx - tx) * EXTENT)`` with integer ``tx``), the decoded
    lon/lat vertices are bit-identical across copies.  Identity is
    therefore exact: (dataset, layer, geometry bytes, properties
    minus the ``_z/_x/_y`` provenance tags).  Third-party archives
    whose encoder DID clip keep one row per clipped part (their
    fragments differ byte-wise) — reported, not guessed at.

    Output: FEATURE_SCHEMA columns plus ``n_tiles int`` (how many
    tiles carried the feature), one row per distinct
    (fid, geometry, properties) identity — real ids are
    tile-invariant so per-tile copies collapse, while two DISTINCT
    features that happen to share geometry/properties keep their
    rows; id-less archives (synthesized per-tile fids) keep one row
    per tile.  ``properties`` keeps the original tags minus
    provenance.

    Scale: one hash shuffle keyed by the feature identity — the same
    shape as exact dedup; no geometry math at all.
    """
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.session import ship_package
    from geohub_data_pipeline_spark.sources.shapefile import (
        FEATURE_SCHEMA,
    )
    ship_package(feats.sparkSession)

    def strip(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            clean = []
            for props in pdf["properties"]:
                try:
                    d = json.loads(props) if props else {}
                except ValueError:
                    d = {}
                d.pop("_z", None)
                d.pop("_x", None)
                d.pop("_y", None)
                clean.append(json.dumps(d, sort_keys=True,
                                        default=str))
            out = pdf.copy()
            out["properties"] = clean
            yield out

    stripped = feats.mapInPandas(strip, FEATURE_SCHEMA)
    # fid IS part of the identity: two DISTINCT features that happen
    # to share geometry and properties (stacked identical POIs) keep
    # their rows when the archive carries real ids; only true
    # per-tile copies (same fid, bit-identical payload) collapse.
    # Id-less archives (synthesized per-tile fids) keep one row per
    # tile, as documented above.
    return (
        stripped.groupBy(
            "dataset", "layer", "fid",
            F.xxhash64("geometry", "properties").alias("__ident"))
        .agg(F.first("geometry").alias("geometry"),
             F.first("srid").alias("srid"),
             F.first("crs_wkt").alias("crs_wkt"),
             F.first("properties").alias("__props"),
             F.count(F.lit(1)).alias("__n"))
        .select(
            "dataset", "layer", "fid", "geometry", "srid", "crs_wkt",
            F.col("__props").alias("properties"),
            F.col("__n").cast("int").alias("n_tiles"))
    )


def weld_clipped_fragments(feats, cells: int = 256,
                           use_fid: bool = True):
    """Geometric border-weld for THIRD-PARTY clipped MVT archives —
    the companion to ``merge_tile_fragments`` (which is exact for
    this engine's non-clipping encoder but keeps one row per clipped
    part for tippecanoe-style archives whose encoder cut geometries
    at tile borders).

    Identification is geometric, not byte-identity: a clipped
    polygon fragment carries ring segments LYING ON its tile's
    border lines.  Each such border run is rasterized onto a GLOBAL
    web-mercator cell grid (``cells`` per tile side — neighbors
    across a border compute identical cell indices because the grid
    is global), fragments sharing a border cell become edges of a
    fragment graph, connected components label original features,
    and each component dissolves along its (vertex-identical,
    same-global-pixel-grid) clip edges into one geometry via the
    coverage dissolver.  ``n_open > 0`` on the output flags
    encoder-rounding wobble the stitcher could not absorb — reported
    per feature, never guessed at.

    Input: ``features_from_tiles`` output (properties carry the
    ``_z/_x/_y`` provenance).  POLYGON rows weld; point/line rows
    pass through one-per-input-row with ``n_fragments = 1`` (line
    welding is ``overlay.merge_lines``' job on endpoint identity).

    ``use_fid=True`` (default) welds only fragments sharing a
    feature id — tippecanoe preserves ids, and two DISTINCT features
    clipped at the same border spot must not merge.  Pass False for
    id-less archives (per-tile synthesized fids), accepting the
    documented geometric ambiguity at border-cell granularity.

    Output: dataset, layer, fid (min over the component), geometry,
    srid, crs_wkt, properties (provenance stripped), n_fragments,
    n_open.

    Scale: border cells are a map-side fan bounded by 4 x ``cells``
    rows per fragment; the graph join + CC shuffle touch cell keys
    and 8-byte ids only; the dissolve is the coverage dissolver's
    one edge-keyed shuffle.  No all-pairs anywhere.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from geohub_data_pipeline_spark.operators.overlay import dissolve
    from geohub_data_pipeline_spark.session import ship_package
    from geohub_data_pipeline_spark.sources.shapefile import (
        FEATURE_SCHEMA,
    )
    ship_package(feats.sparkSession)

    f = feats.withColumn(
        "frag_id", F.xxhash64("dataset", "layer", "fid", "geometry",
                             "properties"))

    def is_poly(wkb: bytes) -> bool:
        if wkb is None or len(wkb) < 5:
            return False
        import struct
        gtype = struct.unpack_from(
            "<I", wkb, 1)[0] % 1000
        return gtype in (G.POLYGON, G.MULTIPOLYGON)

    def border_cells(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geohub_data_pipeline_spark.operators import spatial as SP
        for pdf in it:
            ks, fr = [], []
            for r in pdf.itertuples(index=False):
                if r.geometry is None or not is_poly(bytes(r.geometry)):
                    continue
                try:
                    props = json.loads(r.properties or "{}")
                    z = int(props["_z"])
                    tx = int(props["_x"])
                    ty = int(props["_y"])
                except (ValueError, KeyError, TypeError):
                    continue               # no provenance: can't weld
                fk = int(r.fid) if use_fid else 0
                n = 1 << z
                rings = SP._rings_of_wkb(bytes(r.geometry)) or []
                for ring in rings:
                    arr = np.asarray(ring, np.float64).reshape(-1, 2)
                    # global mercator units scaled to the cell grid
                    u = (arr[:, 0] + 180.0) / 360.0 * n * cells
                    latr = np.radians(np.clip(arr[:, 1], -89.9999,
                                              89.9999))
                    v = (1.0 - np.log(np.tan(latr) + 1.0
                                      / np.cos(latr)) / math.pi) \
                        / 2.0 * n * cells
                    bu = np.array([tx * cells, (tx + 1) * cells],
                                  np.float64)
                    bv = np.array([ty * cells, (ty + 1) * cells],
                                  np.float64)
                    eps = 1e-6
                    for i in range(len(arr) - 1):
                        u0, u1, v0, v1 = u[i], u[i + 1], v[i], v[i + 1]
                        for b in bu:       # vertical border runs
                            if abs(u0 - b) < eps and abs(u1 - b) < eps:
                                lo = int(math.floor(min(v0, v1)))
                                hi = int(math.ceil(max(v0, v1)))
                                for c in range(lo, hi):
                                    ks.append(f"{r.dataset}|{r.layer}"
                                              f"|{fk}|{z}|v|"
                                              f"{round(b)}|{c}")
                                    fr.append(int(r.frag_id))
                        for b in bv:       # horizontal border runs
                            if abs(v0 - b) < eps and abs(v1 - b) < eps:
                                lo = int(math.floor(min(u0, u1)))
                                hi = int(math.ceil(max(u0, u1)))
                                for c in range(lo, hi):
                                    ks.append(f"{r.dataset}|{r.layer}"
                                              f"|{fk}|{z}|h|"
                                              f"{round(b)}|{c}")
                                    fr.append(int(r.frag_id))
            yield pd.DataFrame({"cell": ks, "frag": fr})

    cell_rows = f.mapInPandas(border_cells, "cell string, frag long")
    # min-star edges per cell: bounded by fragments per border cell
    edges = (cell_rows.groupBy("cell")
             .agg(F.collect_set("frag").alias("fs"))
             .select(F.explode("fs").alias("id_b"),
                     F.array_min("fs").alias("id_a"))
             .filter(F.col("id_a") != F.col("id_b"))
             .distinct())
    labels = connected_components(edges)

    # strip the _z/_x/_y provenance python-side so property VALUE
    # types survive (an expression round-trip through
    # map<string,string> would stringify numbers)
    def strip_k(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            clean = []
            for props in pdf["properties"]:
                try:
                    d = json.loads(props) if props else {}
                except ValueError:
                    d = {}
                d.pop("_z", None)
                d.pop("_x", None)
                d.pop("_y", None)
                clean.append(json.dumps(d, sort_keys=True,
                                        default=str))
            out = pdf.copy()
            out["properties"] = clean
            out["is_poly"] = [
                g is not None and is_poly(bytes(g))
                for g in pdf["geometry"]]
            yield out

    stripped = f.mapInPandas(strip_k,
                             FEATURE_SCHEMA
                             + ", frag_id long, is_poly boolean")

    # non-polygon rows (points, lines, null geometry) never weld:
    # pass each input row through untouched with n_fragments = 1,
    # n_open = 0 — only the provenance keys are stripped.
    passthrough = (stripped.filter(~F.col("is_poly"))
                   .select("dataset", "layer", "fid", "geometry",
                           "srid", "crs_wkt", "properties",
                           F.lit(1).cast("int").alias("n_fragments"),
                           F.lit(0).cast("int").alias("n_open")))

    lab = labels.select(F.col("node").alias("frag_id"),
                        F.col("label").alias("weld_lbl"))
    j = (stripped.filter(F.col("is_poly"))
         .join(lab, "frag_id", "left")
         .withColumn("weld_lbl",
                     F.coalesce("weld_lbl", F.col("frag_id"))))

    attrs = (j.groupBy("dataset", "layer", "weld_lbl")
             .agg(F.min("fid").alias("fid"),
                  F.first("srid").alias("srid"),
                  F.first("crs_wkt").alias("crs_wkt"),
                  F.min("properties").alias("properties"),
                  F.count(F.lit(1)).alias("n_fragments")))

    polys = j.select(F.col("weld_lbl").alias("key"), "geometry")
    merged = dissolve(polys).select(
        F.col("key").alias("weld_lbl"), "geometry",
        F.col("n_open").cast("int").alias("n_open"))

    welded = (attrs.join(merged, "weld_lbl")
              .select("dataset", "layer", "fid", "geometry", "srid",
                      "crs_wkt", "properties",
                      F.col("n_fragments").cast("int").alias(
                          "n_fragments"), "n_open"))
    return welded.unionByName(passthrough)
