"""FlatGeobuf (.fgb) reader + writer — stdlib only.

The reference's vector stage materializes every layer as FlatGeobuf
(ref ingest/processing.py:100-213 ``dataset2fgb``; the backfill job
regenerates missing ``.fgb`` blobs, ref ingest/fgb_upload/main.py) —
it is the pipeline's primary vector artifact alongside PMTiles.  This
module implements the format from the public spec
(https://flatgeobuf.org, BSD-2; flatbuffers wire format per
https://flatbuffers.dev/internals) so the engine can both ingest
user-uploaded ``.fgb`` files and emit the same companion artifact the
reference uploads.

Layout (spec v3):

* 8-byte magic ``fgb\\x03fgb\\x00`` (major version 3, patch 0);
* size-prefixed flatbuffer ``Header`` table (name, envelope,
  geometry_type, columns, features_count, index_node_size, crs);
* optional packed Hilbert R-tree index (``index_node_size > 0``) —
  40-byte nodes, level order;
* size-prefixed flatbuffer ``Feature`` records (geometry as flat
  xy/ends vectors or nested parts; properties as a packed
  (u16 column-index, value) byte vector).

The writer emits ``index_node_size = 0`` (no spatial index — a legal
spec point that GDAL itself offers as ``SPATIAL_INDEX=NO``): at
engine scale, spatial pruning happens through Spark partition/bbox
predicates, not per-file R-trees, and index-less files stream.  The
reader handles BOTH forms — indexed files compute the exact packed
R-tree size from (features_count, node_size) and skip it.

Flatbuffers subset: vtable-based tables, scalar fields, strings,
scalar vectors, vectors of table offsets — everything the FGB schema
needs, built back-to-front exactly like the official builder so any
conformant reader parses the output.

Scale: one .fgb = one executor task (the format is a sequential
frame stream); ``features_from_fgb`` parallelizes across files via
``binaryFile`` + ``mapInPandas``, the same shape as the GeoPackage /
shapefile sources.
"""

from __future__ import annotations

import math
import os
import struct

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.sources.files import scan_files

MAGIC = b"fgb\x03fgb\x00"

FEATURE_SCHEMA = (
    "dataset string, layer string, fid long, geometry binary, srid int, "
    "crs_wkt string, properties string"
)

# GeometryType enum (header.fbs)
GT_UNKNOWN = 0
GT_POINT = 1
GT_LINESTRING = 2
GT_POLYGON = 3
GT_MULTIPOINT = 4
GT_MULTILINESTRING = 5
GT_MULTIPOLYGON = 6
GT_GEOMETRYCOLLECTION = 7

# ColumnType enum (header.fbs)
CT_BOOL = 2
CT_INT = 5
CT_LONG = 7
CT_DOUBLE = 10
CT_STRING = 11
CT_JSON = 12


# ---------------------------------------------------------------------------
# minimal flatbuffers builder (back-to-front, official algorithm)
# ---------------------------------------------------------------------------

class _Builder:
    """Builds a flatbuffer by PREPENDING; ``offset()`` values are
    distances from the buffer end, stable under later prepends."""

    def __init__(self):
        self.buf = bytearray()
        self.minalign = 4

    def offset(self) -> int:
        return len(self.buf)

    def align(self, size: int, extra: int = 0) -> None:
        self.minalign = max(self.minalign, size)
        while (len(self.buf) + extra) % size != 0:
            self.buf[:0] = b"\x00"

    def push(self, fmt: str, value) -> None:
        self.buf[:0] = struct.pack("<" + fmt, value)

    def string(self, s: str) -> int:
        raw = s.encode("utf-8")
        self.align(4, extra=len(raw) + 1 + 4)
        self.buf[:0] = raw + b"\x00"
        self.push("I", len(raw))
        return self.offset()

    def vector_scalar(self, fmt: str, size: int, values) -> int:
        values = list(values)
        total = len(values) * size
        self.align(max(4, size), extra=total + 4)
        if values:
            self.buf[:0] = struct.pack(f"<{len(values)}{fmt}", *values)
        self.push("I", len(values))
        return self.offset()

    def vector_bytes(self, raw: bytes) -> int:
        self.align(4, extra=len(raw) + 4)
        self.buf[:0] = raw
        self.push("I", len(raw))
        return self.offset()

    def vector_offsets(self, offs: list[int]) -> int:
        self.align(4, extra=4 * len(offs) + 4)
        for off in reversed(offs):
            self.push("I", len(self.buf) + 4 - off)
        self.push("I", len(offs))
        return self.offset()

    def table(self, fields: list[tuple[int, str, object]]) -> int:
        """fields: (slot, kind, value); kind in {'offset', 'u8',
        'u16', 'u32', 'u64', 'i32', 'f64', 'bool'}.  Returns the
        table's offset-from-end."""
        start = self.offset()
        slots: dict[int, int] = {}
        _SCALARS = {"u8": ("B", 1), "bool": ("B", 1), "u16": ("H", 2),
                    "u32": ("I", 4), "i32": ("i", 4), "u64": ("Q", 8),
                    "f64": ("d", 8)}
        # largest-first keeps alignment padding minimal (any order is
        # legal — the vtable records where each landed)
        for slot, kind, value in sorted(
                fields, key=lambda f: -(8 if f[1] in ("u64", "f64")
                                        else 4)):
            if kind == "offset":
                self.align(4, extra=4)
                self.push("I", len(self.buf) + 4 - int(value))
            else:
                fmt, size = _SCALARS[kind]
                self.align(size, extra=size)
                self.push(fmt, int(value) if kind != "f64" else value)
            slots[slot] = self.offset()
        # table header: soffset32 to the vtable (patched below)
        self.align(4, extra=4)
        self.push("i", 0)
        table_off = self.offset()
        table_size = table_off - start
        nslots = (max(slots) + 1) if slots else 0
        entries = [(table_off - slots[i]) if i in slots else 0
                   for i in range(nslots)]
        for e in reversed(entries):
            self.push("H", e)
        self.push("H", table_size)
        self.push("H", 4 + 2 * nslots)
        vt_off = self.offset()
        struct.pack_into("<i", self.buf, len(self.buf) - table_off,
                         vt_off - table_off)
        return table_off

    def finish(self, root: int) -> bytes:
        self.align(self.minalign, extra=4)
        self.push("I", len(self.buf) + 4 - root)
        return bytes(self.buf)


# ---------------------------------------------------------------------------
# minimal flatbuffers reader
# ---------------------------------------------------------------------------

def _u16(buf, pos):
    return struct.unpack_from("<H", buf, pos)[0]


def _u32(buf, pos):
    return struct.unpack_from("<I", buf, pos)[0]


def _field(buf: bytes, tpos: int, slot: int) -> int:
    """Absolute position of a table field, or 0 if absent."""
    vt = tpos - struct.unpack_from("<i", buf, tpos)[0]
    if 4 + 2 * slot >= _u16(buf, vt):
        return 0
    rel = _u16(buf, vt + 4 + 2 * slot)
    return tpos + rel if rel else 0


def _f_scalar(buf, tpos, slot, fmt, default):
    p = _field(buf, tpos, slot)
    return struct.unpack_from("<" + fmt, buf, p)[0] if p else default


def _f_string(buf, tpos, slot):
    p = _field(buf, tpos, slot)
    if not p:
        return None
    sp = p + _u32(buf, p)
    n = _u32(buf, sp)
    return buf[sp + 4:sp + 4 + n].decode("utf-8")


def _f_vector(buf, tpos, slot):
    """(element_start, count) of a vector field, or (0, 0)."""
    p = _field(buf, tpos, slot)
    if not p:
        return 0, 0
    vp = p + _u32(buf, p)
    return vp + 4, _u32(buf, vp)


def _f_table(buf, tpos, slot):
    p = _field(buf, tpos, slot)
    return (p + _u32(buf, p)) if p else 0


# ---------------------------------------------------------------------------
# WKB <-> FGB geometry
# ---------------------------------------------------------------------------

def _wkb_rings(buf: bytes, off: int):
    """Parse one WKB geometry at ``off``; returns
    (geom_type, rings: list[list[(x, y)]], end_off)."""
    gtype = struct.unpack_from("<I", buf, off + 1)[0] % 1000
    off += 5
    if gtype == 1:                               # Point
        return gtype, [[struct.unpack_from("<2d", buf, off)]], off + 16
    if gtype == 2:                               # LineString
        n = _u32(buf, off)
        off += 4
        pts = [struct.unpack_from("<2d", buf, off + 16 * i)
               for i in range(n)]
        return gtype, [pts], off + 16 * n
    if gtype == 3:                               # Polygon
        nr = _u32(buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            n = _u32(buf, off)
            off += 4
            rings.append([struct.unpack_from("<2d", buf, off + 16 * i)
                          for i in range(n)])
            off += 16 * n
        return gtype, rings, off
    # Multi* / collection: parse children recursively
    ng = _u32(buf, off)
    off += 4
    children = []
    for _ in range(ng):
        ctype, rings, off = _wkb_rings(buf, off)
        children.append((ctype, rings))
    return gtype, children, off


def _geometry_table(b: _Builder, gtype: int, rings,
                    with_type: bool = False) -> int:
    """Build a Geometry flatbuffer table from parsed WKB structure.
    ``with_type`` writes the ``type`` field (slot 6) — required on
    the outer geometry when the header declares Unknown (mixed
    layers) and on every part of a GeometryCollection."""
    tfield = [(6, "u8", gtype)] if with_type else []
    if gtype in (1, 2):                          # Point / LineString
        xy = [c for pt in rings[0] for c in pt]
        xy_off = b.vector_scalar("d", 8, xy)
        return b.table([(1, "offset", xy_off)] + tfield)
    if gtype == 3:                               # Polygon
        xy, ends, total = [], [], 0
        for ring in rings:
            total += len(ring)
            ends.append(total)
            xy += [c for pt in ring for c in pt]
        xy_off = b.vector_scalar("d", 8, xy)
        fields = [(1, "offset", xy_off)] + tfield
        if len(ends) > 1:
            fields.append((0, "offset", b.vector_scalar("I", 4, ends)))
        return b.table(fields)
    if gtype == 4:                               # MultiPoint
        xy = [c for _, r in rings for pt in r[0] for c in pt]
        return b.table([(1, "offset", b.vector_scalar("d", 8, xy))]
                       + tfield)
    if gtype == 5:                               # MultiLineString
        xy, ends, total = [], [], 0
        for _, r in rings:
            total += len(r[0])
            ends.append(total)
            xy += [c for pt in r[0] for c in pt]
        xy_off = b.vector_scalar("d", 8, xy)
        fields = [(1, "offset", xy_off)] + tfield
        if len(ends) > 1:
            fields.append((0, "offset", b.vector_scalar("I", 4, ends)))
        return b.table(fields)
    # MultiPolygon / GeometryCollection: nested parts (collection
    # parts always carry their own type)
    parts = [_geometry_table(b, ctype, r,
                             with_type=(gtype == GT_GEOMETRYCOLLECTION))
             for ctype, r in rings]
    return b.table([(7, "offset", b.vector_offsets(parts))] + tfield)


def _geometry_to_wkb(buf: bytes, gpos: int, gtype: int) -> bytes | None:
    """FGB Geometry table -> WKB (2D)."""
    if gtype == GT_GEOMETRYCOLLECTION:
        vp, n = _f_vector(buf, gpos, 7)
        out = b"\x01" + struct.pack("<II", 7, n)
        for i in range(n):
            ep = vp + 4 * i
            child = ep + _u32(buf, ep)
            ctype = _f_scalar(buf, child, 6, "B", GT_UNKNOWN)
            wkb = _geometry_to_wkb(buf, child, ctype)
            if wkb is None:
                return None
            out += wkb
        return out
    if gtype == GT_MULTIPOLYGON:
        vp, n = _f_vector(buf, gpos, 7)
        out = b"\x01" + struct.pack("<II", 6, n)
        for i in range(n):
            ep = vp + 4 * i
            child = ep + _u32(buf, ep)
            wkb = _geometry_to_wkb(buf, child, GT_POLYGON)
            if wkb is None:
                return None
            out += wkb
        return out

    xp, nxy = _f_vector(buf, gpos, 1)
    if not nxy:
        return None
    coords = struct.unpack_from(f"<{nxy}d", buf, xp)
    npts = nxy // 2
    ep, nends = _f_vector(buf, gpos, 0)
    ends = (struct.unpack_from(f"<{nends}I", buf, ep)
            if nends else (npts,))

    if gtype == GT_POINT:
        return b"\x01" + struct.pack("<I2d", 1, coords[0], coords[1])
    if gtype == GT_LINESTRING:
        return (b"\x01" + struct.pack("<II", 2, npts)
                + struct.pack(f"<{nxy}d", *coords))
    if gtype == GT_POLYGON:
        out = b"\x01" + struct.pack("<II", 3, len(ends))
        start = 0
        for end in ends:
            ring = coords[2 * start:2 * end]
            out += struct.pack("<I", end - start)
            out += struct.pack(f"<{len(ring)}d", *ring)
            start = end
        return out
    if gtype == GT_MULTIPOINT:
        out = b"\x01" + struct.pack("<II", 4, npts)
        for i in range(npts):
            out += b"\x01" + struct.pack("<I2d", 1,
                                         coords[2 * i], coords[2 * i + 1])
        return out
    if gtype == GT_MULTILINESTRING:
        out = b"\x01" + struct.pack("<II", 5, len(ends))
        start = 0
        for end in ends:
            seg = coords[2 * start:2 * end]
            out += b"\x01" + struct.pack("<II", 2, end - start)
            out += struct.pack(f"<{len(seg)}d", *seg)
            start = end
        return out
    return None


# ---------------------------------------------------------------------------
# properties row codec
# ---------------------------------------------------------------------------

_COL_PACK = {CT_BOOL: ("B", 1), CT_INT: ("i", 4), CT_LONG: ("q", 8),
             CT_DOUBLE: ("d", 8)}


def _encode_properties(columns: list[tuple[str, int]], props: dict) -> bytes:
    out = bytearray()
    for idx, (name, ctype) in enumerate(columns):
        if name not in props or props[name] is None:
            continue
        v = props[name]
        out += struct.pack("<H", idx)
        if ctype in (CT_STRING, CT_JSON):
            raw = str(v).encode("utf-8")
            out += struct.pack("<I", len(raw)) + raw
        else:
            fmt, _ = _COL_PACK[ctype]
            out += struct.pack("<" + fmt, v)
    return bytes(out)


def _decode_properties(columns: list[tuple[str, int]],
                       raw: bytes) -> dict:
    out = {}
    pos = 0
    while pos + 2 <= len(raw):
        (idx,) = struct.unpack_from("<H", raw, pos)
        pos += 2
        if idx >= len(columns):
            break
        name, ctype = columns[idx]
        if ctype in (CT_STRING, CT_JSON):
            (n,) = struct.unpack_from("<I", raw, pos)
            pos += 4
            out[name] = raw[pos:pos + n].decode("utf-8", "replace")
            pos += n
        elif ctype in _COL_PACK:
            fmt, size = _COL_PACK[ctype]
            out[name] = struct.unpack_from("<" + fmt, raw, pos)[0]
            if ctype == CT_BOOL:
                out[name] = bool(out[name])
            pos += size
        else:
            break                          # unsupported type: stop row
    return out


# ---------------------------------------------------------------------------
# packed R-tree (spec packedrtree: 40-byte nodes, level order with
# the root level first, leaves last; internal offsets point at the
# first child node's byte position inside the tree)
# ---------------------------------------------------------------------------

def _hilbert_d(x: int, y: int, order_bits: int = 16) -> int:
    """Distance along the Hilbert curve of a 2^order_bits grid
    (standard xy->d iterative algorithm — the ordering flatbush/FGB
    recommend for leaf locality)."""
    d = 0
    s = 1 << (order_bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:                        # rotate quadrant
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _hilbert_order(boxes: list[tuple]) -> list[int]:
    """Feature indices sorted by the Hilbert distance of their bbox
    centers within the layer extent."""
    minx = min(b[0] for b in boxes)
    miny = min(b[1] for b in boxes)
    maxx = max(b[2] for b in boxes)
    maxy = max(b[3] for b in boxes)
    sx = 65535.0 / (maxx - minx) if maxx > minx else 0.0
    sy = 65535.0 / (maxy - miny) if maxy > miny else 0.0

    def key(i):
        b = boxes[i]
        cx = int(((b[0] + b[2]) / 2 - minx) * sx)
        cy = int(((b[1] + b[3]) / 2 - miny) * sy)
        return _hilbert_d(cx, cy)

    return sorted(range(len(boxes)), key=key)


def _level_sizes(num_items: int, node_size: int) -> list[int]:
    """Node counts per level, leaf level first."""
    sizes = [num_items]
    while sizes[-1] != 1:
        sizes.append((sizes[-1] + node_size - 1) // node_size)
    return sizes


def _build_packed_rtree(boxes: list[tuple[float, float, float, float]],
                        offsets: list[int],
                        node_size: int = 16) -> bytes:
    """``boxes[i]``/``offsets[i]`` = bbox + data-section byte offset
    of feature i (in file order).  Returns the serialized tree."""
    n = len(boxes)
    if n == 0:
        return b""
    sizes = _level_sizes(n, node_size)           # leaf-first
    starts_rootfirst = []                        # start index per level
    acc = 0
    for s in reversed(sizes):                    # root-first
        starts_rootfirst.append(acc)
        acc += s
    total = acc
    nodes = [(math.inf, math.inf, -math.inf, -math.inf, 0)] * total
    leaf_start = starts_rootfirst[-1]
    for i, (bb, off) in enumerate(zip(boxes, offsets)):
        nodes[leaf_start + i] = (*bb, off)
    # fill upward: level index root-first; children of the k-th node
    # of level L start at child_level_start + k * node_size
    for li in range(len(starts_rootfirst) - 2, -1, -1):
        b = starts_rootfirst[li]
        cb = starts_rootfirst[li + 1]
        csize = (starts_rootfirst[li + 2] - cb
                 if li + 2 < len(starts_rootfirst) else total - cb)
        size = cb - b
        for k in range(size):
            lo = k * node_size
            hi = min(lo + node_size, csize)
            minx = miny = math.inf
            maxx = maxy = -math.inf
            for c in range(lo, hi):
                cx0, cy0, cx1, cy1, _ = nodes[cb + c]
                minx, miny = min(minx, cx0), min(miny, cy0)
                maxx, maxy = max(maxx, cx1), max(maxy, cy1)
            nodes[b + k] = (minx, miny, maxx, maxy, (cb + lo) * 40)
    return b"".join(struct.pack("<4dQ", *nd) for nd in nodes)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------

def _column_table(b: _Builder, name: str, ctype: int) -> int:
    name_off = b.string(name)
    return b.table([(0, "offset", name_off), (1, "u8", ctype)])


def write_fgb_bytes(features: list[tuple],
                    name: str = "layer",
                    srid: int = 4326,
                    crs_wkt: str | None = None,
                    columns: list[tuple[str, int]] | None = None,
                    index_node_size: int = 0,
                    hilbert_sort: bool = False) -> bytes:
    """Encode ``(fid, wkb, props-dict)`` (or ``(fid, wkb)``) tuples
    into a FlatGeobuf file.  Geometry type is promoted to Unknown in
    the header when mixed.  ``columns`` is [(name, ColumnType)];
    omitted -> no property schema.  ``index_node_size > 0`` writes
    the packed R-tree; ``hilbert_sort`` reorders features along the
    Hilbert curve first (the spec's recommended leaf-locality order —
    the tree is valid either way)."""
    columns = columns or []
    parsed = []
    gtypes = set()
    minx = miny = math.inf
    maxx = maxy = -math.inf
    boxes = []
    for feat in features:
        fid, wkb = feat[0], feat[1]
        props = feat[2] if len(feat) > 2 and feat[2] else {}
        if wkb is None:
            continue
        gtype, rings, _ = _wkb_rings(bytes(wkb), 0)
        gtypes.add(gtype)
        bx0 = by0 = math.inf
        bx1 = by1 = -math.inf
        for x, y in _iter_points(gtype, rings):
            bx0, by0 = min(bx0, x), min(by0, y)
            bx1, by1 = max(bx1, x), max(by1, y)
        minx, miny = min(minx, bx0), min(miny, by0)
        maxx, maxy = max(maxx, bx1), max(maxy, by1)
        boxes.append((bx0, by0, bx1, by1))
        parsed.append((fid, gtype, rings, props))

    if hilbert_sort and len(parsed) > 1:
        order = _hilbert_order(boxes)
        parsed = [parsed[i] for i in order]
        boxes = [boxes[i] for i in order]

    header_gt = gtypes.pop() if len(gtypes) == 1 else GT_UNKNOWN

    hb = _Builder()
    col_offs = [_column_table(hb, n, t) for n, t in columns]
    fields: list[tuple[int, str, object]] = []
    name_off = hb.string(name)
    fields.append((0, "offset", name_off))
    if parsed:
        fields.append((1, "offset", hb.vector_scalar(
            "d", 8, [minx, miny, maxx, maxy])))
    fields.append((2, "u8", header_gt))
    if col_offs:
        fields.append((7, "offset", hb.vector_offsets(col_offs)))
    fields.append((8, "u64", len(parsed)))
    fields.append((9, "u16", index_node_size))
    crs_fields: list[tuple[int, str, object]] = []
    if crs_wkt:
        crs_fields.append((4, "offset", hb.string(crs_wkt)))
    if srid:
        org_off = hb.string("EPSG")
        crs_fields.append((0, "offset", org_off))
        crs_fields.append((1, "i32", srid))
    if crs_fields:
        fields.append((10, "offset", hb.table(crs_fields)))
    header = hb.finish(hb.table(fields))

    frames = []
    for fid, gtype, rings, props in parsed:
        fb = _Builder()
        # the outer Geometry carries its concrete type when the
        # header declares Unknown (mixed layers), matching GDAL
        geom_off = _geometry_table(fb, gtype, rings,
                                   with_type=(header_gt == GT_UNKNOWN))
        feat_fields: list[tuple[int, str, object]] = [
            (0, "offset", geom_off)]
        if columns and props:
            raw = _encode_properties(columns, props)
            if raw:
                feat_fields.append((1, "offset", fb.vector_bytes(raw)))
        frame = fb.finish(fb.table(feat_fields))
        frames.append(struct.pack("<I", len(frame)) + frame)

    out = bytearray(MAGIC)
    out += struct.pack("<I", len(header)) + header
    if index_node_size > 0 and parsed:
        offs, acc = [], 0
        for fr in frames:
            offs.append(acc)
            acc += len(fr)
        out += _build_packed_rtree(boxes, offs, index_node_size)
    out += b"".join(frames)
    return bytes(out)


def _iter_points(gtype, rings):
    if gtype in (1, 2, 3):
        for ring in rings:
            yield from ring
    else:
        for ctype, r in rings:
            yield from _iter_points(ctype, r)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

def _packed_rtree_size(num_items: int, node_size: int) -> int:
    """Exact byte size of the packed Hilbert R-tree (spec
    packedrtree: 40-byte nodes, level sizes ceil-divided up to the
    root)."""
    if num_items == 0:
        return 0
    node_size = max(2, node_size)
    n = num_items
    total = n
    while n != 1:
        n = (n + node_size - 1) // node_size
        total += n
    return total * 40


def parse_fgb_header(content: bytes) -> dict:
    """Header metadata: name, geometry_type, features_count,
    index_node_size, columns [(name, type)], srid, crs_wkt, and
    ``data_offset`` (first feature frame, index skipped)."""
    if content[:8] != MAGIC[:8]:
        if content[:3] != b"fgb":
            raise ValueError("flatgeobuf: bad magic")
    (hsize,) = struct.unpack_from("<I", content, 8)
    hstart = 12
    root = hstart + _u32(content, hstart)
    name = _f_string(content, root, 0) or "layer"
    gtype = _f_scalar(content, root, 2, "B", GT_UNKNOWN)
    fcount = _f_scalar(content, root, 8, "Q", 0)
    node_size = _f_scalar(content, root, 9, "H", 16)
    cols = []
    vp, ncols = _f_vector(content, root, 7)
    for i in range(ncols):
        ep = vp + 4 * i
        cpos = ep + _u32(content, ep)
        cname = _f_string(content, cpos, 0) or f"col{i}"
        ctype = _f_scalar(content, cpos, 1, "B", CT_STRING)
        cols.append((cname, ctype))
    srid = 0
    crs_wkt = None
    crs = _f_table(content, root, 10)
    if crs:
        srid = _f_scalar(content, crs, 1, "i", 0)
        crs_wkt = _f_string(content, crs, 4)
    index_size = (_packed_rtree_size(fcount, node_size)
                  if node_size > 0 else 0)
    return {"name": name, "geometry_type": gtype,
            "features_count": fcount, "index_node_size": node_size,
            "columns": cols, "srid": srid, "crs_wkt": crs_wkt,
            "data_offset": hstart + hsize + index_size}


def read_fgb_bytes(content: bytes, dataset: str):
    """Yield (dataset, layer, fid, wkb, srid, crs_wkt, properties)
    rows; fid is the sequential feature index (the format has no
    explicit fid — GDAL numbers the same way), properties a compact
    ``k=v`` json string or None."""
    import json

    hdr = parse_fgb_header(content)
    cols = hdr["columns"]
    layer = hdr["name"]
    # srid 0 + embedded WKT means "resolve via the crs_wkt path"
    # (same convention as shapefile/.prj, GPKG, FileGDB readers);
    # only a header with NEITHER code NOR WKT defaults to WGS84
    srid = hdr["srid"] or (0 if hdr["crs_wkt"] else 4326)
    crs_wkt = hdr["crs_wkt"]
    pos = hdr["data_offset"]
    fid = 0
    n = len(content)
    while pos + 4 <= n:
        (fsize,) = struct.unpack_from("<I", content, pos)
        pos += 4
        if fsize == 0 or pos + fsize > n:
            break
        fb = content[pos:pos + fsize]
        pos += fsize
        root = _u32(fb, 0)
        gpos = _f_table(fb, root, 0)
        wkb = None
        if gpos:
            gtype = _f_scalar(fb, gpos, 6, "B", GT_UNKNOWN) \
                or hdr["geometry_type"]
            wkb = _geometry_to_wkb(fb, gpos, gtype)
        props = None
        pv, nbytes = _f_vector(fb, root, 1)
        if nbytes and cols:
            decoded = _decode_properties(cols, fb[pv:pv + nbytes])
            if decoded:
                props = json.dumps(decoded, sort_keys=True,
                                   separators=(",", ":"))
        yield dataset, layer, fid, wkb, srid, crs_wkt, props
        fid += 1


# ---------------------------------------------------------------------------
# Spark source + sink
# ---------------------------------------------------------------------------

def features_from_fgb(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``.fgb`` files under ``path`` into engine feature rows
    (same plan shape as the GeoPackage source: binaryFile scan,
    map-side parse, no shuffle)."""
    return scan_files(spark, path, FEATURE_SCHEMA, read_fgb_bytes,
                      (ValueError, struct.error, IndexError))


def write_flatgeobuf_tables(normalized: DataFrame,
                            dst_dir: str) -> DataFrame:
    """One ``.fgb`` per (dataset, layer) from ``normalize_features``
    output — the dataset2fgb artifact (ref ingest/processing.py:
    100-213).  Returns a manifest (dataset, layer, path, n_features,
    file_bytes).  An optional ``properties`` string column (JSON, as
    the .fgb source emits) is carried into the artifact as a Json
    column, matching ``-preserve_fid``+attributes behaviour.

    Plan: ONE shuffle keyed on (dataset, layer) — the same grouping
    the tiling stage needs — then each group writes its file
    independently; no driver collect."""
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(normalized.sparkSession)
    has_props = "properties" in normalized.columns

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        dataset = str(pdf["dataset"].iloc[0])
        layer = str(pdf["layer"].iloc[0])
        pdf = pdf.sort_values("fid")
        if has_props:
            feats = [(int(f), bytes(w),
                      {"properties": p} if isinstance(p, str) else None)
                     for f, w, p in zip(pdf["fid"], pdf["geometry"],
                                        pdf["properties"])
                     if w is not None]
        else:
            feats = [(int(f), bytes(w)) for f, w in
                     zip(pdf["fid"], pdf["geometry"]) if w is not None]
        blob = write_fgb_bytes(feats, name=layer, srid=4326,
                               columns=([("properties", CT_JSON)]
                                        if has_props else None),
                               index_node_size=16, hilbert_sort=True)
        os.makedirs(dst_dir, exist_ok=True)
        out = os.path.join(dst_dir, f"{dataset}.{layer}.fgb")
        with open(out, "wb") as f:
            f.write(blob)
        return pd.DataFrame([{
            "dataset": dataset, "layer": layer, "path": out,
            "n_features": len(feats), "file_bytes": len(blob)}])

    return normalized.groupBy("dataset", "layer").applyInPandas(
        write_group,
        "dataset string, layer string, path string, n_features long, "
        "file_bytes long")
