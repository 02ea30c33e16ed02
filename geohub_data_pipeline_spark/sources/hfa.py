"""Erdas Imagine ``.img`` (HFA) raster source — stdlib struct/numpy.

The Hierarchical File Architecture container (public "HFA File
Format" whitepaper; GDAL's HFA driver documentation describes the
same layout).  The reference accepts ``.img`` via its "anything GDAL
supports" posture (ref README.md:133-135); this reader closes the
service's ``.img`` route with an engine-native decode:

* 16-byte magic ``EHFA_HEADER_TAG\\0`` + ULONG pointer to the
  Ehfa_File record (version, freeList, rootEntryPtr,
  entryHeaderLength, dictionaryPtr) — all little-endian;
* a self-describing MIF **dictionary** (text at ``dictionaryPtr``:
  ``{items}TypeName,...{...}Name,.``) declares every data record's
  layout; this reader PARSES the dictionary and derives field sizes
  from it instead of hardcoding struct layouts — base sizes per the
  spec table (c/C=1, e/s/S=2, t/l/L/f=4, d/m=8, M=16; ENUMs are
  unsigned shorts), ``p``/``*`` fields are a ULONG count + ULONG
  absolute file offset in-stream with the payload elsewhere;
* the **entry tree** (Ehfa_Entry: next/prev/parent/child/data
  pointers + dataSize + name[64] + type[32]): bands are
  ``Eimg_Layer`` entries (width, height, layerType, pixelType,
  blockWidth, blockHeight) whose ``RasterDMS`` child (``Edms_State``)
  carries the virtual-block table (fileCode, offset, size, logvalid,
  compressionType per block);
* blocks are row-major ``blockWidth x blockHeight`` tiles in
  block-row-major order; ``logvalid=false`` blocks are implicit
  fill; compressionType 1 is the ESRI GRID run-length scheme
  (13-byte header: min u32, numRuns u32, dataOffset u32, numBits u8;
  run counts variable-width with a 2-bit length prefix, values
  ``numBits`` wide added to ``min``);
* georeferencing from the layer's ``Map_Info`` (``Eprj_MapInfo``)
  record: upperLeftCenter / pixelSize doubles behind ``*`` pointers
  (pixel-center convention, shifted to the engine's corner origin).

Limitation (documented): projection parsing is name-only — grids in
degrees emit srid 4326, anything else srid 0 (the normalize stage's
quarantine posture for unknown CRS).

Scale: one ``.img`` file = one task (binaryFile scan fans a directory
of files across the cluster); per-file work is dictionary+tree parse
(KB) and numpy block assembly — no per-pixel Python.
"""

from __future__ import annotations

import struct

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.operators.raster import (
    BLOCK_SCHEMA,
    GEOREF_SCHEMA,
    cut_blocks,
)
from geohub_data_pipeline_spark.sources.files import scan_files

_MAGIC = b"EHFA_HEADER_TAG\x00"

# MIF base item sizes (HFA spec table); ENUM ('e') is an unsigned
# short.  Sub-byte types (1/2/4) and inline BASEDATA ('b') only occur
# behind pointers in the node types this reader walks.
_BASE_SIZE = {"c": 1, "C": 1, "e": 2, "s": 2, "S": 2,
              "t": 4, "l": 4, "L": 4, "f": 4, "d": 8, "m": 8, "M": 16}

_STRUCT_FMT = {"c": "B", "C": "b", "e": "H", "s": "H", "S": "h",
               "t": "I", "l": "I", "L": "i", "f": "f", "d": "d"}

_PIXEL_DTYPE = {"u8": np.uint8, "s8": np.int8, "u16": np.uint16,
                "s16": np.int16, "u32": np.uint32, "s32": np.int32,
                "f32": np.float32, "f64": np.float64}


class _Field:
    __slots__ = ("count", "pointer", "kind", "name", "enums", "sub")

    def __init__(self, count, pointer, kind, name, enums, sub):
        self.count = count
        self.pointer = pointer      # '' | 'p' | '*'
        self.kind = kind            # item type char, or 'o'/'x'
        self.name = name
        self.enums = enums          # enum value names (kind 'e')
        self.sub = sub              # type name ('o') / field list ('x')


def _parse_dictionary(text: str) -> dict[str, list[_Field]]:
    """MIF dictionary text -> {type name: field list}."""
    types: dict[str, list[_Field]] = {}
    pos = 0

    def fields_until_brace() -> list[_Field]:
        nonlocal pos
        out = []
        while text[pos] != "}":
            out.append(one_field())
        pos += 1                    # consume '}'
        return out

    def one_field() -> _Field:
        nonlocal pos
        colon = text.index(":", pos)
        count = int(text[pos:colon])
        if count > 1_000_000:
            # dictionary text is file-controlled too: a crafted
            # "999999999:d..." inline count would drive the record
            # reader's loops/allocations — real dictionaries declare
            # small fixed counts
            raise ValueError("implausible dictionary item count")
        pos = colon + 1
        pointer = ""
        if text[pos] in "p*":
            pointer = text[pos]
            pos += 1
        kind = text[pos]
        pos += 1
        enums = None
        sub = None
        if kind == "e":
            colon = text.index(":", pos)
            n_enum = int(text[pos:colon])
            pos = colon + 1
            enums = []
            for _ in range(n_enum):
                comma = text.index(",", pos)
                enums.append(text[pos:comma])
                pos = comma + 1
        elif kind == "o":
            comma = text.index(",", pos)
            sub = text[pos:comma]
            pos = comma + 1
        elif kind == "x":
            if text[pos] != "{":
                raise ValueError("malformed inline type")
            pos += 1
            sub = fields_until_brace()
        comma = text.index(",", pos)
        name = text[pos:comma]
        pos = comma + 1
        return _Field(count, pointer, kind, name, enums, sub)

    while pos < len(text) and text[pos] != ".":
        if text[pos] != "{":
            raise ValueError(f"malformed dictionary at {pos}")
        pos += 1
        flist = fields_until_brace()
        comma = text.index(",", pos)
        types[text[pos:comma]] = flist
        pos = comma + 1
    return types


def _inst_size(fields: list[_Field],
               types: dict[str, list[_Field]],
               depth: int = 0) -> int:
    if depth > 32:
        # a crafted dictionary can declare a type containing itself;
        # real HFA nesting is ~3 deep
        raise ValueError("dictionary type nesting too deep")
    total = 0
    for f in fields:
        if f.pointer:
            total += 8              # count ULONG + offset ULONG
            continue
        if f.kind == "o":
            total += f.count * _inst_size(types[f.sub], types,
                                          depth + 1)
        elif f.kind == "x":
            total += f.count * _inst_size(f.sub, types, depth + 1)
        elif f.kind in _BASE_SIZE:
            total += f.count * _BASE_SIZE[f.kind]
        else:
            raise ValueError(f"inline field type {f.kind!r} "
                             "unsupported")
    return total


def _read_record(buf: bytes, off: int, fields: list[_Field],
                 types: dict[str, list[_Field]],
                 depth: int = 0) -> dict:
    """Decode one data record at ``off`` following the dictionary;
    pointer fields are dereferenced (absolute offsets).  ``depth``
    bounds crafted pointer cycles (A -> ptr -> A -> ...)."""
    if depth > 64:
        raise ValueError("record pointer nesting too deep")
    out: dict = {}
    for f in fields:
        if f.pointer:
            cnt, ptr = struct.unpack_from("<II", buf, off)
            off += 8
            if ptr == 0:
                out[f.name] = None
                continue
            # crafted-count guard: a pointer count cannot exceed the
            # file itself (every item is >= 1 byte) — reject instead
            # of looping/allocating on attacker-controlled sizes
            if cnt > len(buf) or ptr > len(buf):
                raise ValueError("pointer count/offset exceeds file")
            n = cnt if f.pointer == "p" else max(cnt, 1)
            out[f.name] = _read_items(buf, ptr, f, n, types,
                                      depth + 1)
            continue
        out[f.name] = _read_items(buf, off, f, f.count, types, depth)
        if f.kind == "o":
            off += f.count * _inst_size(types[f.sub], types)
        elif f.kind == "x":
            off += f.count * _inst_size(f.sub, types)
        else:
            off += f.count * _BASE_SIZE[f.kind]
    return out


def _read_items(buf: bytes, off: int, f: _Field, count: int,
                types: dict[str, list[_Field]], depth: int = 0):
    if f.kind == "o":
        sz = _inst_size(types[f.sub], types)
        vals = [_read_record(buf, off + i * sz, types[f.sub], types,
                             depth)
                for i in range(count)]
        return vals if count != 1 else vals[0]
    if f.kind == "x":
        sz = _inst_size(f.sub, types)
        vals = [_read_record(buf, off + i * sz, f.sub, types, depth)
                for i in range(count)]
        return vals if count != 1 else vals[0]
    if f.kind in ("c", "C") and count > 1:
        raw = buf[off:off + count]
        return raw.split(b"\x00", 1)[0].decode("latin-1")
    if f.kind not in _STRUCT_FMT:
        raise ValueError(f"field type {f.kind!r} unsupported")
    fmt = "<" + _STRUCT_FMT[f.kind] * count
    vals = list(struct.unpack_from(fmt, buf, off))
    if f.kind == "e" and f.enums:
        vals = [f.enums[v] if v < len(f.enums) else v for v in vals]
    return vals if count != 1 else vals[0]


class _Entry:
    __slots__ = ("name", "type", "data", "dataSize", "children")

    def __init__(self, name, typ, data, size):
        self.name, self.type = name, typ
        self.data, self.dataSize = data, size
        self.children: list[_Entry] = []


def _read_entries(buf: bytes, off: int,
                  seen: set[int] | None = None) -> list[_Entry]:
    """Sibling chain of Ehfa_Entry records starting at ``off``.
    ``seen`` guards against crafted next/child cycles."""
    if seen is None:
        seen = set()
    out = []
    while off:
        if off in seen or len(seen) > 10_000:
            raise ValueError("entry tree cycle or too many entries")
        seen.add(off)
        nxt, _prev, _parent, child, data, size = struct.unpack_from(
            "<IIIIIi", buf, off)
        name = buf[off + 24:off + 88].split(b"\x00", 1)[0] \
            .decode("latin-1")
        typ = buf[off + 88:off + 120].split(b"\x00", 1)[0] \
            .decode("latin-1")
        e = _Entry(name, typ, data, size)
        if child:
            e.children = _read_entries(buf, child, seen)
        out.append(e)
        off = nxt
    return out


def parse_hfa(buf: bytes) -> dict:
    """Whole-file parse -> {"layers": [...], "mapinfo_by_layer":
    {...}} (see ``_layer_dict``)."""
    if buf[:16] != _MAGIC:
        raise ValueError("not an HFA file (missing EHFA_HEADER_TAG)")
    (hdr_ptr,) = struct.unpack_from("<I", buf, 16)
    _version, _free, root_ptr, _ehl, dict_ptr = struct.unpack_from(
        "<IIIhI", buf, hdr_ptr)
    end = buf.index(b".", dict_ptr)
    types = _parse_dictionary(buf[dict_ptr:end + 1].decode("latin-1"))
    roots = _read_entries(buf, root_ptr)

    layers = []

    def walk(entries):
        for e in entries:
            if e.type == "Eimg_Layer":
                layers.append(e)
            walk(e.children)

    walk(roots)
    return {"types": types, "layers": layers, "buf": buf}


def _rle_decode(raw: bytes, n_values: int) -> np.ndarray:
    """ESRI GRID run-length block -> int64 value array."""
    vmin, n_runs, data_off = struct.unpack_from("<III", raw, 0)
    n_bits = raw[12]
    if n_runs > len(raw) or data_off > len(raw):
        raise ValueError("RLE header exceeds block")
    counts = np.empty(n_runs, np.int64)
    pos = 13
    for i in range(n_runs):
        b0 = raw[pos]
        nb = (b0 >> 6) + 1
        v = b0 & 0x3F
        for k in range(1, nb):
            v = (v << 8) | raw[pos + k]
        counts[i] = v
        pos += nb
    vals = np.zeros(n_runs, np.int64)
    if n_bits == 0:
        pass
    elif n_bits in (8, 16, 32):
        w = n_bits // 8
        arr = np.frombuffer(raw, dtype={8: np.uint8, 16: "<u2",
                                        32: "<u4"}[n_bits],
                            count=n_runs, offset=data_off)
        vals = arr.astype(np.int64)
    elif n_bits in (1, 2, 4):
        per = 8 // n_bits
        nbytes = (n_runs + per - 1) // per
        packed = np.frombuffer(raw, np.uint8, count=nbytes,
                               offset=data_off)
        bits = np.unpackbits(packed)
        vals = np.zeros(n_runs, np.int64)
        for k in range(n_bits):     # MSB-first within each value
            vals = (vals << 1) | bits[k::n_bits][:n_runs]
    else:
        raise ValueError(f"unsupported RLE width {n_bits}")
    vals = vals + int(vmin)
    if int(counts.sum()) > 4 * n_values or (counts < 0).any():
        raise ValueError("RLE run counts exceed block size")
    out = np.repeat(vals, counts)
    if len(out) < n_values:
        out = np.concatenate(
            [out, np.zeros(n_values - len(out), np.int64)])
    return out[:n_values]


def _layer_array(parsed: dict, layer: _Entry) -> np.ndarray | None:
    buf, types = parsed["buf"], parsed["types"]
    info = _read_record(buf, layer.data, types["Eimg_Layer"], types)
    w, h = int(info["width"]), int(info["height"])
    bw, bh = int(info["blockWidth"]), int(info["blockHeight"])
    ptype = info["pixelType"]
    dtype = _PIXEL_DTYPE.get(str(ptype))
    if dtype is None:
        raise ValueError(f"unsupported pixelType {ptype!r}")
    dms = next((c for c in layer.children if c.type == "Edms_State"),
               None)
    if dms is None:
        return None
    st = _read_record(buf, dms.data, types["Edms_State"], types)
    binfo = st.get("blockinfo") or []
    if isinstance(binfo, dict):
        binfo = [binfo]
    bpr = (w + bw - 1) // bw
    full = np.zeros((h, w), np.float64)
    per_block = bw * bh
    for bi, blk in enumerate(binfo):
        row, col = bi // bpr, bi % bpr
        if str(blk.get("logvalid")) not in ("true", "1"):
            continue
        off, size = int(blk["offset"]), int(blk["size"])
        comp = str(blk.get("compressionType"))
        if comp in ("no compression", "0"):
            arr = np.frombuffer(buf, dtype=np.dtype(dtype)
                                .newbyteorder("<"),
                                count=per_block, offset=off)
            tile = arr.astype(np.float64).reshape(bh, bw)
        else:
            vals = _rle_decode(buf[off:off + size], per_block)
            if dtype in (np.float32, np.float64):
                # RLE stores the raw bit pattern for float data
                width = np.dtype(dtype).itemsize
                tile = (vals.astype("<u4" if width == 4 else "<u8")
                        .view(np.dtype(dtype).newbyteorder("<"))
                        .astype(np.float64).reshape(bh, bw))
            else:
                tile = vals.astype(np.float64).reshape(bh, bw)
        y0, x0 = row * bh, col * bw
        full[y0:y0 + bh, x0:x0 + bw][:min(bh, h - y0),
                                     :min(bw, w - x0)] = \
            tile[:min(bh, h - y0), :min(bw, w - x0)]
    return full


def _layer_mapinfo(parsed: dict, layer: _Entry):
    """(origin_x, origin_y, psx, psy, srid) from Map_Info, or None."""
    buf, types = parsed["buf"], parsed["types"]
    mi = next((c for c in layer.children
               if c.type == "Eprj_MapInfo"), None)
    if mi is None or "Eprj_MapInfo" not in types:
        return None
    rec = _read_record(buf, mi.data, types["Eprj_MapInfo"], types)
    ul = rec.get("upperLeftCenter")
    ps = rec.get("pixelSize")
    if not ul or not ps:
        return None
    psx = float(ps["width"])
    psy = float(ps["height"])
    pro = str(rec.get("proName") or "").lower()
    units = str(rec.get("units") or "").lower()
    srid = 4326 if ("geographic" in pro or "dd" in units
                    or "degree" in units) else 0
    # pixel-center -> engine's top-left pixel-corner origin
    return (float(ul["x"]) - psx / 2.0, float(ul["y"]) + psy / 2.0,
            psx, psy, srid)


# a malformed container, dictionary, entry tree or block table
ERRORS = (ValueError, struct.error, IndexError, KeyError)


def hfa_blocks(payload: bytes, dataset: str) -> list[tuple]:
    """BLOCK rows, band = 1-based Eimg_Layer order; subdataset = the
    layer name."""
    parsed = parse_hfa(payload)
    rows = []
    for band, layer in enumerate(parsed["layers"], 1):
        arr = _layer_array(parsed, layer)
        if arr is None:
            continue
        g = _layer_mapinfo(parsed, layer)
        rows += cut_blocks(arr, dataset, layer.name, band, None,
                           g[4] if g else 0)
    return rows


def hfa_georef(payload: bytes, dataset: str) -> list[tuple]:
    """GEOREF row from the first georeferenced layer (Map_Info
    pixel-center shifted to corner origin); a layer whose Map_Info
    does not parse is skipped."""
    parsed = parse_hfa(payload)
    for layer in parsed["layers"]:
        try:
            g = _layer_mapinfo(parsed, layer)
        except ERRORS:
            continue
        if g is not None:
            return [(dataset, *g)]
    return []


def blocks_from_hfa(spark: SparkSession, path: str) -> DataFrame:
    """Scan ``.img`` files under ``path`` into engine BLOCK rows."""
    return scan_files(spark, path, BLOCK_SCHEMA, hfa_blocks, ERRORS)


def georef_from_hfa(spark: SparkSession, path: str) -> DataFrame:
    """GEOREF sidecar rows, one per georeferenced file."""
    return scan_files(spark, path, GEOREF_SCHEMA, hfa_georef, ERRORS)
