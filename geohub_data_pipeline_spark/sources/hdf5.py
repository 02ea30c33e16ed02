"""Minimal HDF5 reader (+ fixture writer) — the NetCDF-4 container.

``.nc4`` is in the reference's accepted raster format list (ref
ingest/config.py:67-78); GDAL reads it through the netCDF driver and
exposes each variable as a SUBDATASET.  A NetCDF-4 file IS an HDF5
file (the published HDF Group "HDF5 File Format Specification
Version 3.0"), so this module implements the subset of HDF5 that
libnetcdf emits by default:

* superblock version 0 (and 2/3), 8-byte offsets/lengths,
* object headers version 1 (and 2 / ``OHDR`` with ``OCHK``
  continuations, compact link messages),
* old-style groups: symbol-table message -> v1 B-tree (node type 0)
  -> ``SNOD`` symbol nodes -> local heap names,
* messages: dataspace (0x0001), datatype (0x0003), fill value
  (0x0005), link (0x0006), data layout v3 (0x0008) contiguous and
  chunked, filter pipeline (0x000B) deflate + shuffle, attribute
  (0x000C) for ``_FillValue``, object-header continuation (0x0010),
  symbol table (0x0011),
* chunked data through the v1 B-tree chunk index (node type 1),
  de-filtered (zlib inflate, byte unshuffle) and assembled with
  edge clipping.

Unsupported constructs (dense/fractal-heap groups, v1/v2 layouts,
unknown filters, non-numeric datatypes) raise ValueError — the
source's quarantine contract, same as sources/netcdf3.py.

Datasets with 2/3 dimensions map to the engine's
subdataset-per-variable raster model exactly like NetCDF-3; 1-D
coordinate ("dimension scale") datasets are consulted only for the
georeferencing sidecar.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.operators.raster import (
    BLOCK_SCHEMA,
    GEOREF_SCHEMA,
    cut_blocks,
)
from geohub_data_pipeline_spark.sources.files import scan_files

SIGNATURE = b"\x89HDF\r\n\x1a\n"
UNDEF = 0xFFFFFFFFFFFFFFFF

MSG_DATASPACE = 0x0001
MSG_LINK_INFO = 0x0002
MSG_DATATYPE = 0x0003
MSG_FILL_OLD = 0x0004
MSG_FILL = 0x0005
MSG_LINK = 0x0006
MSG_LAYOUT = 0x0008
MSG_FILTERS = 0x000B
MSG_ATTRIBUTE = 0x000C
MSG_CONTINUATION = 0x0010
MSG_SYMBOL_TABLE = 0x0011


def _u(buf: bytes, pos: int, n: int) -> int:
    return int.from_bytes(buf[pos:pos + n], "little")


# ---------------------------------------------------------------------------
# object headers -> message list
# ---------------------------------------------------------------------------

def _messages_v1(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    if addr + 16 > len(buf) or buf[addr] != 1:
        raise ValueError("hdf5: bad v1 object header")
    nmsgs = _u(buf, addr + 2, 2)
    hdr_size = _u(buf, addr + 8, 4)
    blocks = [(addr + 16, hdr_size)]
    msgs: list[tuple[int, bytes]] = []
    while blocks and len(msgs) < nmsgs:
        pos, remaining = blocks.pop(0)
        while remaining >= 8 and len(msgs) < nmsgs:
            mtype = _u(buf, pos, 2)
            msize = _u(buf, pos + 2, 2)
            body = buf[pos + 8:pos + 8 + msize]
            pos += 8 + msize
            remaining -= 8 + msize
            if mtype == MSG_CONTINUATION:
                blocks.append((_u(body, 0, 8), _u(body, 8, 8)))
            else:
                msgs.append((mtype, body))
    return msgs


def _messages_v2(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    if buf[addr:addr + 4] != b"OHDR":
        raise ValueError("hdf5: bad v2 object header")
    flags = buf[addr + 5]
    pos = addr + 6
    if flags & 0x20:
        pos += 16                          # times
    if flags & 0x10:
        pos += 4                           # max compact/dense
    size_bytes = 1 << (flags & 0x3)
    chunk0 = _u(buf, pos, size_bytes)
    pos += size_bytes
    msgs: list[tuple[int, bytes]] = []
    blocks = [(pos, chunk0)]
    while blocks:
        pos, size = blocks.pop(0)
        end = pos + size
        while pos + 4 <= end - 0:          # trailing 4 = checksum space
            mtype = buf[pos]
            msize = _u(buf, pos + 1, 2)
            mflags = buf[pos + 3]
            pos += 4
            if mflags & 0x04:
                pos += 2                   # creation order
            body = buf[pos:pos + msize]
            pos += msize
            if mtype == MSG_CONTINUATION:
                caddr, clen = _u(body, 0, 8), _u(body, 8, 8)
                if buf[caddr:caddr + 4] != b"OCHK":
                    raise ValueError("hdf5: bad OCHK block")
                blocks.append((caddr + 4, clen - 8))
            elif mtype == 0 and msize == 0:
                break                      # NIL gap at end
            else:
                msgs.append((mtype, body))
    return msgs


def _object_messages(buf: bytes, addr: int) -> list[tuple[int, bytes]]:
    if buf[addr:addr + 4] == b"OHDR":
        return _messages_v2(buf, addr)
    return _messages_v1(buf, addr)


# ---------------------------------------------------------------------------
# group traversal
# ---------------------------------------------------------------------------

def _heap_name(buf: bytes, heap_addr: int, off: int) -> str:
    if buf[heap_addr:heap_addr + 4] != b"HEAP":
        raise ValueError("hdf5: bad local heap")
    data_addr = _u(buf, heap_addr + 24, 8)
    end = buf.index(b"\x00", data_addr + off)
    return buf[data_addr + off:end].decode("utf-8")


def _walk_group_btree(buf: bytes, btree_addr: int, heap_addr: int,
                      out: list[tuple[str, int]]) -> None:
    if buf[btree_addr:btree_addr + 4] != b"TREE":
        raise ValueError("hdf5: bad group B-tree node")
    node_type = buf[btree_addr + 4]
    level = buf[btree_addr + 5]
    n = _u(buf, btree_addr + 6, 2)
    if node_type != 0:
        raise ValueError("hdf5: wrong B-tree node type for group")
    pos = btree_addr + 24
    children = []
    pos += 8                               # key 0
    for _ in range(n):
        children.append(_u(buf, pos, 8))
        pos += 16                          # child + next key
    for child in children:
        if level > 0:
            _walk_group_btree(buf, child, heap_addr, out)
        else:
            if buf[child:child + 4] != b"SNOD":
                raise ValueError("hdf5: bad symbol node")
            count = _u(buf, child + 6, 2)
            epos = child + 8
            for _ in range(count):
                name_off = _u(buf, epos, 8)
                ohdr = _u(buf, epos + 8, 8)
                out.append((_heap_name(buf, heap_addr, name_off), ohdr))
                epos += 40


def _group_children(buf: bytes,
                    msgs: list[tuple[int, bytes]]) -> list[tuple[str, int]]:
    out: list[tuple[str, int]] = []
    for mtype, body in msgs:
        if mtype == MSG_SYMBOL_TABLE:
            btree_addr, heap_addr = _u(body, 0, 8), _u(body, 8, 8)
            _walk_group_btree(buf, btree_addr, heap_addr, out)
        elif mtype == MSG_LINK:
            version, flags = body[0], body[1]
            if version != 1:
                raise ValueError("hdf5: unsupported link version")
            pos = 2
            ltype = 0
            if flags & 0x08:
                ltype = body[pos]
                pos += 1
            if flags & 0x04:
                pos += 8                   # creation order
            if flags & 0x10:
                pos += 1                   # charset
            nlen = _u(body, pos, 1 << (flags & 0x3))
            pos += 1 << (flags & 0x3)
            name = body[pos:pos + nlen].decode("utf-8")
            pos += nlen
            if ltype == 0:                 # hard link
                out.append((name, _u(body, pos, 8)))
        elif mtype == MSG_LINK_INFO:
            # dense (fractal heap) storage announces itself here with
            # a defined heap address — out of scope
            if len(body) >= 10 and _u(body, len(body) - 16, 8) != UNDEF:
                pass                       # harmless when links compact
    return out


# ---------------------------------------------------------------------------
# dataset decode
# ---------------------------------------------------------------------------

def _parse_dataspace(body: bytes) -> list[int]:
    version = body[0]
    ndims = body[1]
    pos = 8 if version == 1 else 4
    return [_u(body, pos + 8 * i, 8) for i in range(ndims)]


def _parse_datatype(body: bytes) -> np.dtype:
    cls = body[0] & 0x0F
    bits = body[1:4]
    size = _u(body, 4, 4)
    bo = ">" if bits[0] & 1 else "<"
    if cls == 0:
        signed = "i" if bits[1] & 0x08 else "u"
        return np.dtype(f"{bo}{signed}{size}")
    if cls == 1:
        return np.dtype(f"{bo}f{size}")
    raise ValueError(f"hdf5: unsupported datatype class {cls}")


def _parse_filters(body: bytes) -> list[int]:
    version = body[0]
    nfilters = body[1]
    pos = 8 if version == 1 else 2
    ids = []
    for _ in range(nfilters):
        fid = _u(body, pos, 2)
        pos += 2
        if version == 1 or fid >= 256:
            nlen = _u(body, pos, 2)
            pos += 2
        else:
            nlen = 0
        pos += 2                           # flags
        ncv = _u(body, pos, 2)
        pos += 2
        if version == 1:
            nlen = (nlen + 7) & ~7
        pos += nlen + 4 * ncv
        if version == 1 and ncv % 2:
            pos += 4
        ids.append(fid)
    return ids


def _defilter(raw: bytes, filter_ids: list[int], esize: int) -> bytes:
    """Reverse the write-order filter pipeline."""
    for fid in reversed(filter_ids):
        if fid == 1:                       # deflate
            raw = zlib.decompress(raw)
        elif fid == 2:                     # shuffle
            n = len(raw) // esize
            arr = np.frombuffer(raw, dtype=np.uint8)
            raw = arr.reshape(esize, n).T.tobytes()
        elif fid == 3:                     # fletcher32: strip checksum
            raw = raw[:-4]
        else:
            raise ValueError(f"hdf5: unsupported filter {fid}")
    return raw


def _read_chunk_btree(buf: bytes, addr: int, ndims: int, dtype: np.dtype,
                      chunk_dims: list[int], shape: list[int],
                      filter_ids: list[int], out: np.ndarray) -> None:
    if buf[addr:addr + 4] != b"TREE":
        raise ValueError("hdf5: bad chunk B-tree node")
    if buf[addr + 4] != 1:
        raise ValueError("hdf5: wrong B-tree node type for chunks")
    level = buf[addr + 5]
    n = _u(buf, addr + 6, 2)
    key_size = 8 + 8 * (ndims + 1)
    pos = addr + 24
    for i in range(n):
        key_pos = pos + i * (key_size + 8)
        nbytes = _u(buf, key_pos, 4)
        offsets = [_u(buf, key_pos + 8 + 8 * d, 8) for d in range(ndims)]
        child = _u(buf, key_pos + key_size, 8)
        if level > 0:
            _read_chunk_btree(buf, child, ndims, dtype, chunk_dims,
                              shape, filter_ids, out)
            continue
        raw = buf[child:child + nbytes]
        raw = _defilter(raw, filter_ids, dtype.itemsize)
        chunk = np.frombuffer(raw, dtype=dtype).reshape(chunk_dims)
        slices_dst = []
        slices_src = []
        for d in range(ndims):
            lo = offsets[d]
            hi = min(lo + chunk_dims[d], shape[d])
            slices_dst.append(slice(lo, hi))
            slices_src.append(slice(0, hi - lo))
        out[tuple(slices_dst)] = chunk[tuple(slices_src)]


def _parse_attribute(body: bytes):
    """-> (name, first scalar value) or None for exotic payloads."""
    version = body[0]
    if version == 1:
        name_size = _u(body, 2, 2)
        dt_size = _u(body, 4, 2)
        ds_size = _u(body, 6, 2)
        pos = 8
        name = body[pos:pos + name_size].split(b"\x00")[0].decode(
            "utf-8", "replace")
        pos += (name_size + 7) & ~7
        dt_body = body[pos:pos + dt_size]
        pos += (dt_size + 7) & ~7
        pos += (ds_size + 7) & ~7
    elif version in (2, 3):
        name_size = _u(body, 2, 2)
        dt_size = _u(body, 4, 2)
        ds_size = _u(body, 6, 2)
        pos = 8 + (1 if version == 3 else 0)
        name = body[pos:pos + name_size].split(b"\x00")[0].decode(
            "utf-8", "replace")
        pos += name_size
        dt_body = body[pos:pos + dt_size]
        pos += dt_size + ds_size
    else:
        return None
    try:
        dtype = _parse_datatype(dt_body)
    except ValueError:
        return None                        # vlen/reference attr: skip
    if pos + dtype.itemsize > len(body):
        return None
    value = np.frombuffer(body[pos:pos + dtype.itemsize],
                          dtype=dtype)[0]
    return name, float(value)


class H5Dataset:
    __slots__ = ("name", "shape", "data", "fillvalue")

    def __init__(self, name, shape, data, fillvalue):
        self.name = name
        self.shape = shape
        self.data = data                   # np.ndarray
        self.fillvalue = fillvalue


def _read_dataset(buf: bytes, name: str,
                  msgs: list[tuple[int, bytes]]) -> H5Dataset | None:
    shape: list[int] | None = None
    dtype: np.dtype | None = None
    layout: bytes | None = None
    filter_ids: list[int] = []
    fill = None
    for mtype, body in msgs:
        if mtype == MSG_DATASPACE:
            shape = _parse_dataspace(body)
        elif mtype == MSG_DATATYPE:
            dtype = _parse_datatype(body)
        elif mtype == MSG_LAYOUT:
            layout = body
        elif mtype == MSG_FILTERS:
            filter_ids = _parse_filters(body)
        elif mtype == MSG_ATTRIBUTE:
            parsed = _parse_attribute(body)
            if parsed and parsed[0] in ("_FillValue", "missing_value"):
                fill = parsed[1]
    if shape is None or dtype is None or layout is None:
        return None                        # a group, not a dataset
    if layout[0] != 3:
        raise ValueError("hdf5: only data layout v3 supported")
    lclass = layout[1]
    if lclass == 1:                        # contiguous
        addr = _u(layout, 2, 8)
        size = _u(layout, 10, 8)
        if addr == UNDEF:
            data = np.full(shape, np.nan)
        else:
            data = np.frombuffer(buf[addr:addr + size],
                                 dtype=dtype).reshape(shape)
    elif lclass == 2:                      # chunked, v1 B-tree index
        ndims_p1 = layout[2]
        btree_addr = _u(layout, 3, 8)
        chunk_dims = [_u(layout, 11 + 4 * i, 4)
                      for i in range(ndims_p1 - 1)]
        data = np.full(shape, fill if fill is not None else 0,
                       dtype=dtype)
        if btree_addr != UNDEF:
            _read_chunk_btree(buf, btree_addr, len(shape), dtype,
                              chunk_dims, shape, filter_ids, data)
    elif lclass == 0:                      # compact
        size = _u(layout, 2, 2)
        data = np.frombuffer(layout[4:4 + size],
                             dtype=dtype).reshape(shape)
    else:
        raise ValueError(f"hdf5: unsupported layout class {lclass}")
    return H5Dataset(name, shape, np.asarray(data, dtype=np.float64),
                     fill)


def read_hdf5_datasets(payload: bytes) -> list[H5Dataset]:
    """All numeric datasets in the file (groups walked recursively).

    Raises ValueError for non-HDF5 or unsupported constructs (the
    quarantine contract).
    """
    if payload[:8] != SIGNATURE:
        raise ValueError("hdf5: bad signature")
    version = payload[8]
    if version == 0:
        # root group symbol-table entry at fixed offset 24+8*4 = 56;
        # its object header address is the second 8-byte field
        root_ohdr = _u(payload, 64, 8)
    elif version in (2, 3):
        root_ohdr = _u(payload, 28, 8)
    else:
        raise ValueError(f"hdf5: unsupported superblock v{version}")

    out: list[H5Dataset] = []
    seen: set[int] = set()

    def walk(addr: int, prefix: str) -> None:
        if addr in seen:
            return
        seen.add(addr)
        msgs = _object_messages(payload, addr)
        children = _group_children(payload, msgs)
        if children:
            for name, caddr in children:
                walk(caddr, f"{prefix}{name}/")
            return
        name = prefix.rstrip("/")
        ds = _read_dataset(payload, name or "/", msgs)
        if ds is not None:
            out.append(ds)

    msgs = _object_messages(payload, root_ohdr)
    for name, caddr in _group_children(payload, msgs):
        walk(caddr, f"{name}/")
    return out


# ---------------------------------------------------------------------------
# raster-source integration (same model as sources/netcdf3.py)
# ---------------------------------------------------------------------------

def read_netcdf4_bytes(payload: bytes, dataset: str) -> list[tuple]:
    """BLOCK rows for every 2-D/3-D dataset (GDAL's
    subdataset-per-variable model for netCDF)."""
    rows: list[tuple] = []
    for ds in read_hdf5_datasets(payload):
        nd = len(ds.shape)
        if nd not in (2, 3):
            continue                       # coordinate/scalar vars
        nodata = ds.fillvalue if ds.fillvalue is not None else \
            float("nan")
        for band, plane in enumerate([ds.data] if nd == 2 else ds.data,
                                     start=1):
            rows += cut_blocks(plane, dataset, ds.name, band, nodata,
                               4326)
    return rows


# a corrupt or unsupported container, a truncated chunk stream, or a
# datatype message numpy cannot build a dtype from (TypeError)
ERRORS = (ValueError, struct.error, KeyError, IndexError, zlib.error,
          TypeError)


def blocks_from_netcdf4(spark: SparkSession, path: str) -> DataFrame:
    """Scan .nc4/HDF5 files under ``path`` into raster BLOCK rows."""
    return scan_files(spark, path, BLOCK_SCHEMA, read_netcdf4_bytes,
                      ERRORS)


def georef_of_netcdf4(payload: bytes) -> tuple | None:
    """(origin_x, origin_y, pixel_sx, pixel_sy) from 1-D coordinate
    datasets, or None.

    NetCDF-4 binds dims to coordinate variables via DIMENSION_LIST
    (vlen object references — out of the minimal reader's scope), so
    this uses the naming convention instead: a 1-D dataset whose
    length matches a raster dataset's trailing dims, preferring
    y/lat/latitude and x/lon/longitude names.  Cell-center
    registration, same convention as sources/netcdf3.py.
    """
    dsets = read_hdf5_datasets(payload)
    one_d = [d for d in dsets if len(d.shape) == 1 and d.shape[0] >= 2]

    def find(size: int, names: tuple[str, ...]):
        cands = [d for d in one_d if d.shape[0] == size]
        for d in cands:
            if d.name.rsplit("/", 1)[-1].lower() in names:
                return d
        return cands[0] if len(cands) == 1 else None

    for var in dsets:
        if len(var.shape) < 2:
            continue
        ny, nx = var.shape[-2], var.shape[-1]
        yv = find(ny, ("y", "lat", "latitude"))
        xv = find(nx, ("x", "lon", "longitude"))
        if yv is None or xv is None:
            continue
        ys, xs = yv.data, xv.data
        dx = float(xs[1] - xs[0])
        dy = float(ys[1] - ys[0])
        if dx == 0 or dy == 0:
            continue
        origin_x = float(xs[0]) - dx / 2.0
        origin_y = float(ys[0]) + abs(dy) / 2.0 if dy < 0 \
            else float(ys[-1]) + abs(dy) / 2.0
        return origin_x, origin_y, abs(dx), abs(dy)
    return None


def netcdf4_georef(payload: bytes, dataset: str) -> list[tuple]:
    g = georef_of_netcdf4(payload)
    return [(dataset, *g, 4326)] if g else []


def georef_from_netcdf4(spark: SparkSession, path: str) -> DataFrame:
    """Per-dataset georeferencing sidecar (GEOREF_SCHEMA) for .nc4."""
    return scan_files(spark, path, GEOREF_SCHEMA, netcdf4_georef, ERRORS)


# ---------------------------------------------------------------------------
# minimal spec-following writer (fixtures only)
# ---------------------------------------------------------------------------

class _W:
    def __init__(self):
        self.buf = bytearray()

    def align(self, n: int = 8) -> None:
        while len(self.buf) % n:
            self.buf.append(0)

    def reserve(self, n: int) -> int:
        self.align()
        pos = len(self.buf)
        self.buf += b"\x00" * n
        return pos

    def put(self, pos: int, data: bytes) -> None:
        self.buf[pos:pos + len(data)] = data


def _msg_v1(mtype: int, body: bytes) -> bytes:
    pad = (8 - len(body) % 8) % 8
    body = body + b"\x00" * pad
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _dataspace_body(shape: tuple[int, ...]) -> bytes:
    body = struct.pack("<BBB5x", 1, len(shape), 0)
    for s in shape:
        body += struct.pack("<Q", s)
    return body


def _datatype_body(dtype: np.dtype) -> bytes:
    cls = 1 if dtype.kind == "f" else 0
    bits = bytearray(3)
    if dtype.byteorder == ">":
        bits[0] |= 1
    if dtype.kind == "i":
        bits[1] |= 0x08
    body = struct.pack("<B3sI", (1 << 4) | cls, bytes(bits),
                       dtype.itemsize)
    if cls == 0:
        body += struct.pack("<HH", 0, dtype.itemsize * 8)
    else:
        # IEEE float64/float32 property layout (exponent/mantissa)
        if dtype.itemsize == 8:
            body += struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        else:
            body += struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
    return body


def write_hdf5(path: str, datasets: dict[str, np.ndarray],
               chunked: set[str] = frozenset(),
               fillvalues: dict[str, float] | None = None) -> None:
    """Fixture writer: superblock v0, symbol-table root group, v1
    object headers; ``chunked`` names get chunked+deflate+shuffle
    layout (full-array single chunk), the rest contiguous."""
    fillvalues = fillvalues or {}
    w = _W()
    w.buf += SIGNATURE
    w.buf += struct.pack("<BBBBBBBB", 0, 0, 0, 0, 0, 8, 8, 0)
    w.buf += struct.pack("<HH", 4, 16)     # leaf k, internal k
    w.buf += struct.pack("<I", 0)          # consistency flags
    w.buf += struct.pack("<Q", 0)          # base address
    w.buf += struct.pack("<Q", UNDEF)      # free space
    eof_pos = len(w.buf)
    w.buf += struct.pack("<Q", 0)          # end of file (patched)
    w.buf += struct.pack("<Q", UNDEF)      # driver info
    root_entry_pos = len(w.buf)
    w.buf += b"\x00" * 40                  # root symbol entry (patched)

    names = sorted(datasets)

    # local heap: names (offset 0 must stay empty per spec convention)
    heap_data = bytearray(b"\x00" * 8)
    name_off = {}
    for n in names:
        name_off[n] = len(heap_data)
        heap_data += n.encode() + b"\x00"
        while len(heap_data) % 8:
            heap_data += b"\x00"
    heap_pos = w.reserve(32 + len(heap_data))
    w.put(heap_pos, b"HEAP" + struct.pack("<B3xQQQ", 0, len(heap_data),
                                          len(heap_data), heap_pos + 32))
    w.put(heap_pos + 32, bytes(heap_data))

    # per-dataset object headers (+ data)
    ohdr_addr = {}
    for n in names:
        arr = np.ascontiguousarray(datasets[n])
        msgs = [_msg_v1(MSG_DATASPACE, _dataspace_body(arr.shape)),
                _msg_v1(MSG_DATATYPE, _datatype_body(arr.dtype))]
        if n in fillvalues:
            fv = np.array([fillvalues[n]], dtype=arr.dtype).tobytes()
            name_b = b"_FillValue\x00"
            dt_b = _datatype_body(arr.dtype)
            ds_b = _dataspace_body((1,))
            att = struct.pack("<BxHHH", 1, len(name_b), len(dt_b),
                              len(ds_b))
            att += name_b + b"\x00" * ((8 - len(name_b) % 8) % 8)
            att += dt_b + b"\x00" * ((8 - len(dt_b) % 8) % 8)
            att += ds_b + b"\x00" * ((8 - len(ds_b) % 8) % 8)
            att += fv
            msgs.append(_msg_v1(MSG_ATTRIBUTE, att))
        if n in chunked:
            raw = arr.tobytes()
            esize = arr.dtype.itemsize
            cnt = len(raw) // esize
            shuffled = np.frombuffer(raw, dtype=np.uint8).reshape(
                cnt, esize).T.tobytes()
            comp = zlib.compress(shuffled, 6)
            chunk_pos = w.reserve(len(comp))
            w.put(chunk_pos, comp)
            ndims = arr.ndim
            key_size = 8 + 8 * (ndims + 1)
            node_size = 24 + key_size + 8 + key_size
            bt_pos = w.reserve(node_size)
            node = bytearray(b"TREE" + struct.pack("<BBH", 1, 0, 1)
                             + struct.pack("<QQ", UNDEF, UNDEF))
            node += struct.pack("<II", len(comp), 0)
            node += b"\x00" * (8 * (ndims + 1))        # key 0 offsets
            node += struct.pack("<Q", chunk_pos)
            node += struct.pack("<II", 0, 0)
            for d in range(ndims):                     # key 1 = dims
                node += struct.pack("<Q", arr.shape[d])
            node += struct.pack("<Q", 0)
            w.put(bt_pos, bytes(node))
            layout = struct.pack("<BBB", 3, 2, ndims + 1)
            layout += struct.pack("<Q", bt_pos)
            for d in range(ndims):
                layout += struct.pack("<I", arr.shape[d])
            layout += struct.pack("<I", esize)
            msgs.append(_msg_v1(MSG_LAYOUT, layout))
            filt = struct.pack("<BB6x", 1, 2)
            for fid, nm in ((2, b"shuffle\x00"), (1, b"deflate\x00")):
                ncv = 1
                filt += struct.pack("<HHHH", fid, len(nm), 0, ncv)
                filt += nm
                filt += struct.pack("<I", esize if fid == 2 else 6)
                filt += b"\x00" * 4        # odd ncv pad
            msgs.append(_msg_v1(MSG_FILTERS, filt))
        else:
            raw = arr.tobytes()
            data_pos = w.reserve(len(raw))
            w.put(data_pos, raw)
            layout = struct.pack("<BB", 3, 1) + struct.pack(
                "<QQ", data_pos, len(raw))
            msgs.append(_msg_v1(MSG_LAYOUT, layout))
        body = b"".join(msgs)
        pos = w.reserve(16 + len(body))
        w.put(pos, struct.pack("<BxHII4x", 1, len(msgs), 1, len(body)))
        w.put(pos + 16, body)
        ohdr_addr[n] = pos

    # SNOD with all entries (fits: fixture groups are small)
    snod_pos = w.reserve(8 + 40 * len(names))
    snod = bytearray(b"SNOD" + struct.pack("<BxH", 1, len(names)))
    for n in names:
        snod += struct.pack("<QQII16x", name_off[n], ohdr_addr[n], 0, 0)
    w.put(snod_pos, bytes(snod))

    # group B-tree: one level-0 node pointing at the SNOD
    bt_pos = w.reserve(24 + 8 + 8 + 8)
    bt = bytearray(b"TREE" + struct.pack("<BBH", 0, 0, 1))
    bt += struct.pack("<QQ", UNDEF, UNDEF)
    bt += struct.pack("<Q", 0)             # key 0 (heap offset)
    bt += struct.pack("<Q", snod_pos)
    bt += struct.pack("<Q", name_off[names[-1]] if names else 0)
    w.put(bt_pos, bytes(bt))

    # root group object header: symbol table message
    st_body = _msg_v1(MSG_SYMBOL_TABLE,
                      struct.pack("<QQ", bt_pos, heap_pos))
    root_pos = w.reserve(16 + len(st_body))
    w.put(root_pos, struct.pack("<BxHII4x", 1, 1, 1, len(st_body)))
    w.put(root_pos + 16, st_body)

    w.put(root_entry_pos, struct.pack("<QQII16x", 0, root_pos, 0, 0))
    w.put(eof_pos, struct.pack("<Q", len(w.buf)))
    with open(path, "wb") as f:
        f.write(bytes(w.buf))
