"""Classic NetCDF-3 (.nc) raster source — stdlib struct, no GDAL.

``.nc`` is in the reference's accepted raster format list
(ref ingest/config.py:67-78); GDAL exposes each variable as a
SUBDATASET and the reference's dispatch iterates them
(ref processing.py:700-782).  The classic NetCDF-3 container
(CDF-1/CDF-2, the published UCAR spec) is a flat big-endian header:

* magic ``CDF`` + version (1 = 32-bit offsets, 2 = 64-bit),
* dim_list / gatt_list / var_list sections (tagged 0x0A/0x0C/0x0B),
* per variable: name, dim ids, attributes, nc_type, vsize, and the
  absolute ``begin`` offset of its row-major data.

(NetCDF-4 files are HDF5 containers — out of stdlib scope; they
quarantine like any unreadable blob.)

The source maps every 2-D numeric variable to one SUBDATASET (band
1) and every 3-D variable to one subdataset with one band per
leading-dimension slice — exactly the reference's
GDAL-subdataset-per-variable model — emitting the engine's 256²
BLOCK rows so .nc flows through the same cascade/dispatch/COG path
as GeoTIFF.  ``_FillValue``/``missing_value`` become nodata.
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

_NC_TYPES = {1: ("b", 1), 2: ("c", 1), 3: (">i2", 2), 4: (">i4", 4),
             5: (">f4", 4), 6: (">f8", 8)}


class _R:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def take(self, n: int) -> bytes:
        v = self.buf[self.pos:self.pos + n]
        if len(v) != n:
            raise ValueError("netcdf3: truncated header")
        self.pos += n
        return v

    def u4(self) -> int:
        return struct.unpack(">I", self.take(4))[0]

    def name(self) -> str:
        n = self.u4()
        raw = self.take(n)
        self.take((4 - n % 4) % 4)         # padding
        return raw.decode("utf-8")

    def attr_values(self, nc_type: int, nelems: int):
        if nc_type not in _NC_TYPES:
            raise ValueError(f"netcdf3: invalid nc_type {nc_type}")
        fmt, size = _NC_TYPES[nc_type]
        total = size * nelems
        raw = self.take(total)
        self.take((4 - total % 4) % 4)
        if nc_type == 2:
            return raw.decode("utf-8", "replace")
        return list(np.frombuffer(raw, dtype=fmt if nc_type > 2
                                  else ("b" if nc_type == 1 else "c")))


def _read_attrs(r: _R) -> dict:
    tag = r.u4()
    count = r.u4()
    if tag not in (0x0C, 0) or (tag == 0 and count != 0):
        raise ValueError("netcdf3: bad attribute list tag")
    out = {}
    for _ in range(count):
        aname = r.name()
        atype = r.u4()
        nelems = r.u4()
        out[aname] = r.attr_values(atype, nelems)
    return out


def parse_netcdf3(payload: bytes) -> list[dict]:
    """Parse classic NetCDF-3 bytes into per-variable descriptors:
    {name, dims: [(dim_name, size)], nc_type, begin, attrs}.

    Raises ValueError for non-classic input (incl. NetCDF-4/HDF5).
    """
    if payload[:3] != b"CDF":
        raise ValueError("netcdf3: not a classic NetCDF file")
    version = payload[3]
    if version not in (1, 2):
        raise ValueError(f"netcdf3: unsupported version {version}")
    r = _R(payload)
    r.pos = 4
    r.u4()                                  # numrecs (or STREAMING)
    # dim_list
    tag = r.u4()
    ndims = r.u4()
    dims: list[tuple[str, int]] = []
    if tag == 0x0A:
        for _ in range(ndims):
            dims.append((r.name(), r.u4()))
    elif not (tag == 0 and ndims == 0):
        raise ValueError("netcdf3: bad dim list")
    _read_attrs(r)                          # global attrs (skipped)
    tag = r.u4()
    nvars = r.u4()
    if tag not in (0x0B, 0) or (tag == 0 and nvars != 0):
        raise ValueError("netcdf3: bad var list")
    out = []
    for _ in range(nvars):
        vname = r.name()
        nd = r.u4()
        dimids = [r.u4() for _ in range(nd)]
        if any(i >= len(dims) for i in dimids):
            raise ValueError(f"netcdf3: variable {vname!r} references "
                             "an out-of-range dimension id")
        attrs = _read_attrs(r)
        nc_type = r.u4()
        if nc_type not in _NC_TYPES:
            raise ValueError(f"netcdf3: invalid nc_type {nc_type}")
        r.u4()                              # vsize
        begin = r.u4() if version == 1 else \
            struct.unpack(">Q", r.take(8))[0]
        out.append({
            "name": vname,
            "dims": [dims[i] for i in dimids],
            "nc_type": nc_type,
            "begin": begin,
            "attrs": attrs,
        })
    return out


def _var_array(payload: bytes, var: dict) -> np.ndarray:
    fmt, size = _NC_TYPES[var["nc_type"]]
    shape = tuple(s for _, s in var["dims"])
    count = int(np.prod(shape)) if shape else 1
    raw = payload[var["begin"]:var["begin"] + size * count]
    if len(raw) != size * count:
        raise ValueError("netcdf3: variable data out of bounds")
    if var["nc_type"] == 1:
        arr = np.frombuffer(raw, dtype="b")
    elif var["nc_type"] == 2:
        raise ValueError("netcdf3: char variable is not raster data")
    else:
        arr = np.frombuffer(raw, dtype=fmt)
    return arr.reshape(shape).astype(np.float64)


def _nodata_of(attrs: dict) -> float:
    for key in ("_FillValue", "missing_value"):
        v = attrs.get(key)
        if isinstance(v, list) and v:
            return float(v[0])
    return float("nan")


def read_netcdf3_bytes(payload: bytes, dataset: str) -> list[tuple]:
    """BLOCK rows for every 2-D/3-D numeric variable (the GDAL
    subdataset-per-variable model)."""
    rows: list[tuple] = []
    variables = parse_netcdf3(payload)
    by_name = {v["name"]: v for v in variables}
    for var in variables:
        nd = len(var["dims"])
        if nd not in (2, 3) or var["nc_type"] == 2:
            continue                        # coordinate/scalar vars
        arr = _var_array(payload, var)
        # bottom-up grid (ascending y coordinate): store north-up, the
        # same flip GDAL's netCDF driver applies, so the block rows and
        # the GEOREF sidecar (georef_of_netcdf3) agree on orientation
        yv = by_name.get(var["dims"][-2][0])
        if (yv is not None and len(yv["dims"]) == 1
                and yv["nc_type"] != 2 and var["dims"][-2][1] >= 2):
            ys = _var_array(payload, yv)
            if len(ys) >= 2 and ys[1] > ys[0]:
                arr = np.flip(arr, axis=-2)
        nodata = _nodata_of(var["attrs"])
        for band, plane in enumerate([arr] if nd == 2 else arr, start=1):
            rows += cut_blocks(plane, dataset, var["name"], band, nodata,
                               4326)
    return rows


def georef_of_netcdf3(payload: bytes) -> tuple | None:
    """(origin_x, origin_y, pixel_sx, pixel_sy) from 1-D coordinate
    variables, or None when the file has none.

    The CF convention (and GDAL's netCDF driver) registers coordinate
    values at CELL CENTERS: a raster variable's trailing two dims
    (y, x) match 1-D variables of the same names whose spacing gives
    the pixel size; the top-left CORNER is the first center offset by
    half a cell (north-up when the y coordinate descends).
    """
    variables = parse_netcdf3(payload)
    by_name = {v["name"]: v for v in variables}
    for var in variables:
        if len(var["dims"]) < 2 or var["nc_type"] == 2:
            continue
        (yname, ylen), (xname, xlen) = var["dims"][-2], var["dims"][-1]
        yv, xv = by_name.get(yname), by_name.get(xname)
        if (yv is None or xv is None or len(yv["dims"]) != 1
                or len(xv["dims"]) != 1 or ylen < 2 or xlen < 2
                or yv["nc_type"] == 2 or xv["nc_type"] == 2):
            continue
        xs = _var_array(payload, xv)
        ys = _var_array(payload, yv)
        dx = float(xs[1] - xs[0])
        dy = float(ys[1] - ys[0])
        if dx == 0 or dy == 0:
            continue
        origin_x = float(xs[0]) - dx / 2.0
        # GeoTIFF origin is the top-left corner; a descending y
        # coordinate already starts at the north edge's center.
        origin_y = float(ys[0]) + abs(dy) / 2.0 if dy < 0 \
            else float(ys[-1]) + abs(dy) / 2.0
        return origin_x, origin_y, abs(dx), abs(dy)
    return None


# a corrupt header, out-of-bounds variable data or a NetCDF-4 file
ERRORS = (ValueError, struct.error, KeyError, IndexError)


def netcdf3_georef(payload: bytes, dataset: str) -> list[tuple]:
    g = georef_of_netcdf3(payload)
    return [(dataset, *g, 4326)] if g else []


def georef_from_netcdf3(spark: SparkSession, path: str) -> DataFrame:
    """Per-dataset georeferencing sidecar (GEOREF_SCHEMA) from .nc
    coordinate variables — consumed by
    ``assemble_cog_tables(georef=...)``."""
    return scan_files(spark, path, GEOREF_SCHEMA, netcdf3_georef, ERRORS)


def blocks_from_netcdf3(spark: SparkSession, path: str) -> DataFrame:
    """Scan .nc files under ``path`` into raster BLOCK rows."""
    return scan_files(spark, path, BLOCK_SCHEMA, read_netcdf3_bytes,
                      ERRORS)
