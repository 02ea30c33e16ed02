"""GeoTIFF pixel reader -> raster BLOCK rows (stdlib + numpy).

The reference's most common raster ingest is a plain ``.tif`` upload
converted to COG (ref ingest/config.py ALLOWED_GDAL_FORMATS leads
with .tif/.tiff/.gtif/.gtiff; ingest/processing.py:469-552 reads it
through GDAL).  ``operators/rasterprobe.py`` already parses the
header chain; this module reads the PIXELS, from the published
TIFF 6.0 + GeoTIFF specs:

* tiled (TileOffsets/TileByteCounts) AND stripped
  (StripOffsets/RowsPerStrip) layouts;
* compression: none (1), LZW (5 — MSB-first codes with the spec's
  early-change width rule), Adobe deflate (8/32946), PackBits
  (32773), Zstd (50000, via the Arrow codec);
* horizontal-differencing predictor (tag 317 = 2);
* BitsPerSample 8/16/32/64 with SampleFormat uint/int/float, both
  byte orders;
* PlanarConfiguration 1 (chunky — bands interleaved per pixel, split
  here) and 2 (planar);
* georeferencing from ModelPixelScale + ModelTiepoint and the EPSG
  code from the GeoKey directory.

Output is the engine's 256x256 BLOCK model (operators/raster.py) +
a GEOREF sidecar row per dataset, so .tif inputs run the exact
overview-cascade -> warp -> COG path every other raster source uses.

Scale: one .tif = one task (the format interleaves IFDs and data
arbitrarily, so a single ranged reader per file is the right grain);
files parallelize across the binaryFile scan.
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
from geohub_data_pipeline_spark.operators.rasterprobe import (
    _read_values,
    geokey_epsg,
    probe_geotiff,
)
from geohub_data_pipeline_spark.sources.files import scan_files


# ---------------------------------------------------------------------------
# TIFF LZW (spec section 13: MSB-first bit packing, ClearCode 256,
# EOI 257, 9->12 bit codes with the early-change width bump)
# ---------------------------------------------------------------------------

def tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    CLEAR, EOI = 256, 257
    bitpos = 0
    nbits = len(data) * 8

    def read(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > nbits:
            return EOI
        byte = bitpos >> 3
        val = int.from_bytes(data[byte:byte + 3].ljust(3, b"\x00"),
                             "big")
        val >>= 24 - (bitpos & 7) - width
        bitpos += width
        return val & ((1 << width) - 1)

    def reset():
        return {i: bytes((i,)) for i in range(256)}, 258, 9

    table, next_code, width = reset()
    prev = None
    while len(out) < expected:
        code = read(width)
        if code == CLEAR:
            table, next_code, width = reset()
            prev = None
            continue
        if code == EOI:
            break
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            break                          # corrupt stream: stop clean
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
        # early change (spec 13) + the decoder's one-entry lag behind
        # the encoder: grow when the NEXT add would reach 2^width - 1
        if next_code + 2 == (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def tiff_lzw_encode(data: bytes) -> bytes:
    """Matching encoder (fixtures + sink symmetry)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    accbits = 0

    def emit(code: int, width: int):
        nonlocal acc, accbits
        acc = (acc << width) | code
        accbits += width
        while accbits >= 8:
            out.append((acc >> (accbits - 8)) & 0xFF)
            accbits -= 8

    table = {bytes((i,)): i for i in range(256)}
    next_code, width = 258, 9
    emit(CLEAR, width)
    prev = b""
    for b in data:
        cur = prev + bytes((b,))
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        if next_code < 4094:
            table[cur] = next_code
            next_code += 1
            if next_code + 1 == (1 << width) and width < 12:
                width += 1
        else:
            emit(CLEAR, width)
            table = {bytes((i,)): i for i in range(256)}
            next_code, width = 258, 9
        prev = bytes((b,))
    if prev:
        emit(table[prev], width)
    emit(EOI, width)
    if accbits:
        out.append((acc << (8 - accbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data) and len(out) < expected:
        n = data[pos]
        pos += 1
        if n < 128:
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:
            if pos < len(data):
                out += bytes((data[pos],)) * (257 - n)
                pos += 1
        # 128 = no-op
    return bytes(out)


# ---------------------------------------------------------------------------
# container walk (shares tag vocabulary with operators/rasterprobe.py)
# ---------------------------------------------------------------------------

_DTYPES = {(1, 8): "u1", (1, 16): "u2", (1, 32): "u4",
           (2, 8): "i1", (2, 16): "i2", (2, 32): "i4",
           (3, 32): "f4", (3, 64): "f8"}


def _decompress(buf: bytes, compression: int, expected: int) -> bytes:
    if compression == 1:
        return buf
    if compression in (8, 32946):
        return zlib.decompress(buf)
    if compression == 5:
        return tiff_lzw_decode(buf, expected)
    if compression == 32773:
        return _packbits_decode(buf, expected)
    if compression == 50000:
        from geohub_data_pipeline_spark.functions import compression as C
        return C.zstd_decompress(buf)
    raise ValueError(f"geotiff: unsupported compression {compression}")


def _undo_predictor(arr: np.ndarray, predictor: int) -> np.ndarray:
    """Horizontal differencing runs along the row (width axis) —
    axis 1 for both (H, W) and (H, W, samples) chunky layouts."""
    if predictor == 2:
        return np.cumsum(arr, axis=1, dtype=arr.dtype)
    return arr


def read_geotiff(payload: bytes) -> dict:
    """Full decode of the MAIN IFD: returns
    ``{"bands": [np.ndarray (H, W) float64, ...], "width", "height",
    "srid", "origin": (x, y) | None, "pixel_scale": (sx, sy) | None,
    "nodata"}``.  Overview IFDs are skipped (the engine rebuilds its
    own pyramid).  Raises ValueError on malformed input."""
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF")
    magic, ifd_off = struct.unpack_from(bo + "HI", payload, 2)
    if magic != 42:
        raise ValueError("not a classic TIFF")
    (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
    tags: dict[int, list] = {}
    pos = ifd_off + 2
    for _ in range(n_entries):
        tag, typ, count = struct.unpack_from(bo + "HHI", payload, pos)
        tags[tag] = _read_values(payload, bo, typ, count,
                                 payload[pos + 8:pos + 12])
        pos += 12

    def one(tag, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    width, height = one(256), one(257)
    if not width or not height:
        raise ValueError("geotiff: missing dimensions")
    spp = one(277, 1)
    # allocation guard: a corrupt/hostile header must raise, not OOM
    # the executor (quarantine contract, as sources/netcdf3.py)
    if width * height * spp > 1 << 30:
        raise ValueError(
            f"geotiff: implausible dimensions {width}x{height}x{spp}")
    bits = one(258, 8)
    sfmt = one(339, 1)
    if (sfmt, bits) not in _DTYPES:
        raise ValueError(f"geotiff: unsupported sample format "
                         f"{sfmt}/{bits}")
    dtype = np.dtype(bo + _DTYPES[(sfmt, bits)])
    compression = one(259, 1)
    predictor = one(317, 1)
    planar = one(284, 1)
    nodata = None
    if 42113 in tags:                      # GDAL_NODATA (ASCII)
        try:
            nodata = float(str(tags[42113][0]).strip("\x00 "))
        except (ValueError, TypeError, IndexError):
            nodata = None

    full = np.zeros((spp, height, width), dtype=np.float64)

    def place_chunk(raw: bytes, cw: int, ch: int, x0: int, y0: int,
                    plane: int):
        n_samples = cw * ch * (spp if planar == 1 else 1)
        arr = np.frombuffer(raw, dtype=dtype, count=n_samples)
        if planar == 1 and spp > 1:
            arr = arr.reshape(ch, cw, spp)
            arr = _undo_predictor(
                arr.astype(dtype.newbyteorder("=")), predictor) \
                if predictor == 2 else arr
            for b in range(spp):
                sub = arr[..., b]
                h = min(ch, height - y0)
                w = min(cw, width - x0)
                full[b, y0:y0 + h, x0:x0 + w] = sub[:h, :w]
        else:
            arr = arr.reshape(ch, cw)
            if predictor == 2:
                arr = _undo_predictor(
                    arr.astype(dtype.newbyteorder("=")), 2)
            h = min(ch, height - y0)
            w = min(cw, width - x0)
            full[plane, y0:y0 + h, x0:x0 + w] = arr[:h, :w]

    if 322 in tags:                        # tiled
        tw, th = one(322), one(323)
        offs = tags.get(324) or []
        cnts = tags.get(325) or []
        nx = (width + tw - 1) // tw
        ny = (height + th - 1) // th
        per_plane = nx * ny
        for i, (off, cnt) in enumerate(zip(offs, cnts)):
            plane = i // per_plane if planar == 2 else 0
            k = i % per_plane
            ty, tx = divmod(k, nx)
            raw = _decompress(payload[off:off + cnt], compression,
                              tw * th * dtype.itemsize
                              * (spp if planar == 1 else 1))
            place_chunk(raw, tw, th, tx * tw, ty * th, plane)
    elif 273 in tags:                      # stripped
        rps = one(278, height)
        offs = tags.get(273) or []
        cnts = tags.get(279) or []
        strips_per_plane = (height + rps - 1) // rps
        for i, (off, cnt) in enumerate(zip(offs, cnts)):
            plane = i // strips_per_plane if planar == 2 else 0
            k = i % strips_per_plane
            y0 = k * rps
            ch = min(rps, height - y0)
            raw = _decompress(payload[off:off + cnt], compression,
                              width * ch * dtype.itemsize
                              * (spp if planar == 1 else 1))
            place_chunk(raw, width, ch, 0, y0, plane)
    else:
        raise ValueError("geotiff: neither tiled nor stripped")

    # georeferencing
    scale = tags.get(33550) or []
    tie = tags.get(33922) or []
    origin = (tie[3], tie[4]) if len(tie) >= 6 else None
    pixel_scale = (scale[0], scale[1]) if len(scale) >= 2 else None
    return {"bands": [full[b] for b in range(spp)],
            "width": width, "height": height,
            "srid": geokey_epsg(tags.get(34735) or []),
            "origin": origin, "pixel_scale": pixel_scale,
            "nodata": nodata}


# ---------------------------------------------------------------------------
# Spark source: BLOCK rows + GEOREF and dtype sidecars
# ---------------------------------------------------------------------------

# every decode or header-probe failure of a corrupt or truncated file
# (OSError: the Arrow zstd codec on a corrupt tile)
ERRORS = (ValueError, struct.error, IndexError, zlib.error, OSError)


def geotiff_blocks(payload: bytes, dataset: str) -> list[tuple]:
    """BLOCK rows (one band per sample plane, level 0) of one file."""
    d = read_geotiff(payload)
    return [row for band, arr in enumerate(d["bands"], start=1)
            for row in cut_blocks(arr, dataset, None, band, d["nodata"],
                                  d["srid"] or 4326)]


def geotiff_georef(payload: bytes, dataset: str) -> list[tuple]:
    """GEOREF row from the ModelPixelScale/ModelTiepoint tags —
    HEADER-ONLY (probe_geotiff): georeferencing is tag metadata, so
    this never touches tile payloads.  Ungeoreferenced: no row."""
    d = probe_geotiff(payload)
    if d["origin_x"] is None or d["pixel_scale_x"] is None:
        return []
    return [(dataset, float(d["origin_x"]), float(d["origin_y"]),
             float(d["pixel_scale_x"]), float(d["pixel_scale_y"]),
             int(d["epsg"] or 4326))]


def geotiff_dtype(payload: bytes, dataset: str) -> list[tuple]:
    """``(dataset, dtype)`` from SampleFormat x BitsPerSample (header
    tags alone, no pixel decode)."""
    d = probe_geotiff(payload)
    code = _DTYPES.get((int(d["sample_format"] or 1),
                        int(d["bits_per_sample"] or 8)))
    return [(dataset, code)] if code else []


def blocks_from_geotiff(spark: SparkSession, path: str) -> DataFrame:
    """Scan .tif/.tiff/.gtif/.gtiff under ``path`` into the 256x256
    BLOCK model (one row per band-block, level 0)."""
    return scan_files(spark, path, BLOCK_SCHEMA, geotiff_blocks, ERRORS)


def dtypes_from_geotiff(spark: SparkSession, path: str) -> DataFrame:
    """Per-dataset source-dtype sidecar ``(dataset, dtype)``.
    Broadcast into COG assembly so the default output PRESERVES the
    source sample type instead of widening to float64, as the
    reference does through rio-cogeo's profile
    (ref /root/reference/ingest/config.py:92-101)."""
    return scan_files(spark, path, "dataset string, dtype string",
                      geotiff_dtype, ERRORS)


def georef_from_geotiff(spark: SparkSession, path: str) -> DataFrame:
    """GEOREF sidecar rows (operators/raster.py schema); at scale the
    sidecar costs one small ranged read per file, not a decode."""
    return scan_files(spark, path, GEOREF_SCHEMA, geotiff_georef, ERRORS)
