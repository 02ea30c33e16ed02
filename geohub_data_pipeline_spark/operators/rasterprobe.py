"""GeoTIFF header probe — the ``gdalinfo`` analog on raw bytes (S5/S6).

The reference probes uploaded rasters through GDAL to learn size,
bands, tiling, compression, and CRS before dispatch
(ref ingest/processing.py:443-520, ingest/config.py:92-103).  GDAL is
absent here, so the probe reads the TIFF container directly: classic
TIFF, both byte orders, chained IFDs (the COG overview layout),
GeoKeyDirectory for the EPSG code.  Works against any
baseline/tiled/COG TIFF, including this engine's own cogwriter
output (which tests/test_cogwriter.py verifies with an independent
parser — the probe is a third implementation, not a re-import).

Spark surface: ``probe_rasters`` maps (path, content) rows to typed
probe rows inside Arrow batches — a scan, no shuffle, quarantine-on-
corrupt like every other source probe.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 8: "h", 9: "i", 11: "f", 12: "d"}

_COMPRESSION_NAMES = {1: "none", 5: "lzw", 7: "jpeg", 8: "deflate",
                      32773: "packbits", 50000: "zstd", 34925: "lzma"}

PROBE_SCHEMA = ("path string, ok boolean, width int, height int, "
                "n_bands int, bits_per_sample int, sample_format int, "
                "compression string, photometric int, tiled boolean, "
                "tile_width int, "
                "tile_height int, n_overviews int, epsg int, "
                "pixel_scale_x double, pixel_scale_y double, "
                "origin_x double, origin_y double, error string")


def _read_values(payload: bytes, bo: str, typ: int, count: int,
                 raw: bytes) -> list:
    """Decode an IFD entry's values (inline when they fit 4 bytes,
    else at the recorded offset)."""
    size = _TYPE_SIZE.get(typ)
    fmt = _TYPE_FMT.get(typ)
    if size is None or fmt is None:
        return []
    total = size * count
    if total <= 4:
        buf = raw[:total]
    else:
        (off,) = struct.unpack(bo + "I", raw)
        buf = payload[off:off + total]
        if len(buf) != total:
            raise ValueError("value block out of bounds")
    return list(struct.unpack(bo + str(count) + fmt, buf))


def geokey_epsg(geokeys: list) -> int | None:
    """EPSG code from a GeoKeyDirectory (tag 34735): a 4-short header
    then (key, loc, count, value) entries; ProjectedCSType (3072)
    wins over GeographicType (2048)."""
    epsg = None
    for k in range(4, len(geokeys) - 3, 4):
        key, loc, _cnt, val = geokeys[k:k + 4]
        if key == 3072 and loc == 0:
            epsg = val
        elif key == 2048 and loc == 0 and epsg is None:
            epsg = val
    return epsg


def probe_geotiff(payload: bytes) -> dict:
    """Parse a (Geo)TIFF header chain into typed metadata.

    Raises ValueError on malformed input (callers quarantine).
    """
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    if payload[:2] == b"II":
        bo = "<"
    elif payload[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte order)")
    magic, ifd_off = struct.unpack_from(bo + "HI", payload, 2)
    if magic != 42:
        raise ValueError("not a classic TIFF (bad magic)")

    ifds = []
    seen = set()
    while ifd_off and ifd_off not in seen and len(ifds) < 64:
        seen.add(ifd_off)
        if ifd_off + 2 > len(payload):
            raise ValueError("IFD offset out of bounds")
        (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
        tags: dict[int, list] = {}
        pos = ifd_off + 2
        if pos + 12 * n_entries + 4 > len(payload):
            raise ValueError("IFD overruns file")
        for _ in range(n_entries):
            tag, typ, count = struct.unpack_from(bo + "HHI", payload, pos)
            tags[tag] = _read_values(payload, bo, typ, count,
                                     payload[pos + 8:pos + 12])
            pos += 12
        ifds.append(tags)
        (ifd_off,) = struct.unpack_from(bo + "I", payload, pos)
    if not ifds:
        raise ValueError("no IFD")

    main = ifds[0]

    def one(tag, default=None):
        v = main.get(tag)
        return v[0] if v else default

    scale = main.get(33550) or []
    tie = main.get(33922) or []
    return {
        "width": one(256), "height": one(257),
        "n_bands": one(277, 1),
        "bits_per_sample": one(258, 1),
        "sample_format": one(339, 1),
        "compression": _COMPRESSION_NAMES.get(
            one(259, 1), f"unknown({one(259, 1)})"),
        "photometric": one(262, 1),
        "tiled": 322 in main,
        "tile_width": one(322), "tile_height": one(323),
        "n_overviews": len(ifds) - 1,
        "epsg": geokey_epsg(main.get(34735) or []),
        "pixel_scale_x": scale[0] if len(scale) >= 2 else None,
        "pixel_scale_y": scale[1] if len(scale) >= 2 else None,
        "origin_x": tie[3] if len(tie) >= 6 else None,
        "origin_y": tie[4] if len(tie) >= 6 else None,
    }


def probe_rasters(blobs: DataFrame, path_col: str = "path",
                  content_col: str = "content") -> DataFrame:
    """Probe every raster blob into a typed metadata row (S5/S6).

    Corrupt blobs become ok=false quarantine rows, never task
    failures.  Scale: mapInPandas over Arrow batches, no shuffle.
    """
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(blobs.sparkSession)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in PROBE_SCHEMA.split(", ")]
        for pdf in it:
            rows = []
            for p, content in zip(pdf[path_col], pdf[content_col]):
                base = {c: None for c in cols}
                base["path"] = str(p)
                try:
                    base.update(probe_geotiff(bytes(content)))
                    base["ok"] = True
                except Exception as ex:
                    base["ok"] = False
                    base["error"] = f"probe-error: {ex}"
                rows.append(base)
            yield pd.DataFrame(rows, columns=cols)

    return blobs.mapInPandas(kernel, PROBE_SCHEMA)


# ---------------------------------------------------------------------------
# COG validation — the rio-cogeo `cog_validate` analog the reference
# runs on every output (ref ingest/processing.py:511-514)
# ---------------------------------------------------------------------------

def validate_cog(payload: bytes) -> dict:
    """Validate cloud-optimized layout per rio-cogeo's published
    rules: returns ``{"valid", "errors", "warnings"}`` instead of
    raising (malformed TIFF = one error entry).

    Errors (mirroring rio_cogeo.cogeo.cog_validate):
    * not a tiled TIFF;
    * main IFD offset beyond the first 300 bytes (headers must lead);
    * image larger than 512 px with no overviews;
    * an overview that is not strictly smaller than its predecessor;
    * tile data starting before the last IFD structure (headers and
      data interleaved — breaks the one-range-request read pattern).

    Warnings:
    * tile size not a multiple of 16 (TIFF spec requires it);
    * nonstandard tile size (not 256/512).
    """
    errors: list[str] = []
    warnings: list[str] = []
    try:
        if payload[:2] == b"II":
            bo = "<"
        elif payload[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError("not a TIFF (bad byte order)")
        magic, first_off = struct.unpack_from(bo + "HI", payload, 2)
        if magic != 42:
            raise ValueError("not a classic TIFF (bad magic)")
        if first_off > 300:
            errors.append(
                f"main IFD offset {first_off} > 300 (headers must "
                "lead the file)")
        ifds = []
        headers_end = 8
        ifd_off = first_off
        seen = set()
        while ifd_off and ifd_off not in seen and len(ifds) < 64:
            seen.add(ifd_off)
            (n_entries,) = struct.unpack_from(bo + "H", payload, ifd_off)
            tags: dict[int, list] = {}
            pos = ifd_off + 2
            for _ in range(n_entries):
                tag, typ, count = struct.unpack_from(bo + "HHI",
                                                     payload, pos)
                tags[tag] = _read_values(payload, bo, typ, count,
                                         payload[pos + 8:pos + 12])
                pos += 12
            headers_end = max(headers_end, pos + 4)
            ifds.append(tags)
            (ifd_off,) = struct.unpack_from(bo + "I", payload, pos)
        if not ifds:
            raise ValueError("no IFD")
    except (ValueError, struct.error, IndexError) as ex:
        return {"valid": False, "errors": [f"unreadable TIFF: {ex}"],
                "warnings": []}

    main = ifds[0]
    w = (main.get(256) or [0])[0]
    h = (main.get(257) or [0])[0]
    if 322 not in main or 323 not in main:
        errors.append("not tiled (TileWidth/TileLength missing)")
    else:
        tw, th = main[322][0], main[323][0]
        if tw % 16 or th % 16:
            warnings.append(f"tile size {tw}x{th} not a multiple of 16")
        elif tw not in (256, 512):
            warnings.append(f"nonstandard tile size {tw}x{th}")
    if max(w, h) > 512 and len(ifds) < 2:
        errors.append(f"{w}x{h} image with no overviews")
    pw, ph = w, h
    for i, ov in enumerate(ifds[1:], start=1):
        ow = (ov.get(256) or [0])[0]
        oh = (ov.get(257) or [0])[0]
        if ow >= pw or oh >= ph:
            errors.append(
                f"overview {i} ({ow}x{oh}) not smaller than its "
                f"predecessor ({pw}x{ph})")
        pw, ph = ow, oh
    data_offsets = [off for ifd in ifds
                    for off in (ifd.get(324) or ifd.get(273) or [])
                    if off]
    if data_offsets and min(data_offsets) < headers_end:
        errors.append(
            f"tile data at {min(data_offsets)} starts before the IFD "
            f"structures end at {headers_end}")
    return {"valid": not errors, "errors": errors, "warnings": warnings}


def validate_cog_path(path: str, prefix_bytes: int = 4 << 20) -> dict:
    """``validate_cog`` from a bounded HEADER PREFIX of the file —
    O(MB) memory however large the artifact (a 50 GB BIGTIFF must
    not be slurped onto the driver to check its layout).

    Sound because every rule above reads only IFD structures and tag
    value arrays, which a cloud-optimized file keeps at the front by
    definition: a file whose structures run past the prefix has
    failed the 'headers lead the file' contract, and is reported as
    exactly that instead of crashing the driver.
    """
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        payload = f.read(prefix_bytes)
    out = validate_cog(payload)
    if size > len(payload) and not out["valid"] and any(
            "unreadable TIFF" in e for e in out["errors"]):
        # the walk ran off the prefix: the layout itself is the error
        out["errors"] = [
            f"IFD/tag structures extend beyond the first "
            f"{len(payload)} bytes of a {size}-byte file — headers "
            "do not lead (not cloud-optimized)"]
    return out
