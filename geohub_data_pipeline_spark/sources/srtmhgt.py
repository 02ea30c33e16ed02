"""SRTM ``.hgt`` elevation-tile raster source — stdlib struct/numpy.

The NASA SRTM distribution format (SRTM Documentation, USGS/NASA
JPL): one file per 1x1-degree cell, named ``[NS]yy[EW]xxx.hgt``
after its SOUTH-WEST corner; raw big-endian int16 samples, no
header; 1201x1201 (3-arc-second, SRTM3) or 3601x3601 (1-arc-second,
SRTM1) samples per tile, rows north to south; voids are -32768.
The grid is WGS84 geographic; sample spacing is 1/(n-1) degrees and
outer samples sit ON the cell edges (pixel-is-point), so the
top-left pixel CENTER is (lon_sw, lat_sw + 1) and the GDAL-style
top-left corner is offset by half a sample.

Feeds the same BLOCK/GEOREF model as every raster source: blocks ->
``warp_to_mercator`` -> overview cascade -> COG (reference converts
DEMs through the identical raster path, ref
ingest/processing.py:469-552).

Scale: one tile = one task (a tile is <= ~25 MB); a continental DEM
is thousands of .hgt files, which the binaryFile scan fans out
across the cluster — per-file work is a single numpy frombuffer +
block slicing, no Python per-sample loops.
"""

from __future__ import annotations

import os
import re

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.operators.raster import (
    BLOCK_SCHEMA,
    GEOREF_SCHEMA,
    cut_blocks,
)
from geohub_data_pipeline_spark.sources.files import scan_files

_NAME_RE = re.compile(r"^([NS])(\d{1,2})([EW])(\d{1,3})", re.IGNORECASE)
_NODATA = -32768.0


def parse_hgt_name(name: str) -> tuple[float, float] | None:
    """(lon_sw, lat_sw) from an SRTM tile name, else None."""
    m = _NAME_RE.match(os.path.basename(name))
    if not m:
        return None
    lat = float(m.group(2)) * (1 if m.group(1).upper() == "N" else -1)
    lon = float(m.group(4)) * (1 if m.group(3).upper() == "E" else -1)
    return lon, lat


def parse_hgt(payload: bytes) -> np.ndarray:
    """Raw .hgt bytes -> float64 array [n, n] (north-up).  n is
    derived from the byte count (2 bytes/sample, square grid)."""
    n2 = len(payload) // 2
    n = int(round(n2 ** 0.5))
    if n * n * 2 != len(payload):
        raise ValueError(f"not a square int16 grid: {len(payload)} bytes")
    return (np.frombuffer(payload, dtype=">i2", count=n * n)
            .reshape(n, n).astype(np.float64))


def hgt_blocks(payload: bytes, dataset: str) -> list[tuple]:
    return cut_blocks(parse_hgt(payload), dataset, None, 1, _NODATA, 4326)


def hgt_georef(nbytes: int, dataset: str) -> list[tuple]:
    """GEOREF row from the tile NAME + byte count: top-left
    pixel-corner origin (lon_sw - s/2, lat_sw + 1 + s/2) with sample
    spacing s = 1/(n-1) (the pixel-is-point half-sample shift); no
    row for a misnamed or non-square tile."""
    nbytes = int(nbytes)
    sw = parse_hgt_name(dataset)
    n = int(round((nbytes // 2) ** 0.5))
    if sw is None or n < 2 or n * n * 2 != nbytes:
        return []
    s = 1.0 / (n - 1)
    return [(dataset, sw[0] - s / 2.0, sw[1] + 1.0 + s / 2.0, s, s, 4326)]


def blocks_from_hgt(spark: SparkSession, path: str) -> DataFrame:
    """Scan .hgt files under ``path`` into raster block rows."""
    return scan_files(spark, path, BLOCK_SCHEMA, hgt_blocks, (ValueError,))


def georef_from_hgt(spark: SparkSession, path: str) -> DataFrame:
    """GEOREF sidecar from each tile's name and ``length`` — the scan
    never reads the samples."""
    return scan_files(spark, path, GEOREF_SCHEMA, hgt_georef, (),
                      column="length")
