"""Arc/Info ASCII Grid (.asc/.grd/.aig/.sgr) raster source — stdlib
text parse.

``.asc``/``.grd``/``.aig``/``.sgr`` are in the reference's accepted
raster format list, all grouped under "Arc/Info ASCII Grid File"
(ref ingest/config.py:46,67-78 ALLOWED_GDAL_FORMATS); GDAL reads
them into the same pipeline as GeoTIFF.  The format is a 6-line text
header
(ncols, nrows, xllcorner/xllcenter, yllcorner/yllcenter, cellsize,
optional nodata_value) followed by row-major whitespace-separated
values, north row first.

The source parses bytes straight into the engine's raster BLOCK model
(operators/raster.py BLOCK_SCHEMA: 256x256 blocks, level 0), so an
.asc upload flows through the SAME overview cascade, dispatch, and
COG assembly as any GeoTIFF — format support is a parser, not a new
pipeline.

Scale: one grid = one task (single-file text format); blocks leave as
Arrow batches and the cascade re-partitions them like any raster.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.operators.raster import (
    BLOCK_SCHEMA,
    GEOREF_SCHEMA,
    cut_blocks,
)
from geohub_data_pipeline_spark.sources.files import scan_files

_HEADER_KEYS = {"ncols", "nrows", "xllcorner", "yllcorner", "xllcenter",
                "yllcenter", "cellsize", "nodata_value"}


def parse_aaigrid(text: str) -> tuple[dict, np.ndarray]:
    """Parse .asc text -> (header dict, float64 array [nrows, ncols]).

    Raises ValueError on malformed input (callers quarantine).
    """
    tokens = text.split()
    header: dict[str, float] = {}
    i = 0
    while i + 1 < len(tokens) and tokens[i].lower() in _HEADER_KEYS:
        header[tokens[i].lower()] = float(tokens[i + 1])
        i += 2
    if "ncols" not in header or "nrows" not in header:
        raise ValueError("AAIGrid: missing ncols/nrows header")
    ncols, nrows = int(header["ncols"]), int(header["nrows"])
    if ncols <= 0 or nrows <= 0:
        raise ValueError("AAIGrid: non-positive dimensions")
    values = tokens[i:]
    if len(values) != ncols * nrows:
        raise ValueError(
            f"AAIGrid: expected {ncols * nrows} values, "
            f"got {len(values)}")
    try:
        arr = np.array(values, dtype=np.float64).reshape(nrows, ncols)
    except ValueError as ex:
        raise ValueError(f"AAIGrid: non-numeric cell: {ex}") from None
    return header, arr


def georef_of(header: dict) -> tuple[float, float, float, float]:
    """(origin_x, origin_y, pixel_sx, pixel_sy) from an AAIGrid header.

    The header gives the LOWER-LEFT corner (or cell center, for the
    xllcenter/yllcenter variants); GeoTIFF's ModelTiepoint wants the
    TOP-LEFT corner, so the Y origin is yll + nrows*cellsize.
    """
    cell = float(header.get("cellsize", 1.0))
    nrows = int(header["nrows"])
    if "xllcorner" in header:
        x0 = float(header["xllcorner"])
    elif "xllcenter" in header:
        x0 = float(header["xllcenter"]) - cell / 2.0
    else:
        x0 = 0.0
    if "yllcorner" in header:
        yll = float(header["yllcorner"])
    elif "yllcenter" in header:
        yll = float(header["yllcenter"]) - cell / 2.0
    else:
        yll = 0.0
    return x0, yll + nrows * cell, cell, cell


# a corrupt grid: non-ASCII bytes, a bad header or a short value list
ERRORS = (ValueError, UnicodeDecodeError)


def _parse(payload: bytes) -> tuple[dict, np.ndarray]:
    return parse_aaigrid(payload.decode("ascii", "strict"))


def aaigrid_blocks(payload: bytes, dataset: str) -> list[tuple]:
    header, arr = _parse(payload)
    return cut_blocks(arr, dataset, None, 1,
                      float(header.get("nodata_value", -9999.0)), 4326)


def aaigrid_georef(payload: bytes, dataset: str) -> list[tuple]:
    header, _ = _parse(payload)
    return [(dataset, *georef_of(header), 4326)]


def georef_from_aaigrid(spark: SparkSession, path: str) -> DataFrame:
    """Per-dataset georeferencing sidecar (GEOREF_SCHEMA) from .asc
    headers — consumed by ``assemble_cog_tables(georef=...)`` so COGs
    keep the grid's spatial referencing (the reference preserves it
    through GDAL; ref ingest/processing.py:469-552)."""
    return scan_files(spark, path, GEOREF_SCHEMA, aaigrid_georef, ERRORS)


def blocks_from_aaigrid(spark: SparkSession, path: str) -> DataFrame:
    """Scan .asc files under ``path`` into raster block rows
    (BLOCK_SCHEMA level 0) — ready for the overview cascade and COG
    assembly."""
    return scan_files(spark, path, BLOCK_SCHEMA, aaigrid_blocks, ERRORS)
