"""The raster format table: file extension -> decoders.

One entry per single-file raster format the engine reads.  A bare
file goes through ``sources/files.scan_files`` with the entry's
decoders; an archive member goes through the same decoders inside the
member kernels below (the reference reads both through one GDAL
driver, a member behind a ``/vsizip/`` prefix, ref
ingest/utils.py:23-32).  So every format a bare file converts from,
a zipped one converts from too.  Erdas ``.raw``/``.bl`` pairs are a
two-file format and stay a directory reader (sources/erdasraw.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from typing import NamedTuple

import pandas as pd

from pyspark.sql import DataFrame

from geohub_data_pipeline_spark.operators.raster import (
    BLOCK_SCHEMA,
    GEOREF_SCHEMA,
)
from geohub_data_pipeline_spark.sources import aaigrid as AG
from geohub_data_pipeline_spark.sources import geotiff as GTF
from geohub_data_pipeline_spark.sources import hdf5 as H5
from geohub_data_pipeline_spark.sources import hfa as HFA
from geohub_data_pipeline_spark.sources import netcdf3 as NC
from geohub_data_pipeline_spark.sources import srtmhgt as HGT


class RasterFormat(NamedTuple):
    blocks: Callable      # (payload, dataset) -> BLOCK_SCHEMA rows
    georef: Callable      # (georef_column value, dataset) -> GEOREF rows
    errors: tuple         # what a corrupt file raises: quarantine
    georef_column: str = "content"


_TIFF = RasterFormat(GTF.geotiff_blocks, GTF.geotiff_georef, GTF.ERRORS)
_GRID = RasterFormat(AG.aaigrid_blocks, AG.aaigrid_georef, AG.ERRORS)
_NC4 = RasterFormat(H5.read_netcdf4_bytes, H5.netcdf4_georef, H5.ERRORS)

TIFF_EXTS = (".tif", ".tiff", ".gtif", ".gtiff")
RASTER_FORMATS: dict[str, RasterFormat] = {
    **dict.fromkeys(TIFF_EXTS, _TIFF),
    ".nc": RasterFormat(NC.read_netcdf3_bytes, NC.netcdf3_georef,
                        NC.ERRORS),
    **dict.fromkeys((".nc4", ".h5", ".hdf5"), _NC4),
    **dict.fromkeys((".asc", ".grd", ".aig", ".sgr"), _GRID),
    ".hgt": RasterFormat(HGT.hgt_blocks, HGT.hgt_georef, (ValueError,),
                         georef_column="length"),
    ".img": RasterFormat(HFA.hfa_blocks, HFA.hfa_georef, HFA.ERRORS),
}
ERDAS_EXTS = (".raw", ".bl")
RASTER_EXTS = tuple(RASTER_FORMATS) + ERDAS_EXTS


def raster_format(name: str) -> RasterFormat | None:
    """The table entry for a file or member name, else None."""
    return RASTER_FORMATS.get(os.path.splitext(str(name))[1].lower())


def _member_rows(members: DataFrame, schema: str,
                 georef: bool) -> DataFrame:
    """Decode every raster member of ``read_archives`` output with its
    table entry: BLOCK rows, or GEOREF rows when ``georef``.  dataset
    = the member's file name, as a bare file's is its own."""
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(members.sparkSession)
    cols = [c.split(" ")[0] for c in schema.split(", ")]

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for member, payload in pdf[["member", "content"]].itertuples(
                    index=False, name=None):
                fmt = raster_format(member)
                if fmt is None:
                    continue
                decode = fmt.georef if georef else fmt.blocks
                if georef and fmt.georef_column == "length":
                    payload = len(payload)
                try:
                    rows += list(decode(payload,
                                        os.path.basename(str(member))))
                except fmt.errors:
                    continue               # corrupt member: quarantine
            yield pd.DataFrame(rows, columns=cols)

    return members.mapInPandas(kernel, schema)


def raster_blocks_from_members(members: DataFrame) -> DataFrame:
    """BLOCK rows of every raster archive member — the archived twin
    of the bare-file ``blocks_from_*`` sources."""
    return _member_rows(members, BLOCK_SCHEMA, georef=False)


def raster_georefs_from_members(members: DataFrame) -> DataFrame:
    """GEOREF sidecar rows of every raster archive member."""
    return _member_rows(members, GEOREF_SCHEMA, georef=True)
