"""One file-scan kernel for the single-file format readers.

A bare-file reader is a ``decode(payload, dataset) -> rows`` function
plus one ``scan_files`` call.  The scan owns the rest: shipping the
package, the ``binaryFile`` load, ``dataset = basename(path)``,
quarantine of a file whose decode raises one of ``errors``, and one
pandas frame per Arrow batch.  The raster
decoders are also what the archive member kernels call
(sources/rasters.py), so a zipped file reads as the bare file does.

Scale: ``binaryFile`` splits across files, never within one; each
file decodes map-side in one task, with no shuffle.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession


def scan_files(spark: SparkSession, path: str, schema: str,
               decode: Callable, errors: tuple,
               column: str = "content") -> DataFrame:
    """Rows of ``decode(value, dataset)`` for every file under
    ``path`` (any ``binaryFile``-readable path or glob), typed by the
    DDL ``schema``.  ``value`` is the file's ``content`` bytes, or its
    ``length`` when ``column="length"`` (a reader that needs only the
    size never ships the bytes to Python).  A file whose decode raises
    one of ``errors`` contributes no rows."""
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(spark)

    cols = [c.split(" ")[0] for c in schema.split(", ")]
    raw = (spark.read.format("binaryFile").load(path)
           .select("path", column))

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for p, value in zip(pdf["path"], pdf[column]):
                dataset = os.path.basename(str(p).removeprefix("file:"))
                try:
                    rows += list(decode(value, dataset))
                except errors:
                    continue               # corrupt file: quarantine
            yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(kernel, schema)
