"""Erdas Imagine Raw (.raw/.bl) raster source — stdlib text+binary.

``.raw``/``.bl`` are in the reference's accepted raster format list
("Erdas Imagine (.raw, .bl)", ref ingest/config.py:50); GDAL reads
them through the EIR (Erdas Imagine Raw) driver, whose publicly
documented layout is a plain-text header describing a flat binary
companion file:

    IMAGINE_RAW_FILE data.bl
    WIDTH 300
    HEIGHT 270
    NUM_LAYERS 2
    FORMAT F32            # U1/U2/U4/U8/U16/S16/U32/S32/F32/F64
    DATA_OFFSET 0
    BYTE_ORDER LSB        # LSB | MSB
    INTERLEAVING BSQ      # BSQ | BIL | BIP (EIR default BIL)

The source pairs each ``.raw`` header with its named data file
(typically ``.bl`` — the "band list" blob), decodes the pixel matrix
per format/order/interleave, and emits the engine's 256² BLOCK rows —
one band per layer — so Erdas uploads flow through the SAME overview
cascade, dispatch, and COG assembly as GeoTIFF.

Scale: one dataset = one task (header + companion must meet, like
.shp/.prj); ONE shuffle grouping files by directory, then map-side
decode into Arrow batches.  Corrupt/incomplete pairs quarantine.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.operators.raster import BLOCK_SCHEMA, cut_blocks

_FORMATS = {
    "U1": ("u1", 1), "U2": ("u1", 1), "U4": ("u1", 1),
    "U8": ("u1", 1), "U16": ("u2", 2), "S16": ("i2", 2),
    "U32": ("u4", 4), "S32": ("i4", 4), "F32": ("f4", 4),
    "F64": ("f8", 8),
}

_KEYS = {"imagine_raw_file", "width", "height", "num_layers", "format",
         "data_offset", "byte_order", "interleaving", "nodata_value"}


def parse_eir_header(text: str) -> dict:
    """EIR header text -> normalized dict.  Raises ValueError on
    malformed input (callers quarantine)."""
    out: dict = {"num_layers": 1, "data_offset": 0,
                 "byte_order": "LSB", "interleaving": "BIL",
                 "format": "U8"}
    seen = False
    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        parts = line.split(None, 1)
        if len(parts) != 2 or parts[0].lower() not in _KEYS:
            continue
        key, val = parts[0].lower(), parts[1].strip().strip('"')
        seen = True
        if key in ("width", "height", "num_layers", "data_offset"):
            out[key] = int(val)
        elif key == "nodata_value":
            out[key] = float(val)
        elif key in ("format", "byte_order", "interleaving"):
            out[key] = val.upper()
        else:
            out[key] = val
    if not seen or "width" not in out or "height" not in out:
        raise ValueError("erdas: missing WIDTH/HEIGHT header")
    if out["format"] not in _FORMATS:
        raise ValueError(f"erdas: unsupported FORMAT {out['format']}")
    if out["byte_order"] not in ("LSB", "MSB"):
        raise ValueError(f"erdas: bad BYTE_ORDER {out['byte_order']}")
    if out["interleaving"] not in ("BSQ", "BIL", "BIP"):
        raise ValueError(
            f"erdas: bad INTERLEAVING {out['interleaving']}")
    if out["width"] <= 0 or out["height"] <= 0 or out["num_layers"] <= 0:
        raise ValueError("erdas: non-positive dimensions")
    return out


def decode_erdas_raw(header: dict, data: bytes) -> np.ndarray:
    """(num_layers, height, width) float64 array from the companion
    blob.  Raises ValueError when the blob is too short."""
    w, h, nl = header["width"], header["height"], header["num_layers"]
    kind, size = _FORMATS[header["format"]]
    bo = "<" if header["byte_order"] == "LSB" else ">"
    off = header["data_offset"]
    need = off + w * h * nl * size
    if len(data) < need:
        raise ValueError(f"erdas: data file too short "
                         f"({len(data)} < {need})")
    arr = np.frombuffer(data, dtype=f"{bo}{kind}", count=w * h * nl,
                        offset=off)
    il = header["interleaving"]
    if il == "BSQ":                        # layer-major
        cube = arr.reshape(nl, h, w)
    elif il == "BIL":                      # row-major, layers inside
        cube = arr.reshape(h, nl, w).swapaxes(0, 1)
    else:                                  # BIP: pixel-interleaved
        cube = arr.reshape(h, w, nl).transpose(2, 0, 1)
    return np.ascontiguousarray(cube).astype(np.float64)


def read_erdas_pair(header_text: str, data: bytes,
                    dataset: str) -> list[tuple]:
    """BLOCK rows (one band per layer) from a header+data pair."""
    header = parse_eir_header(header_text)
    cube = decode_erdas_raw(header, data)
    nodata = float(header.get("nodata_value", float("nan")))
    return [row for band, plane in enumerate(cube, start=1)
            for row in cut_blocks(plane, dataset, None, band, nodata,
                                  4326)]


def blocks_from_erdas(spark: SparkSession, path: str) -> DataFrame:
    """Scan .raw headers (+ their companion data files) under ``path``
    into raster BLOCK rows.

    Plan: binaryFile scan, ONE shuffle grouping files by directory so
    each header meets its IMAGINE_RAW_FILE companion, then map-side
    decode.
    """
    import os

    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.session import ship_package
    ship_package(spark)

    raw = (spark.read.format("binaryFile").load(path)
           .select("path", "content")
           .withColumn("dir", F.regexp_replace(
               F.col("path"), r"/[^/]+$", "")))

    def per_dir(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in BLOCK_SCHEMA.split(", ")]
        files = {os.path.basename(str(p).removeprefix("file:")):
                 bytes(c) for p, c in zip(pdf["path"], pdf["content"])}
        rows = []
        for name, content in files.items():
            if not name.lower().endswith(".raw"):
                continue
            try:
                text = content.decode("ascii", "strict")
                header = parse_eir_header(text)
            except (ValueError, UnicodeDecodeError):
                continue                   # binary .raw / corrupt: skip
            data_name = header.get("imagine_raw_file")
            data = files.get(os.path.basename(data_name or ""))
            if data is None:
                continue                   # companion missing: skip
            try:
                rows += read_erdas_pair(text, data, name)
            except (ValueError, OverflowError):
                continue
        return pd.DataFrame(rows, columns=cols)

    grouped = raw.groupBy("dir").applyInPandas(
        lambda pdf: per_dir(pdf), BLOCK_SCHEMA)
    return grouped


def write_erdas_raw(dirpath: str, name: str, cube: np.ndarray,
                    fmt: str = "F32", byte_order: str = "LSB",
                    interleaving: str = "BSQ",
                    nodata: float | None = None) -> None:
    """Fixture writer: ``name.raw`` header + ``name.bl`` data blob."""
    import os

    os.makedirs(dirpath, exist_ok=True)
    nl, h, w = cube.shape
    kind, _size = _FORMATS[fmt]
    bo = "<" if byte_order == "LSB" else ">"
    if interleaving == "BSQ":
        flat = cube
    elif interleaving == "BIL":
        flat = cube.swapaxes(0, 1)
    else:
        flat = cube.transpose(1, 2, 0)
    data = np.ascontiguousarray(flat).astype(f"{bo}{kind}").tobytes()
    header = (f"IMAGINE_RAW_FILE {name}.bl\n"
              f"WIDTH {w}\nHEIGHT {h}\nNUM_LAYERS {nl}\n"
              f"FORMAT {fmt}\nDATA_OFFSET 0\n"
              f"BYTE_ORDER {byte_order}\n"
              f"INTERLEAVING {interleaving}\n")
    if nodata is not None:
        header += f"NODATA_VALUE {nodata}\n"
    with open(os.path.join(dirpath, f"{name}.raw"), "w") as f:
        f.write(header)
    with open(os.path.join(dirpath, f"{name}.bl"), "wb") as f:
        f.write(data)
