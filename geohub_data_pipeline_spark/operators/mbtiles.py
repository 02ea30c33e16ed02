"""MBTiles archive sink/source — stdlib sqlite3 (MBTiles 1.3 spec).

MBTiles is in the reference's accepted upload list
(ref ingest/config.py:58 docstring registry); GDAL/tippecanoe treat
it as the SQLite twin of PMTiles.  Per the spec an MBTiles file is a
SQLite database with:

* ``metadata(name, value)`` — name/format/bounds/min-maxzoom rows,
* ``tiles(zoom_level, tile_column, tile_row, tile_data)`` — tile_row
  in TMS scheme (y flipped vs the slippy/XYZ rows the engine's
  ``build_tiles`` emits: ``tms_y = 2^z - 1 - y``).

``write_mbtiles_tables`` mirrors ``write_pmtiles_tables``: one
archive per dataset from a build_tiles output DataFrame, written
inside ``applyInPandas`` (one file = one task), returning a manifest
DataFrame.  ``read_mbtiles`` inverts the flip so round-trips are
identity on (z, x, y).
"""

from __future__ import annotations

import os
import sqlite3
import tempfile

import pandas as pd

MANIFEST_SCHEMA = ("dataset string, path string, n_tiles long, "
                   "min_zoom int, max_zoom int, file_bytes long")


def write_mbtiles(path: str, tiles: list[tuple[int, int, int, bytes]],
                  metadata: dict[str, str]) -> int:
    """Write (z, x, y, payload) XYZ tiles + metadata; returns bytes."""
    if os.path.exists(path):
        os.unlink(path)
    con = sqlite3.connect(path)
    try:
        con.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        con.execute(
            "CREATE TABLE tiles (zoom_level INTEGER, tile_column "
            "INTEGER, tile_row INTEGER, tile_data BLOB)")
        con.execute(
            "CREATE UNIQUE INDEX tile_index ON tiles "
            "(zoom_level, tile_column, tile_row)")
        for k, v in sorted(metadata.items()):
            con.execute("INSERT INTO metadata VALUES (?, ?)",
                        (str(k), str(v)))
        for z, x, y, payload in tiles:
            tms_y = (1 << z) - 1 - y       # XYZ -> TMS row flip
            con.execute("INSERT INTO tiles VALUES (?, ?, ?, ?)",
                        (int(z), int(x), tms_y, payload))
        con.commit()
    finally:
        con.close()
    return os.path.getsize(path)


def read_mbtiles(path: str):
    """(metadata dict, [(z, x, y, payload)] in XYZ rows)."""
    con = sqlite3.connect(path)
    try:
        meta = {str(k): str(v) for k, v in
                con.execute("SELECT name, value FROM metadata")}
        tiles = []
        for z, x, tms_y, data in con.execute(
                "SELECT zoom_level, tile_column, tile_row, tile_data "
                "FROM tiles ORDER BY zoom_level, tile_column, tile_row"):
            y = (1 << int(z)) - 1 - int(tms_y)
            tiles.append((int(z), int(x), y, bytes(data)))
        return meta, tiles
    finally:
        con.close()


def write_mbtiles_tables(tiles_df, dst_dir: str):
    """One .mbtiles per dataset from a ``build_tiles`` output
    DataFrame; per-layer payloads of the same (z, x, y) concatenate
    (valid for MVT — a Tile is repeated Layer messages).  Returns a
    manifest DataFrame."""
    import pandas as pd

    from geohub_data_pipeline_spark.session import ship_package

    ship_package(tiles_df.sparkSession)
    if "dataset" not in tiles_df.columns:
        from pyspark.sql import functions as F
        tiles_df = tiles_df.withColumn("dataset", F.lit("tiles"))

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        dataset = str(pdf["dataset"].iloc[0])
        per_tile: dict[tuple[int, int, int], bytes] = {}
        for r in pdf.itertuples(index=False):
            key = (int(r.z), int(r.x), int(r.y))
            per_tile[key] = per_tile.get(key, b"") + bytes(r.payload)
        zs = [z for z, _, _ in per_tile]
        meta = {
            "name": dataset,
            "format": "pbf",
            "minzoom": str(min(zs)),
            "maxzoom": str(max(zs)),
            # NOTE: no "scheme" metadata row — MBTiles 1.3 defines
            # tile_row as TMS already; tippecanoe/gdal omit the key,
            # and TileJSON-derived readers that honour a scheme key
            # would double-flip rows if it were present.
        }
        from urllib.parse import quote
        # percent-encode so a dataset name carrying '/' or '..'
        # can't escape dst_dir (the artifact_stem convention)
        path = os.path.join(dst_dir, quote(dataset, safe="") + ".mbtiles")
        os.makedirs(dst_dir, exist_ok=True)
        nbytes = write_mbtiles(
            path, [(z, x, y, p) for (z, x, y), p in per_tile.items()],
            meta)
        return pd.DataFrame([{
            "dataset": dataset, "path": path,
            "n_tiles": len(per_tile),
            "min_zoom": min(zs), "max_zoom": max(zs),
            "file_bytes": nbytes,
        }])

    return tiles_df.groupBy("dataset").applyInPandas(
        write_group, MANIFEST_SCHEMA)


def _read_mbtiles_bytes(payload: bytes):
    """``read_mbtiles`` over an in-memory archive (SQLite opens files
    only, so the bytes go through a temp file)."""
    fd, tmp = tempfile.mkstemp(suffix=".mbtiles")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(payload)
        return read_mbtiles(tmp)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def mbtiles_tile_rows(payload: bytes, dataset: str) -> list[tuple]:
    stem = os.path.splitext(dataset)[0]
    try:
        meta, tiles = _read_mbtiles_bytes(payload)
    except (sqlite3.Error, ValueError, OSError):
        # corrupt ARCHIVE: auditable quarantine row (z/x/y=-1,
        # n_features=-1) — never silently fewer tiles downstream
        return [(dataset, stem, -1, -1, -1, b"", -1)]
    layer = meta.get("name") or stem
    return [(dataset, layer, z, x, y, tile, 0) for z, x, y, tile in tiles]


def tiles_from_mbtiles(spark, path: str):
    """Scan ``.mbtiles`` files under ``path`` into the engine's tile
    rows (dataset, layer, z, x, y in XYZ, payload) — the input half
    of MBTiles -> PMTiles conversion (the reference allowlists
    .mbtiles uploads, ref ingest/config.py format docstring).

    Scale: one archive = one task (SQLite is a single-file container);
    files parallelize across the binaryFile scan.
    """
    from geohub_data_pipeline_spark.sources.files import scan_files

    return scan_files(
        spark, path,
        "dataset string, layer string, z int, x int, y int, "
        "payload binary, n_features long", mbtiles_tile_rows, ())


def mbtiles_block_rows(payload: bytes, dataset: str) -> list[tuple]:
    import numpy as np

    from geohub_data_pipeline_spark.functions import jpegcodec as J
    from geohub_data_pipeline_spark.operators.multimodal import (
        PNG_MAGIC,
        decode_png_gray8,
    )

    stem = os.path.splitext(dataset)[0]
    try:
        meta, tiles = _read_mbtiles_bytes(payload)
    except (sqlite3.Error, ValueError, OSError):
        # corrupt ARCHIVE: one auditable quarantine row (band=-1,
        # level=-1, payload size as width) — never a silently shrunk
        # raster set
        return [(dataset, stem, -1, -1, -1, -1, len(payload), 0, [],
                 None, 3857)]
    layer = meta.get("name") or stem
    maxzoom = max((z for z, _x, _y, _pl in tiles), default=0)
    rows = []
    for z, x, y, tile in tiles:
        try:
            if tile[:8] == PNG_MAGIC:
                bands = [decode_png_gray8(tile)]
            elif tile[:2] == b"\xff\xd8":
                img = J.decode_baseline_jpeg(tile)
                bands = ([img] if img.ndim == 2 else
                         [img[:, :, b] for b in range(img.shape[2])])
            else:
                raise ValueError("unknown tile payload")
        except Exception:
            # quarantine THIS tile, loudly auditable
            rows.append((dataset, layer, -1, maxzoom - z, x, y,
                         len(tile), 0, [], None, 3857))
            continue
        for b, px in enumerate(bands, start=1):
            rows.append((
                dataset, layer, b, maxzoom - z, x, y,
                int(px.shape[1]), int(px.shape[0]),
                px.astype(np.float64).ravel().tolist(), None, 3857))
    return rows


def mbtiles_raster_blocks(spark, path: str):
    """RASTER-tile MBTiles input (reference capability: GDAL reads an
    MBTiles of PNG/JPEG tiles as a raster; the reference's accepted
    upload registry names MBTiles, ref ingest/config.py:42-66 — the
    vector route above only covers MVT payloads).

    Each (z, x, y) tile payload is sniffed by magic and decoded with
    the repo's stdlib codecs — PNG (8-bit grayscale, full spec §9
    defilter; operators/multimodal._defilter_gray8) or baseline JPEG
    (stdlib Huffman+IDCT, functions/jpegcodec.py) — into the engine's
    BLOCK model (operators/raster.BLOCK_SCHEMA): the absolute XYZ
    tile indices ARE the WebMercatorQuad block grid of zoom z (the
    same georef math operators/warp.py uses), ``level = maxzoom - z``
    (overview-cascade convention: level 0 = base resolution), srid
    3857.  An RGB JPEG emits one row per band.  An undecodable
    payload quarantines THAT tile (dataset row with band = -1 and the
    payload size as width, so the drop is auditable) — never a dead
    task, never a silently shrunk raster.

    Scale: one archive = one task (SQLite is a single-file
    container); archives parallelize across the binaryFile scan; the
    decode is map-side Arrow batches and pixel rows never shuffle
    here — downstream consumers (overview cascade, COG assembly)
    shuffle on the block key exactly as for any other raster source.
    """
    from geohub_data_pipeline_spark.operators.raster import BLOCK_SCHEMA
    from geohub_data_pipeline_spark.sources.files import scan_files

    return scan_files(spark, path, BLOCK_SCHEMA, mbtiles_block_rows, ())
