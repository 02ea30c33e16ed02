"""Raster warp onto the WebMercatorQuad grid (T11 fidelity).

The reference's COG stage does not just tag EPSG:3857 — it WARPS:
``cog_translate(..., tms=morecantile.tms.get("WebMercatorQuad"),
resampling="nearest")`` reprojects every raster onto web-mercator at
a zoom-aligned resolution (ref ingest/processing.py:497-506).  This
module is that step as a Spark operator.

Grid model (the public WebMercatorQuad TMS definition): origin at
(-20037508.342789244, +20037508.342789244), zoom-z resolution
``156543.033928041 / 2^z`` m/px, 256-px tiles.  The output zoom is
the smallest z whose resolution does not exceed the source's (the
same "preserve source detail" rule cog_translate applies).

Plan shape (scale-first):

1. map-side: every level-0 input block computes its mercator
   footprint and replicates itself to the target tiles it covers —
   a small constant fan-out (<=4 for resolution-matched grids), the
   same I/O amplification any warp pays;
2. ONE shuffle keyed on (dataset, subdataset, band, tile) — the
   partitioning COG assembly wants anyway;
3. per-tile ``applyInPandas``: vectorized inverse projection of the
   256x256 target pixel centers into the source grid, nearest
   lookup.  Geographic/mercator sources use a separable fast path
   (lon depends only on column, lat only on row -> two 1-D arrays);
   projected sources go through the closed-form CRS kernels.

The result is a standard BLOCK_SCHEMA level-0 DataFrame in
EPSG:3857 plus a ``warp_georef`` helper for the COG writer, so the
existing overview cascade and writer run unchanged downstream.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

ORIGIN = 20037508.342789244
BASE_RES = 2 * ORIGIN / 256          # 156543.033928041 m/px at z0
_R = 6378137.0
_M_PER_DEG = 111319.49079327358      # equatorial meters per degree
BLOCK = 256

WARPED_SCHEMA = (
    "dataset string, subdataset string, band int, level int, "
    "block_x int, block_y int, width int, height int, "
    "pixels array<double>, nodata double, srid int"
)


def zoom_for_res(res_m: float, max_zoom: int = 24) -> int:
    """Smallest WebMercatorQuad zoom whose resolution <= ``res_m``
    (cog_translate's detail-preserving rule)."""
    if res_m <= 0 or not math.isfinite(res_m):
        return 0
    if res_m >= BASE_RES:
        return 0
    # 1e-9 guard: an exactly zoom-aligned source (res = BASE_RES/2^z)
    # must select z, not z+1 (log2 of an exact power of two can land
    # epsilon above the integer)
    z = math.ceil(math.log2(BASE_RES / res_m) - 1e-9)
    return min(max(z, 0), max_zoom)


def _res_m(pixel_sx: float, origin_y: float, srid: int) -> float:
    """Source resolution in meters/pixel (geographic grids scale by
    the cosine of the top latitude — the conservative choice keeps
    detail at the dataset's densest row)."""
    if srid == 4326:
        lat = max(-85.0, min(85.0, origin_y))
        return abs(pixel_sx) * _M_PER_DEG * math.cos(math.radians(lat))
    return abs(pixel_sx)


def _merc_xy_from_lonlat(lon: float, lat: float) -> tuple[float, float]:
    lat = max(-85.051128779807, min(85.051128779807, lat))
    return (_R * math.radians(lon),
            _R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)))


def _lonlat_bbox_projected(inv, x0, y0, x1, y1):
    """Lon/lat bbox of a projected-CRS rectangle, sampled at the four
    corners plus edge midpoints and center.  Under grid convergence
    (UTM off the central meridian, Krovak, HOM...) the lon/lat
    extremes need not sit on the diagonal corners, so a two-corner
    bound under-covers and drops tiles the block intersects.  The
    nine samples go through the kernel in one call."""
    xs = np.array([x0, (x0 + x1) / 2.0, x1], np.float64)
    ys = np.array([y0, (y0 + y1) / 2.0, y1], np.float64)
    lons, lats = inv(np.repeat(xs, 3), np.tile(ys, 3))
    lons, lats = lons.tolist(), lats.tolist()
    return min(lons), min(lats), max(lons), max(lats)


def warp_tile_array(tbx: int, tby: int, z: int, srid: int,
                    ox: float, oy: float, psx: float, psy: float,
                    blocks: list[tuple], nodata: float) -> np.ndarray:
    """Pure per-tile warp kernel (shared by the Spark group kernel
    and the oracle gate): nearest-resample one 256x256 target tile
    at (tbx, tby, z) from source blocks
    ``[(block_x, block_y, width, height, ndarray), ...]``."""
    p = BASE_RES / (1 << z)
    jj = np.arange(BLOCK)
    ii = np.arange(BLOCK)
    X = -ORIGIN + (tbx * BLOCK + jj + 0.5) * p
    Y = ORIGIN - (tby * BLOCK + ii + 0.5) * p
    if srid == 3857:
        col = np.floor((X - ox) / psx).astype(np.int64)  # separable
        row = np.floor((oy - Y) / psy).astype(np.int64)
        col2 = np.broadcast_to(col, (BLOCK, BLOCK))
        row2 = np.broadcast_to(row[:, None], (BLOCK, BLOCK))
    elif srid == 4326:
        lon = np.degrees(X / _R)
        lat = np.degrees(2 * np.arctan(np.exp(Y / _R)) - np.pi / 2)
        col = np.floor((lon - ox) / psx).astype(np.int64)
        row = np.floor((oy - lat) / psy).astype(np.int64)
        col2 = np.broadcast_to(col, (BLOCK, BLOCK))
        row2 = np.broadcast_to(row[:, None], (BLOCK, BLOCK))
    else:
        from geohub_data_pipeline_spark.operators import crs as C
        lon = np.degrees(X / _R)
        lat = np.degrees(2 * np.arctan(np.exp(Y / _R)) - np.pi / 2)
        sx, sy = C.from_lonlat(srid)(*np.meshgrid(lon, lat))
        col2 = np.floor((sx - ox) / psx).astype(np.int64)
        row2 = np.floor((oy - sy) / psy).astype(np.int64)

    out = np.full((BLOCK, BLOCK), nodata, np.float64)
    for bx, by, bw, bh, pixels in blocks:
        bx0, by0 = bx * BLOCK, by * BLOCK
        mask = ((col2 >= bx0) & (col2 < bx0 + bw)
                & (row2 >= by0) & (row2 < by0 + bh))
        if not mask.any():
            continue
        arr = pixels.reshape(bh, bw)
        out[mask] = arr[row2[mask] - by0, col2[mask] - bx0]
    return out


def warp_blocks_to_mercator(blocks: DataFrame, georef: DataFrame,
                            max_zoom: int = 24) -> DataFrame:
    """Level-0 BLOCK rows + GEOREF sidecar -> level-0 BLOCK rows on
    the WebMercatorQuad grid (absolute tile indices; srid 3857).
    Pixels outside the source footprint are nodata."""
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(blocks.sparkSession)

    src = (blocks.filter(F.col("level") == 0)
           .join(broadcast(georef.dropDuplicates(["dataset"])),
                 "dataset", "inner"))

    fan_schema = (WARPED_SCHEMA
                  + ", tbx int, tby int, zoom int, origin_x double, "
                    "origin_y double, pixel_sx double, pixel_sy double, "
                    "georef_srid int")

    def fan_out(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                srid = int(r.georef_srid)
                z = zoom_for_res(
                    _res_m(float(r.pixel_sx), float(r.origin_y), srid),
                    max_zoom)
                p = BASE_RES / (1 << z)
                # source-grid bbox of this block
                x0 = r.origin_x + r.block_x * BLOCK * r.pixel_sx
                x1 = x0 + r.width * r.pixel_sx
                y1 = r.origin_y - r.block_y * BLOCK * abs(r.pixel_sy)
                y0 = y1 - r.height * abs(r.pixel_sy)
                if srid == 4326:
                    mx0, my0 = _merc_xy_from_lonlat(x0, y0)
                    mx1, my1 = _merc_xy_from_lonlat(x1, y1)
                elif srid == 3857:
                    mx0, my0, mx1, my1 = x0, y0, x1, y1
                else:
                    from geohub_data_pipeline_spark.operators import (
                        crs as C,
                    )
                    inv = C.to_lonlat(srid)
                    if inv is None:
                        continue           # unwarpable CRS: drop+audit
                    # one-pixel pad absorbs edge curvature between
                    # the 3x3 sample points
                    px, py = abs(r.pixel_sx), abs(r.pixel_sy)
                    lo0, la0, lo1, la1 = _lonlat_bbox_projected(
                        inv, x0 - px, y0 - py, x1 + px, y1 + py)
                    mx0, my0 = _merc_xy_from_lonlat(lo0, la0)
                    mx1, my1 = _merc_xy_from_lonlat(lo1, la1)
                # inward epsilon (in tile units): a bbox edge exactly
                # on a tile boundary must not pull in the empty
                # neighbor, nor lose the boundary tile to float noise
                eps = 1e-9
                tbx0 = math.floor((mx0 + ORIGIN) / (BLOCK * p) + eps)
                tbx1 = math.ceil((mx1 + ORIGIN) / (BLOCK * p) - eps) - 1
                tby0 = math.floor((ORIGIN - my1) / (BLOCK * p) + eps)
                tby1 = math.ceil((ORIGIN - my0) / (BLOCK * p) - eps) - 1
                lim = (1 << z)  # tiles per axis at z... in 256-px units
                for tbx in range(max(tbx0, 0), min(tbx1, lim - 1) + 1):
                    for tby in range(max(tby0, 0),
                                     min(tby1, lim - 1) + 1):
                        out.append((r.dataset, r.subdataset, int(r.band),
                                    0, int(r.block_x), int(r.block_y),
                                    int(r.width), int(r.height),
                                    list(r.pixels), r.nodata,
                                    srid, tbx, tby, z,
                                    float(r.origin_x), float(r.origin_y),
                                    float(r.pixel_sx), float(r.pixel_sy),
                                    srid))
            yield pd.DataFrame(out, columns=[
                "dataset", "subdataset", "band", "level", "block_x",
                "block_y", "width", "height", "pixels", "nodata",
                "srid", "tbx", "tby", "zoom", "origin_x", "origin_y",
                "pixel_sx", "pixel_sy", "georef_srid"])

    fanned = src.mapInPandas(fan_out, fan_schema)

    def warp_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        r0 = pdf.iloc[0]
        z = int(r0["zoom"])
        nodata = float(r0["nodata"]) if pd.notna(r0["nodata"]) \
            else float("nan")
        out = warp_tile_array(
            int(r0["tbx"]), int(r0["tby"]), z, int(r0["georef_srid"]),
            float(r0["origin_x"]), float(r0["origin_y"]),
            float(r0["pixel_sx"]), abs(float(r0["pixel_sy"])),
            [(int(b.block_x), int(b.block_y), int(b.width),
              int(b.height), np.asarray(b.pixels, np.float64))
             for b in pdf.itertuples(index=False)],
            nodata)
        tbx, tby = int(r0["tbx"]), int(r0["tby"])

        return pd.DataFrame([{
            "dataset": r0["dataset"], "subdataset": r0["subdataset"],
            "band": int(r0["band"]), "level": 0,
            "block_x": tbx, "block_y": tby,
            "width": BLOCK, "height": BLOCK,
            "pixels": out.ravel().tolist(),
            "nodata": r0["nodata"], "srid": 3857, "zoom": z}])

    return fanned.groupBy(
        "dataset", "subdataset", "band", "tbx", "tby").applyInPandas(
        warp_tile, WARPED_SCHEMA + ", zoom int")


def _tile_mins(blocks: DataFrame, georef: DataFrame,
               max_zoom: int) -> DataFrame:
    """Per-(dataset, subdataset) minimum covered tile + zoom,
    computed from block METADATA only (column pruning keeps the pixel
    arrays out of this pass entirely — the frame is a few ints per
    block).  Runs the exact fan-out corner math, so the minimum
    matches ``warp_blocks_to_mercator``'s tiles for any CRS."""
    meta = (blocks.filter(F.col("level") == 0)
            .select("dataset", "subdataset", "block_x", "block_y",
                    "width", "height")
            .join(broadcast(georef.dropDuplicates(["dataset"])),
                  "dataset", "inner"))

    def kernel(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                srid = int(r.georef_srid)
                z = zoom_for_res(
                    _res_m(float(r.pixel_sx), float(r.origin_y), srid),
                    max_zoom)
                p = BASE_RES / (1 << z)
                x0 = r.origin_x + r.block_x * BLOCK * r.pixel_sx
                x1 = x0 + r.width * r.pixel_sx
                y1 = r.origin_y - r.block_y * BLOCK * abs(r.pixel_sy)
                y0 = y1 - r.height * abs(r.pixel_sy)
                if srid == 4326:
                    mx0, my0 = _merc_xy_from_lonlat(x0, y0)
                    # the minimum tile ROW comes from the bbox TOP
                    _, my1 = _merc_xy_from_lonlat(x0, y1)
                elif srid == 3857:
                    mx0, my0 = x0, y0
                    my1 = y1
                else:
                    from geohub_data_pipeline_spark.operators import (
                        crs as C,
                    )
                    inv = C.to_lonlat(srid)
                    if inv is None:
                        continue
                    # EXACT fan_out math (3x3 samples + 1-px pad) so
                    # the minimum matches the warped tiles
                    px, py = abs(r.pixel_sx), abs(r.pixel_sy)
                    lo0, la0, lo1, la1 = _lonlat_bbox_projected(
                        inv, x0 - px, y0 - py, x1 + px, y1 + py)
                    mx0, my0 = _merc_xy_from_lonlat(lo0, la0)
                    my1 = _merc_xy_from_lonlat(lo1, la1)[1]
                eps = 1e-9
                tbx0 = math.floor((mx0 + ORIGIN) / (BLOCK * p) + eps)
                tby0 = math.floor((ORIGIN - my1) / (BLOCK * p) + eps)
                out.append((r.dataset, r.subdataset, max(tbx0, 0),
                            max(tby0, 0), z))
            yield pd.DataFrame(out, columns=[
                "dataset", "subdataset", "tbx0", "tby0", "zoom"])

    per_block = meta.mapInPandas(
        kernel, "dataset string, subdataset string, tbx0 int, "
                "tby0 int, zoom int")
    return (per_block.groupBy("dataset", "subdataset")
            .agg(F.min("tbx0").alias("_minx"),
                 F.min("tby0").alias("_miny"),
                 F.max("zoom").alias("_z")))


def rebase_warped(warped: DataFrame, mins: DataFrame) -> DataFrame:
    """Shift absolute tile indices to a 0-based block grid per
    (dataset, subdataset) using the metadata-derived minimums —
    ONE pass over the warped pixel rows, no cache/recompute."""
    mins = mins.withColumnsRenamed({"dataset": "_d",
                                    "subdataset": "_s"})
    # null-safe keys: subdataset is NULL for single-dataset rasters
    cond = (warped["dataset"].eqNullSafe(mins["_d"])
            & warped["subdataset"].eqNullSafe(mins["_s"]))
    return (warped.join(broadcast(mins), cond)
            .withColumn("block_x", F.col("block_x") - F.col("_minx"))
            .withColumn("block_y", F.col("block_y") - F.col("_miny"))
            .drop("_d", "_s", "_minx", "_miny", "_z"))


def warp_georef(mins: DataFrame) -> DataFrame:
    """GEOREF sidecar (operators/raster.py schema) from the
    metadata-derived per-dataset minimum tile + zoom."""
    agg = (mins.groupBy("dataset")
           .agg(F.min("_minx").alias("minx"),
                F.min("_miny").alias("miny"),
                F.max("_z").alias("z")))
    p = BASE_RES / F.pow(F.lit(2.0), F.col("z"))
    return agg.select(
        "dataset",
        (F.lit(-ORIGIN) + F.col("minx") * BLOCK * p).alias("origin_x"),
        (F.lit(ORIGIN) - F.col("miny") * BLOCK * p).alias("origin_y"),
        p.alias("pixel_sx"), p.alias("pixel_sy"),
        F.lit(3857).alias("georef_srid"))


def warp_to_mercator(blocks: DataFrame, georef: DataFrame,
                     max_zoom: int = 24):
    """One-call T11 warp stage: returns (rebased blocks ready for
    ``overview_cascade``/``assemble_cog_tables``, new georef).

    The rebase offsets and output georef come from a metadata-only
    pass (``_tile_mins`` — pixels pruned), so the heavy warped frame
    is consumed exactly once, uncached: at 100 TB, caching pixel rows
    would be the memory bomb, and recomputing the warp the CPU one."""
    mins = _tile_mins(blocks, georef, max_zoom)
    warped = warp_blocks_to_mercator(blocks, georef, max_zoom)
    return rebase_warped(warped, mins).drop("zoom"), warp_georef(mins)
