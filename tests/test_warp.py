"""WebMercatorQuad warp operator (T11 fidelity: the reference's
cog_translate tms warp, ref ingest/processing.py:497-506)."""

import math

import numpy as np
import pytest

from geohub_data_pipeline_spark.operators import warp as WP

_GEOREF_SCHEMA = ("dataset string, origin_x double, origin_y double, "
                  "pixel_sx double, pixel_sy double, georef_srid int")


def _global_deg_grid(spark, name="d", w=360, h=180):
    vals = np.tile(np.arange(w, dtype=float), (h, 1))
    rows = []
    for by in range((h + 255) // 256):
        for bx in range((w + 255) // 256):
            sub = vals[by * 256:(by + 1) * 256, bx * 256:(bx + 1) * 256]
            if sub.size == 0:
                continue
            rows.append((name, None, 1, 0, bx, by,
                         sub.shape[1], sub.shape[0],
                         sub.ravel().tolist(), float("nan"), 4326))
    blocks = spark.createDataFrame(rows, WP.WARPED_SCHEMA)
    georef = spark.createDataFrame(
        [(name, -180.0, 90.0, 1.0, 1.0, 4326)], _GEOREF_SCHEMA)
    return blocks, georef


def test_zoom_for_res():
    assert WP.zoom_for_res(WP.BASE_RES) == 0
    assert WP.zoom_for_res(WP.BASE_RES / 2) == 1
    assert WP.zoom_for_res(WP.BASE_RES / 2 + 1) == 1   # ceil rule
    assert WP.zoom_for_res(1e9) == 0
    assert WP.zoom_for_res(0.001) == 24                # clamp


def test_warp_global_4326_grid(spark):
    """1-degree global grid -> z5 mercator; sampled pixels match the
    closed-form nearest lookup; georef is the mercator origin."""
    blocks, georef = _global_deg_grid(spark)
    warped, gref = WP.warp_to_mercator(blocks, georef)
    out = warped.collect()
    g = gref.collect()[0]
    z = int(round(math.log2(WP.BASE_RES / g.pixel_sx)))
    assert z == 5
    assert len(out) == (1 << z) ** 2       # full globe, 32x32 tiles
    assert g.origin_x == pytest.approx(-WP.ORIGIN)
    assert g.origin_y == pytest.approx(WP.ORIGIN)
    assert g.georef_srid == 3857
    p = g.pixel_sx
    for r in out[:5]:
        arr = np.array(r.pixels).reshape(256, 256)
        assert r.srid == 3857 and r.width == 256
        for i, j in [(0, 0), (255, 255), (40, 200)]:
            X = -WP.ORIGIN + (r.block_x * 256 + j + 0.5) * p
            Y = WP.ORIGIN - (r.block_y * 256 + i + 0.5) * p
            lon = math.degrees(X / 6378137.0)
            lat = math.degrees(2 * math.atan(math.exp(Y / 6378137.0))
                               - math.pi / 2)
            col = math.floor(lon + 180.0)
            row = math.floor(90.0 - lat)
            if 0 <= col < 360 and 0 <= row < 180:
                assert arr[i, j] == float(col)
            else:
                assert math.isnan(arr[i, j])


def test_warp_regional_footprint_nodata(spark):
    """A small regional grid: pixels outside its footprint are
    nodata, inside are exact."""
    w = h = 64
    vals = (np.arange(h)[:, None] * 1000.0
            + np.arange(w)[None, :])
    blocks = spark.createDataFrame(
        [("r", None, 1, 0, 0, 0, w, h, vals.ravel().tolist(),
          -9999.0, 4326)], WP.WARPED_SCHEMA)
    georef = spark.createDataFrame(
        [("r", 10.0, 50.0, 0.01, 0.01, 4326)], _GEOREF_SCHEMA)
    warped, gref = WP.warp_to_mercator(blocks, georef)
    out = warped.collect()
    assert out                              # footprint covered
    g = gref.collect()[0]
    total = np.concatenate(
        [np.array(r.pixels) for r in out])
    inside = total[total != -9999.0]
    assert inside.size > 0
    # every inside value is a legal source value
    rowi, coli = np.divmod(inside.astype(np.int64), 1000)
    assert rowi.min() >= 0 and rowi.max() < h
    assert coli.min() >= 0 and coli.max() < w


def test_warp_3857_identity_grid(spark):
    """A source already on a zoom-aligned mercator grid warps to
    itself (separable fast path)."""
    z = 3
    p = WP.BASE_RES / (1 << z)
    vals = np.arange(256 * 256, dtype=float).reshape(256, 256)
    # source = exactly tile (2, 3) at zoom 3
    ox = -WP.ORIGIN + 2 * 256 * p
    oy = WP.ORIGIN - 3 * 256 * p
    blocks = spark.createDataFrame(
        [("m", None, 1, 0, 0, 0, 256, 256, vals.ravel().tolist(),
          float("nan"), 3857)], WP.WARPED_SCHEMA)
    georef = spark.createDataFrame(
        [("m", ox, oy, p, p, 3857)], _GEOREF_SCHEMA)
    warped, _ = WP.warp_to_mercator(blocks, georef)
    out = {(r.block_x, r.block_y): r for r in warped.collect()}
    assert (0, 0) in out
    arr = np.array(out[(0, 0)].pixels).reshape(256, 256)
    assert np.array_equal(arr, vals)        # bit-exact passthrough


def test_warp_feeds_cascade_and_cog(spark, tmp_path):
    """Warped blocks run the existing overview cascade + COG writer
    unchanged (the integration the CLI uses)."""
    from geohub_data_pipeline_spark.operators import cogwriter as W
    from geohub_data_pipeline_spark.operators import raster as R

    blocks, georef = _global_deg_grid(spark, w=360, h=180)
    warped, gref = WP.warp_to_mercator(blocks, georef)
    pyramid = R.overview_cascade(warped, 2)
    manifest = W.assemble_cog_tables(
        pyramid, str(tmp_path), georef=gref).collect()
    assert manifest and all(m.file_bytes > 0 for m in manifest)
    from geohub_data_pipeline_spark.operators.rasterprobe import (
        probe_geotiff,
    )
    probe = probe_geotiff(open(manifest[0].path, "rb").read())
    assert probe["epsg"] == 3857
    assert probe["n_overviews"] == 2


def test_warp_utm_source_vectorized(spark):
    """Projected (UTM) source goes through the vectorized TM path;
    warped values must be legal source values and cover the
    footprint densely."""
    from geohub_data_pipeline_spark.operators import crs as C

    assert C.from_lonlat(32633) is not None
    w = h = 128
    vals = (np.arange(h)[:, None] * 1000.0 + np.arange(w)[None, :])
    # 100 m pixels starting at a round UTM33 coordinate (lon ~15E)
    blocks = spark.createDataFrame(
        [("u", None, 1, 0, 0, 0, w, h, vals.ravel().tolist(),
          -1.0, 32633)], WP.WARPED_SCHEMA)
    georef = spark.createDataFrame(
        [("u", 400000.0, 5300000.0, 100.0, 100.0, 32633)],
        _GEOREF_SCHEMA)
    warped, gref = WP.warp_to_mercator(blocks, georef)
    out = warped.collect()
    assert out
    g = gref.collect()[0]
    assert g.georef_srid == 3857
    total = np.concatenate([np.array(r.pixels) for r in out])
    inside = total[total != -1.0]
    assert inside.size > 1000
    rowi, coli = np.divmod(inside.astype(np.int64), 1000)
    assert rowi.min() >= 0 and rowi.max() < h
    assert coli.min() >= 0 and coli.max() < w
    # spot-check one warped pixel against the transform on one point
    r0 = next(r for r in out
              if not np.all(np.array(r.pixels) == -1.0))
    arr = np.array(r0.pixels).reshape(256, 256)
    i, j = np.argwhere(arr != -1.0)[0]
    mins = min(r.block_x for r in out), min(r.block_y for r in out)
    # absolute tile index before rebase
    z = int(round(math.log2(WP.BASE_RES / g.pixel_sx)))
    abx = r0.block_x + int((g.origin_x + WP.ORIGIN)
                           / (256 * g.pixel_sx) + 0.5)
    aby = r0.block_y + int((WP.ORIGIN - g.origin_y)
                           / (256 * g.pixel_sx) + 0.5)
    X = -WP.ORIGIN + (abx * 256 + j + 0.5) * g.pixel_sx
    Y = WP.ORIGIN - (aby * 256 + i + 0.5) * g.pixel_sx
    lon = math.degrees(X / 6378137.0)
    lat = math.degrees(2 * math.atan(math.exp(Y / 6378137.0))
                       - math.pi / 2)
    sx, sy = C.from_lonlat(32633)(lon, lat)
    col = math.floor((sx - 400000.0) / 100.0)
    row = math.floor((5300000.0 - sy) / 100.0)
    assert arr[i, j] == float(row * 1000 + col)
