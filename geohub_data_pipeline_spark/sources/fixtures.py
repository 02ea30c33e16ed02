"""Deterministic pipeline-domain fixture generators (FIXTURES.md §B).

Synthetic tables modeling the reference's inputs — ingest messages,
vector features, raster blocks, cancel messages — with the exact
defect mix FIXTURES.md prescribes (malformed messages, invalid
bowties, NULL geometries, NULL-srid layers, ragged raster edges, RGB
vs greyscale datasets).  Everything is a pure function of the row
index (no RNG): identical on every run and engine.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.operators import geometry as G
from geohub_data_pipeline_spark.operators.raster import BLOCK

_EXTS = (".gpkg", ".zip", ".tif", ".geojson")


def ingest_messages(spark: SparkSession, n: int = 200) -> DataFrame:
    """Work-item stream: ~10% not under /raw/ (T4), ~5% .pmtiles
    passthrough (T5), ~2% malformed (dead-letter)."""
    rows = []
    for i in range(n):
        if i % 50 == 49:                        # ~2% malformed
            body = f"not-a-message-{i}"
        else:
            user = f"user{i % 10}"
            folder = "staging" if i % 10 == 3 else "raw"   # ~10% non-raw
            ext = ".pmtiles" if i % 20 == 7 else _EXTS[i % 4]  # ~5% pmtiles
            url = (f"https://acct.blob.core.windows.net/userdata/{user}/"
                   f"{folder}/upload_{i}{ext}")
            token = hashlib.md5(f"tok{i}".encode()).hexdigest()
            join = "true" if i % 2 == 0 else "false"
            body = f"{url};{token};join_vector_tiles={join}"
        rows.append((i, body, f"2024-01-01T{i % 24:02d}:{i % 60:02d}:00"))
    return spark.createDataFrame(
        rows, "msg_id long, body string, enqueued_ts string")


def vector_features(spark: SparkSession, n_per_layer: int = 40) -> DataFrame:
    """Features across datasets/layers with the §B defect mix:
    Point/Line/Polygon + Multi*, ~3% bowties, ~1% NULL geometry,
    srid mix (4326/3857/32633 native + 29101 unsupported) and one
    NULL-srid layer."""
    from geohub_data_pipeline_spark.operators import crs as C

    utm33 = C.from_lonlat(32633)
    rows = []
    fid = 0
    layers = [
        ("d1", "points", 4326), ("d1", "lines", 4326),
        ("d1", "polys", 4326), ("d2", "merc", 3857),
        ("d2", "utm", 32633), ("d2", "unsupp", 29101),
        ("d2", "nosrid", None),
    ]
    for dataset, layer, srid in layers:
        for i in range(n_per_layer):
            fid += 1
            lon = -170.0 + (i * 8.31) % 340.0
            lat = -80.0 + (i * 5.07) % 160.0
            if srid == 3857:
                x, y = G.lonlat_to_mercator(lon, lat)
            elif srid == 32633:
                # genuine zone-33 coordinates (lon 12..18, lat 0..72)
                lon = 12.0 + (i * 0.73) % 6.0
                lat = (i * 4.1) % 72.0
                x, y = utm33(lon, lat)
            else:
                x, y = lon, lat
            if fid % 97 == 0:                      # ~1% NULL geometry
                wkb = None
            elif layer == "polys" and i % 33 == 5:  # ~3% bowties
                wkb = G.wkb_polygon([[(x, y), (x + 1, y + 1), (x + 1, y),
                                      (x, y + 1), (x, y)]])
            elif layer == "points" or layer in ("merc", "utm", "unsupp",
                                                "nosrid"):
                wkb = G.wkb_point(x, y)
            elif layer == "lines":
                wkb = G.wkb_linestring([(x, y), (x + 0.5, y + 0.25),
                                        (x + 1.0, y)])
            else:
                wkb = G.wkb_polygon([[(x, y), (x + 0.5, y), (x + 0.5, y + 0.5),
                                      (x, y + 0.5), (x, y)]])
            rows.append((dataset, layer, fid, wkb, srid,
                         f"feat_{fid}", ("a", "b", "c")[i % 3],
                         1000 + i * 37, float(i) * 1.5))
    return spark.createDataFrame(
        rows, "dataset string, layer string, fid long, geometry binary, "
              "srid int, name string, category string, population long, "
              "area_km2 double")


def raster_blocks(spark: SparkSession) -> DataFrame:
    """Raster blocks per §B: an RGB dataset (colorinterp 3/4/5), a
    greyscale dataset, a NetCDF-style subdataset, ragged edges."""
    rows = []

    def add(dataset, subdataset, band, colorinterp, grid_w, grid_h,
            full_w, full_h, srid):
        for by in range(grid_h):
            for bx in range(grid_w):
                w = min(BLOCK, full_w - bx * BLOCK)
                h = min(BLOCK, full_h - by * BLOCK)
                px = [float((band * 7 + by * BLOCK + yy) % 251)
                      for yy in range(h) for xx in range(w)]
                rows.append((dataset, subdataset, band, colorinterp,
                             bx, by, w, h, px, None, srid))

    for band, ci in ((1, 3), (2, 4), (3, 5)):          # RGB dataset
        add("rgb.tif", None, band, ci, 2, 2, 2 * BLOCK - 32, 2 * BLOCK - 64,
            3857)
    add("grey.tif", None, 1, 1, 2, 1, 2 * BLOCK, BLOCK, 4326)
    add("climate.nc", "NETCDF:climate.nc:temp", 1, 1, 1, 1, BLOCK, BLOCK,
        4326)
    return spark.createDataFrame(
        rows, "dataset string, subdataset string, band int, colorinterp int, "
              "block_x int, block_y int, width int, height int, "
              "pixels array<double>, nodata double, srid int")


def cancel_messages(spark: SparkSession,
                    messages: DataFrame) -> DataFrame:
    """Cancel stream targeting every 25th raw upload of the message set."""
    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.streaming.service import parse_messages

    parsed = (
        parse_messages(messages)
        .filter(~F.col("malformed") & F.col("blob_url").contains("/raw/"))
        .join(messages.select("msg_id", "enqueued_ts"), "msg_id")
    )
    targets = parsed.filter(F.col("msg_id") % 25 == 0)
    return targets.select(
        F.regexp_extract("blob_url", r"userdata/([^/]+)/", 1).alias("user"),
        F.col("blob_url").alias("url"),
        F.lit(True).alias("cancel"),
        F.col("enqueued_ts").alias("sent_ts"),
    )


# ---------------------------------------------------------------------------
# HFA (.img) fixture bytes — spec-conformant writer used by tests AND
# the hfa_source gate query (independently-constructed input for
# sources/hfa.py; layout per the public HFA whitepaper)
# ---------------------------------------------------------------------------

_HFA_DICT = (
    "{1:lwidth,1:lheight,"
    "1:e3:thematic,athematic,fft of real-valued data,layerType,"
    "1:e13:u1,u2,u4,u8,s8,u16,s16,u32,s32,f32,f64,c64,c128,pixelType,"
    "1:lblockWidth,1:lblockHeight,}Eimg_Layer,"
    "{1:lnumvirtualblocks,1:lnumobjectsperblock,1:lnextobjectnum,"
    "1:e2:no compression,ESRI GRID compression,compressionType,"
    "0:poEdms_VirtualBlockInfo,blockinfo,0:pcfreelist,1:tmodTime,}"
    "Edms_State,"
    "{1:SfileCode,1:Loffset,1:lsize,1:e2:false,true,logvalid,"
    "1:e2:no compression,ESRI GRID compression,compressionType,}"
    "Edms_VirtualBlockInfo,"
    "{0:pcproName,1:*oEprj_Coordinate,upperLeftCenter,"
    "1:*oEprj_Coordinate,lowerRightCenter,1:*oEprj_Size,pixelSize,"
    "0:pcunits,}Eprj_MapInfo,"
    "{1:dx,1:dy,}Eprj_Coordinate,"
    "{1:dwidth,1:dheight,}Eprj_Size,."
)

_HFA_PTYPES = ["u1", "u2", "u4", "u8", "s8", "u16", "s16", "u32",
               "s32", "f32", "f64", "c64", "c128"]


def _hfa_rle_u8(vals) -> bytes:
    """ESRI GRID RLE of a u8 value stream (8-bit values, 1-byte run
    counts < 64)."""
    import struct

    runs, cur, n = [], int(vals[0]), 1
    for v in vals[1:]:
        if int(v) == cur and n < 63:
            n += 1
        else:
            runs.append((n, cur))
            cur, n = int(v), 1
    runs.append((n, cur))
    vmin = min(v for _, v in runs)
    head = struct.pack("<IIIB", vmin, len(runs), 13 + len(runs), 8)
    counts = bytes(c for c, _ in runs)
    data = bytes((v - vmin) & 0xFF for _, v in runs)
    return head + counts + data


def hfa_file_bytes(layers, ul_center=(10.05, 49.95), pixel=(0.1, 0.1),
                   pro="Geographic Lat/Lon", compress=False) -> bytes:
    """Minimal spec-conformant HFA container: ``layers`` is a list of
    (name, 2d numpy array, block_w, block_h, pixeltype-string); one
    Eimg_Layer entry per band under root, each with RasterDMS +
    Map_Info children."""
    import struct

    import numpy as np

    npt = {"u8": np.uint8, "s16": np.int16, "f32": np.float32,
           "f64": np.float64}
    buf = bytearray()
    buf += b"EHFA_HEADER_TAG\x00"
    buf += struct.pack("<I", 20)
    hdr_at = len(buf)
    buf += b"\x00" * 18
    dict_at = len(buf)
    buf += _HFA_DICT.encode()

    def entry(name, typ, data_at, data_size, nxt=0, child=0):
        at = len(buf)
        buf.extend(struct.pack("<IIIIIi", nxt, 0, 0, child,
                               data_at, data_size))
        buf.extend(name.encode().ljust(64, b"\x00"))
        buf.extend(typ.encode().ljust(32, b"\x00"))
        buf.extend(b"\x00" * 8)
        return at

    def cstr(s):
        at = len(buf)
        buf.extend(s.encode() + b"\x00")
        return at, len(s) + 1

    layer_meta = []
    for name, arr, bw, bh, ptype in layers:
        h, w = arr.shape
        binfos = []
        for by in range(0, h, bh):
            for bx in range(0, w, bw):
                tile = np.zeros((bh, bw), npt[ptype])
                sub = arr[by:by + bh, bx:bx + bw]
                tile[:sub.shape[0], :sub.shape[1]] = sub
                at = len(buf)
                if compress and ptype == "u8":
                    payload = _hfa_rle_u8(
                        tile.ravel().astype(np.int64))
                    buf.extend(payload)
                    binfos.append((at, len(payload), 1))
                else:
                    raw = tile.astype(np.dtype(npt[ptype])
                                      .newbyteorder("<")).tobytes()
                    buf.extend(raw)
                    binfos.append((at, len(raw), 0))
        binfo_at = len(buf)
        for off, size, comp in binfos:
            buf.extend(struct.pack("<hIIHH", 0, off, size, 1, comp))
        dms_at = len(buf)
        buf.extend(struct.pack("<IIIH", len(binfos), bw * bh, 0, 0))
        buf.extend(struct.pack("<II", len(binfos), binfo_at))
        buf.extend(struct.pack("<II", 0, 0))
        buf.extend(struct.pack("<I", 0))
        dms_size = len(buf) - dms_at
        pro_at, pro_n = cstr(pro)
        ul_at = len(buf)
        buf.extend(struct.pack("<dd", *ul_center))
        lr_at = len(buf)
        buf.extend(struct.pack(
            "<dd", ul_center[0] + (w - 1) * pixel[0],
            ul_center[1] - (h - 1) * pixel[1]))
        ps_at = len(buf)
        buf.extend(struct.pack("<dd", *pixel))
        un_at, un_n = cstr("dd")
        mi_at = len(buf)
        buf.extend(struct.pack("<II", pro_n, pro_at))
        buf.extend(struct.pack("<II", 1, ul_at))
        buf.extend(struct.pack("<II", 1, lr_at))
        buf.extend(struct.pack("<II", 1, ps_at))
        buf.extend(struct.pack("<II", un_n, un_at))
        mi_size = len(buf) - mi_at
        lay_at = len(buf)
        buf.extend(struct.pack("<IIHHII", w, h, 1,
                               _HFA_PTYPES.index(ptype), bw, bh))
        layer_meta.append((name, lay_at, len(buf) - lay_at, dms_at,
                           dms_size, mi_at, mi_size))

    prev = 0
    first = 0
    for name, lay_at, lay_size, dms_at, dms_size, mi_at, mi_size \
            in reversed(layer_meta):
        mi_e = entry("Map_Info", "Eprj_MapInfo", mi_at, mi_size)
        dms_e = entry("RasterDMS", "Edms_State", dms_at, dms_size,
                      nxt=mi_e)
        lay_e = entry(name, "Eimg_Layer", lay_at, lay_size,
                      nxt=prev, child=dms_e)
        prev = first = lay_e
    root_e = entry("root", "root", 0, 0, child=first)
    buf[hdr_at:hdr_at + 18] = struct.pack(
        "<IIIhI", 1, 0, root_e, 128, dict_at)
    return bytes(buf)
