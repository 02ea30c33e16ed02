"""Archive source tests: zip/gz/tar expansion, GeoJSON members to
feature rows, and a zipped multi-layer fixture through the full CLI
tile pipeline."""

from __future__ import annotations

import gzip
import io
import json
import os
import tarfile
import zipfile

import lzma
import struct
import zlib

from geohub_data_pipeline_spark.operators import geometry as G
from geohub_data_pipeline_spark.sources import archive as A
from geohub_data_pipeline_spark.sources import sevenzip as SZ


# ---------------------------------------------------------------------------
# Minimal spec-following .7z WRITER (tests only): builds the container
# straight from 7zFormat.txt so the reader is exercised on independent
# bytes (no round-trip through the reader's own assumptions).
# ---------------------------------------------------------------------------

def _7z_num(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    return b"\xff" + struct.pack("<Q", n)     # full 8-byte form


def _7z_names(names: list[str]) -> bytes:
    data = b"\x00" + "".join(n + "\x00" for n in names).encode("utf-16-le")
    return _7z_num(0x11) + _7z_num(len(data)) + data


def _7z_wrap(header: bytes, packed: bytes) -> bytes:
    start_hdr = struct.pack("<QQI", len(packed), len(header),
                            zlib.crc32(header))
    return (SZ.MAGIC + b"\x00\x04"
            + struct.pack("<I", zlib.crc32(start_hdr))
            + start_hdr + packed + header)


def write_7z_copy(files: list[tuple[str, bytes]]) -> bytes:
    """One Copy-coder folder per file, uncompressed header."""
    packed = b"".join(c for _, c in files)
    n = len(files)
    hdr = bytearray()
    hdr += _7z_num(0x01)                                  # kHeader
    hdr += _7z_num(0x04)                                  # kMainStreamsInfo
    hdr += _7z_num(0x06) + _7z_num(0) + _7z_num(n)        # kPackInfo pos=0
    hdr += _7z_num(0x09) + b"".join(_7z_num(len(c)) for _, c in files)
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x07)                                  # kUnpackInfo
    hdr += _7z_num(0x0B) + _7z_num(n) + b"\x00"           # kFolder, internal
    hdr += b"\x01\x01\x00" * n     # numCoders=1, flags idSize=1, Copy
    hdr += _7z_num(0x0C) + b"".join(_7z_num(len(c)) for _, c in files)
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x00)                                  # end streams info
    hdr += _7z_num(0x05) + _7z_num(n)                     # kFilesInfo
    hdr += _7z_names([f for f, _ in files])
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x00)                                  # end header
    return _7z_wrap(bytes(hdr), packed)


def write_7z_lzma2(files: list[tuple[str, bytes]]) -> bytes:
    """One solid LZMA2 folder holding every file (SubStreamsInfo)."""
    raw = b"".join(c for _, c in files)
    filt = [{"id": lzma.FILTER_LZMA2, "dict_size": 1 << 20}]
    packed = lzma.compress(raw, format=lzma.FORMAT_RAW, filters=filt)
    n = len(files)
    hdr = bytearray()
    hdr += _7z_num(0x01)
    hdr += _7z_num(0x04)
    hdr += _7z_num(0x06) + _7z_num(0) + _7z_num(1)
    hdr += _7z_num(0x09) + _7z_num(len(packed)) + _7z_num(0x00)
    hdr += _7z_num(0x07)
    hdr += _7z_num(0x0B) + _7z_num(1) + b"\x00"
    # numCoders=1; flags 0x21 = idSize 1 + has-attrs; codec id 0x21
    # (LZMA2); propSize 1; dict prop p=18 -> (2|(p&1))<<(p//2+11) = 1MiB
    hdr += bytes([0x01, 0x21, 0x21, 0x01, 18])
    hdr += _7z_num(0x0C) + _7z_num(len(raw))
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x08)                                  # kSubStreamsInfo
    hdr += _7z_num(0x0D) + _7z_num(n)
    hdr += _7z_num(0x09) + b"".join(
        _7z_num(len(c)) for _, c in files[:-1])
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x05) + _7z_num(n)
    hdr += _7z_names([f for f, _ in files])
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x00)
    return _7z_wrap(bytes(hdr), packed)


def _geojson_layer(kind: str, n: int) -> bytes:
    feats = []
    for i in range(n):
        x = float(i) * 3.0 - 60.0
        y = float(i) * 2.0 - 20.0
        if kind == "points":
            geom = {"type": "Point", "coordinates": [x, y]}
        elif kind == "lines":
            geom = {"type": "LineString",
                    "coordinates": [[x, y], [x + 1, y + 1]]}
        else:
            geom = {"type": "Polygon", "coordinates": [[
                [x, y], [x + 1, y], [x + 1, y + 1], [x, y + 1], [x, y]]]}
        feats.append({"type": "Feature", "id": i + 1,
                      "geometry": geom, "properties": {"n": i}})
    return json.dumps(
        {"type": "FeatureCollection", "features": feats}).encode()


def _write_zip(path: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("points.geojson", _geojson_layer("points", 5))
        zf.writestr("lines.geojson", _geojson_layer("lines", 4))
        zf.writestr("polys.geojson", _geojson_layer("polys", 3))
        zf.writestr("readme.txt", b"not a layer")


def test_zip_gz_tar_expansion(spark, tmp_path):
    _write_zip(str(tmp_path / "multi.zip"))
    with open(tmp_path / "single.geojson.gz", "wb") as f:
        f.write(gzip.compress(_geojson_layer("points", 2)))
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        data = _geojson_layer("lines", 2)
        info = tarfile.TarInfo("nested/deep.geojson")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    with open(tmp_path / "bundle.tgz", "wb") as f:
        f.write(buf.getvalue())

    members = A.read_archives(spark, str(tmp_path)).collect()
    by_member = {(os.path.basename(r.archive_path), r.member): r
                 for r in members}
    assert ("multi.zip", "points.geojson") in by_member
    assert ("multi.zip", "readme.txt") in by_member
    assert ("single.geojson.gz", "single.geojson") in by_member
    assert ("bundle.tgz", "nested/deep.geojson") in by_member

    # vsi paths mirror the reference's GDAL prefix registry
    r = by_member[("multi.zip", "points.geojson")]
    assert r.vsi_path.startswith("/vsizip/") \
        and r.vsi_path.endswith("multi.zip/points.geojson")
    assert by_member[("single.geojson.gz", "single.geojson")] \
        .vsi_path.startswith("/vsigzip/")
    assert by_member[("bundle.tgz", "nested/deep.geojson")] \
        .vsi_path.startswith("/vsitar/")

    # content round-trips exactly
    assert bytes(r.content) == _geojson_layer("points", 5)
    assert r.size == len(bytes(r.content))


def test_tar_gz_expands_members(spark, tmp_path):
    """`.tar.gz` must route to the tar branch (regression: splitext
    saw only `.gz` and gunzipped it into one opaque `.tar` member)."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
        data = _geojson_layer("polys", 3)
        info = tarfile.TarInfo("inner/layer.geojson")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    with open(tmp_path / "bundle.tar.gz", "wb") as f:
        f.write(buf.getvalue())

    members = A.read_archives(spark, str(tmp_path / "bundle.tar.gz")).collect()
    assert [r.member for r in members] == ["inner/layer.geojson"]
    assert bytes(members[0].content) == _geojson_layer("polys", 3)
    assert members[0].vsi_path.startswith("/vsitar/")

    feats = A.features_from_archives(
        spark, str(tmp_path / "bundle.tar.gz")).collect()
    assert len(feats) == 3


def test_7z_reader_unit():
    files = [("a/points.geojson", _geojson_layer("points", 3)),
             ("b.txt", b"hello 7z")]
    for blob in (write_7z_copy(files), write_7z_lzma2(files)):
        got = SZ.extract_7z(blob)
        assert [(n, bytes(c)) for n, c in got] == files
    # LZMA1 coder path: raw-compress one member, hand-build the folder
    raw = files[0][1]
    filt = [{"id": lzma.FILTER_LZMA1, "dict_size": 1 << 16,
             "lc": 3, "lp": 0, "pb": 2}]
    packed = lzma.compress(raw, format=lzma.FORMAT_RAW, filters=filt)
    props = bytes([(2 * 5 + 0) * 9 + 3]) + struct.pack("<I", 1 << 16)
    hdr = bytearray()
    hdr += _7z_num(0x01) + _7z_num(0x04)
    hdr += _7z_num(0x06) + _7z_num(0) + _7z_num(1)
    hdr += _7z_num(0x09) + _7z_num(len(packed)) + _7z_num(0x00)
    hdr += _7z_num(0x07) + _7z_num(0x0B) + _7z_num(1) + b"\x00"
    hdr += bytes([0x01, 0x23]) + SZ._CODEC_LZMA1 + _7z_num(5) + props
    hdr += _7z_num(0x0C) + _7z_num(len(raw)) + _7z_num(0x00)
    hdr += _7z_num(0x00)
    hdr += _7z_num(0x05) + _7z_num(1) + _7z_names(["m.geojson"])
    hdr += _7z_num(0x00) + _7z_num(0x00)
    got = SZ.extract_7z(_7z_wrap(bytes(hdr), packed))
    assert got == [("m.geojson", raw)]
    # unsupported codec (BCJ 0x04) and garbage both raise ValueError
    import pytest
    with pytest.raises(ValueError):
        bad = write_7z_copy(files).replace(b"\x01\x01\x00", b"\x01\x01\x04", 1)
        SZ.extract_7z(bad)
    with pytest.raises(ValueError):
        SZ.extract_7z(b"7z\xbc\xaf\x27\x1cgarbage")


def test_7z_encoded_header():
    """kEncodedHeader (the 7-Zip CLI default): the header itself is an
    LZMA2-compressed folder appended after the file data."""
    content = _geojson_layer("lines", 3)
    packed_main = content                               # Copy coder
    inner = bytearray()
    inner += _7z_num(0x01) + _7z_num(0x04)
    inner += _7z_num(0x06) + _7z_num(0) + _7z_num(1)
    inner += _7z_num(0x09) + _7z_num(len(content)) + _7z_num(0x00)
    inner += _7z_num(0x07) + _7z_num(0x0B) + _7z_num(1) + b"\x00"
    inner += b"\x01\x01\x00"
    inner += _7z_num(0x0C) + _7z_num(len(content)) + _7z_num(0x00)
    inner += _7z_num(0x00)
    inner += _7z_num(0x05) + _7z_num(1) + _7z_names(["enc.geojson"])
    inner += _7z_num(0x00) + _7z_num(0x00)
    filt = [{"id": lzma.FILTER_LZMA2, "dict_size": 1 << 20}]
    hc = lzma.compress(bytes(inner), format=lzma.FORMAT_RAW, filters=filt)
    outer = bytearray()
    outer += _7z_num(0x17)                              # kEncodedHeader
    outer += _7z_num(0x06) + _7z_num(len(packed_main)) + _7z_num(1)
    outer += _7z_num(0x09) + _7z_num(len(hc)) + _7z_num(0x00)
    outer += _7z_num(0x07) + _7z_num(0x0B) + _7z_num(1) + b"\x00"
    outer += bytes([0x01, 0x21, 0x21, 0x01, 18])
    outer += _7z_num(0x0C) + _7z_num(len(inner)) + _7z_num(0x00)
    outer += _7z_num(0x00)
    blob = _7z_wrap(bytes(outer), packed_main + hc)
    assert SZ.extract_7z(blob) == [("enc.geojson", content)]


def test_7z_through_archive_source(spark, tmp_path):
    blob = write_7z_lzma2(
        [("layers/points.geojson", _geojson_layer("points", 4)),
         ("layers/polys.geojson", _geojson_layer("polys", 2)),
         ("note.txt", b"not a layer")])
    with open(tmp_path / "bundle.7z", "wb") as f:
        f.write(blob)
    # an unsupported/corrupt .7z is quarantined, not a task failure
    with open(tmp_path / "broken.7z", "wb") as f:
        f.write(b"7z\xbc\xaf\x27\x1c" + b"\x00" * 40)

    members = A.read_archives(spark, str(tmp_path)).collect()
    by_member = {r.member: r for r in members}
    assert set(by_member) == {"layers/points.geojson",
                              "layers/polys.geojson", "note.txt"}
    r = by_member["layers/points.geojson"]
    assert r.vsi_path.startswith("/vsi7z/") \
        and r.vsi_path.endswith("bundle.7z/layers/points.geojson")
    assert bytes(r.content) == _geojson_layer("points", 4)

    feats = A.features_from_archives(spark, str(tmp_path)).collect()
    assert len(feats) == 6                 # 4 points + 2 polys


def test_corrupt_archive_skipped(spark, tmp_path):
    with open(tmp_path / "broken.zip", "wb") as f:
        f.write(b"PK\x03\x04 garbage that is not a zip")
    _write_zip(str(tmp_path / "ok.zip"))
    members = A.read_archives(spark, str(tmp_path)).collect()
    assert {os.path.basename(r.archive_path) for r in members} == {"ok.zip"}


def test_geojson_members_to_features(spark, tmp_path):
    _write_zip(str(tmp_path / "multi.zip"))
    feats = A.features_from_archives(
        spark, str(tmp_path / "multi.zip")).collect()
    by_layer: dict = {}
    for r in feats:
        by_layer.setdefault(r.layer, []).append(r)
    assert {len(by_layer["points"]), len(by_layer["lines"]),
            len(by_layer["polys"])} == {5, 4, 3}
    assert {r.dataset for r in feats} == {"multi.zip"}
    assert {r.srid for r in feats} == {4326}
    # member-scoped fids are unique; GeoJSON ids survive in the
    # property bag (_fid) after the rekey
    import json as _json
    pts = by_layer["points"]
    assert len({r.fid for r in pts}) == 5
    assert all(r.fid > 0 for r in pts)
    src_ids = sorted(_json.loads(r.properties)["_fid"] for r in pts)
    assert src_ids == [1, 2, 3, 4, 5]
    p0 = next(r for r in pts
              if _json.loads(r.properties)["_fid"] == 1)
    parsed = G.parse_wkb(bytes(p0.geometry))
    assert parsed["type"] == G.POINT and parsed["coords"] == [-60.0, -20.0]
    poly = G.parse_wkb(bytes(by_layer["polys"][0].geometry))
    assert poly["type"] == G.POLYGON


def test_wkb_from_geojson_all_types():
    cases = {
        "Point": {"type": "Point", "coordinates": [1.0, 2.0]},
        "MultiPoint": {"type": "MultiPoint",
                       "coordinates": [[1.0, 2.0], [3.0, 4.0]]},
        "LineString": {"type": "LineString",
                       "coordinates": [[0.0, 0.0], [1.0, 1.0]]},
        "MultiLineString": {
            "type": "MultiLineString",
            "coordinates": [[[0.0, 0.0], [1.0, 1.0]],
                            [[2.0, 2.0], [3.0, 3.0]]]},
        "Polygon": {"type": "Polygon", "coordinates": [
            [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]},
        "MultiPolygon": {"type": "MultiPolygon", "coordinates": [
            [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
            [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 5.0]]]]},
    }
    want = {"Point": G.POINT, "MultiPoint": G.MULTIPOINT,
            "LineString": G.LINESTRING,
            "MultiLineString": G.MULTILINESTRING,
            "Polygon": G.POLYGON, "MultiPolygon": G.MULTIPOLYGON}
    for name, geom in cases.items():
        parsed = G.parse_wkb(G.wkb_from_geojson(geom))
        assert parsed is not None and parsed["type"] == want[name], name
    # malformed / unsupported -> None, never raises
    assert G.wkb_from_geojson({"type": "Point"}) is None
    assert G.wkb_from_geojson({"type": "GeometryCollection",
                               "geometries": []}) is None
    assert G.wkb_from_geojson({"type": "Nope", "coordinates": []}) is None


def test_zip_through_cli_tile_pipeline(spark, tmp_path):
    """T14 + archive reading: a zipped multi-layer GeoJSON fixture
    flows end-to-end through the CLI tile pipeline (tiles + audits +
    a real PMTiles archive)."""
    import pyspark.sql  # noqa: F401  (session alive for the CLI)
    from geohub_data_pipeline_spark import cli

    src = str(tmp_path / "upload.zip")
    _write_zip(src)
    dst = str(tmp_path / "out")
    rc = cli.main(["--src", src, "--dst", dst, "--maxzoom", "2"])
    assert rc == 0
    with open(f"{dst}/audits.json") as f:
        audits = json.load(f)
    assert sum(a["n_tiles"] for a in audits["archives"]) > 0
    status = {r["layer"]: r["status"] for r in audits["feature_counts"]}
    # readme.txt is not a layer; all three geojson layers audit ok
    assert set(status) == {"points", "lines", "polys"}
    assert set(status.values()) == {"ok"}
    archives = os.listdir(f"{dst}/archives")
    assert any(a.endswith(".pmtiles") for a in archives)


def test_mixed_archive_processes_both_sides(spark, tmp_path):
    """An archive carrying BOTH a vector member and a raster member
    converts down both paths (the reference double-probes OF_VECTOR
    then OF_RASTER and converts everything it finds,
    ref ingest/utils.py:96-114 + processing.py:555-826)."""
    import numpy as np

    from geohub_data_pipeline_spark import processing as PROC
    from geohub_data_pipeline_spark.operators.cogwriter import (
        _Level,
        geotiff_bytes,
    )

    gj = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"name": "a"},
             "geometry": {"type": "Point", "coordinates": [10.0, 50.0]}},
            {"type": "Feature", "properties": {"name": "b"},
             "geometry": {"type": "Point", "coordinates": [11.0, 51.0]}},
        ],
    }
    arr = np.arange(32 * 32, dtype=np.float64).reshape(32, 32)
    tile = np.zeros((256, 256))
    tile[:32, :32] = arr
    tif = geotiff_bytes([_Level(32, 32, {(0, 0): tile})], epsg=3857,
                        pixel_scale=(1000.0, 1000.0),
                        origin=(0.0, 2000000.0))
    zpath = tmp_path / "mixed.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("layers/cities.geojson", json.dumps(gj))
        z.writestr("imagery/scene.tif", tif)

    res = PROC.process_geo_file(spark, str(zpath), str(tmp_path / "out"))
    kinds = {c["kind"] for c in res["chunks"]}
    assert "layer" in kinds and ("band" in kinds
                                 or "subdataset" in kinds)
    exts = {a.rsplit(".", 1)[-1] for a in res["artifacts"]}
    assert {"fgb", "pmtiles", "tif"} <= exts
    for a in res["artifacts"]:
        assert os.path.exists(a)
