"""The raster format table (sources/rasters.py): every single-file raster
format reads the same bare and as an archive member, converts to a COG
from a zip, and quarantines corrupt files on both paths."""

from __future__ import annotations

import os
import random
import zipfile

import numpy as np
import pytest

from geohub_data_pipeline_spark import processing as PROC
from geohub_data_pipeline_spark.sources import hdf5 as H5
from geohub_data_pipeline_spark.sources.rasters import RASTER_FORMATS

from tests.test_netcdf3 import write_cdf1_with_coords

# an SRTM tile is georeferenced by its name
_HGT_STEM = {"scene": "N47E005", "good": "N47E005", "trunc": "N01E001",
             "noise": "N02E002"}


def _raster_bytes(ext: str, tmp_path) -> bytes:
    """A small georeferenced raster in the format ``ext`` reads."""
    if ext in (".tif", ".tiff", ".gtif", ".gtiff"):
        from geohub_data_pipeline_spark.operators.cogwriter import (
            _Level,
            geotiff_bytes,
        )
        arr = np.arange(40 * 30, dtype=np.float64).reshape(40, 30) % 13
        return geotiff_bytes(
            [_Level(30, 40, {(0, 0): np.pad(arr, ((0, 216), (0, 226)))})],
            epsg=4326, pixel_scale=(0.02, 0.02), origin=(5.0, 47.0))
    if ext == ".nc":
        return write_cdf1_with_coords(list(np.linspace(47.0, 46.0, 30)),
                                      list(np.linspace(5.0, 6.0, 20)))
    if ext in (".nc4", ".h5", ".hdf5"):
        p = tmp_path / f"build{ext}"
        H5.write_hdf5(str(p), {
            "temp": np.arange(30 * 20, dtype="<f8").reshape(30, 20) % 7,
            "y": np.linspace(47.0, 46.0, 30),
            "x": np.linspace(5.0, 6.0, 20)}, chunked={"temp"})
        return p.read_bytes()
    if ext in (".asc", ".grd", ".aig", ".sgr"):
        rows = "\n".join(" ".join(str((r * 20 + c) % 7) for c in range(20))
                         for r in range(30))
        return ("ncols 20\nnrows 30\nxllcorner 5.0\nyllcorner 46.0\n"
                f"cellsize 0.05\nnodata_value -9999\n{rows}\n").encode()
    if ext == ".hgt":
        return (np.arange(65 * 65) % 900).astype(">i2").tobytes()
    if ext == ".img":
        from geohub_data_pipeline_spark.sources.fixtures import (
            hfa_file_bytes,
        )
        arr = np.arange(30 * 20, dtype=np.float32).reshape(30, 20) % 11
        return hfa_file_bytes([("Layer_1", arr, 16, 16, "f32")],
                              ul_center=(5.01, 46.99), pixel=(0.02, 0.02))
    raise AssertionError(ext)


def _name(ext: str, stem: str = "scene") -> str:
    return (_HGT_STEM[stem] if ext == ".hgt" else stem) + ext


def _zip(path, members: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, payload in members.items():
            zf.writestr(name, payload)
    return str(path)


@pytest.mark.parametrize("ext", sorted(RASTER_FORMATS))
def test_single_member_zip_converts_to_cog(spark, tmp_path, ext):
    """A zip holding one raster of any table format converts to a COG
    (a .gtiff/.gtif/.h5/.hdf5/.aig/.sgr/.img member used to convert
    to nothing: the archive probe listed fewer extensions than the
    member decoders read)."""
    z = _zip(tmp_path / "up.zip",
             {_name(ext): _raster_bytes(ext, tmp_path)})
    out = PROC.process_geo_file(spark, z, str(tmp_path / "out"),
                                overview_levels=1)
    assert out["artifacts"], out
    assert all(p.endswith(".tif") and os.path.exists(p)
               for p in out["artifacts"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bare_and_member_rows_identical(spark, tmp_path):
    """A file's BLOCK and GEOREF rows are the same read bare or as a
    zip member (both paths decode through the one table entry; the
    GeoTIFF georef is the header probe on both)."""
    exts = (".tif", ".asc", ".nc", ".nc4", ".hgt", ".img")
    files = {_name(e): _raster_bytes(e, tmp_path) for e in exts}
    bare = tmp_path / "bare"
    bare.mkdir()
    for name, payload in files.items():
        (bare / name).write_bytes(payload)
    b_blocks, b_georef, _ = PROC.read_raster_source(spark, str(bare))
    m_blocks, m_georef, _ = PROC.read_raster_source(
        spark, _zip(tmp_path / "all.zip", files))
    blocks, georef = _rows(b_blocks), _rows(b_georef)
    assert {r[0] for r in blocks} == set(files)
    assert {r[0] for r in georef} == set(files)
    assert _rows(m_blocks) == blocks
    assert _rows(m_georef) == georef


def test_corrupt_files_quarantine_bare_and_member(spark, tmp_path):
    """A truncated and a random-bytes file of every table format yield
    no BLOCK rows on either path, next to a good sibling that does;
    the job succeeds.  (A truncated file may keep a header-only GEOREF
    row, which joins no blocks; random bytes yield none.)"""
    rng = random.Random(7)
    files = {}
    for ext in RASTER_FORMATS:
        good = _raster_bytes(ext, tmp_path)
        files[_name(ext, "good")] = good
        files[_name(ext, "trunc")] = good[:len(good) // 2 + 1]
        files[_name(ext, "noise")] = bytes(
            rng.getrandbits(8) for _ in range(1001))
    bare = tmp_path / "bare"
    bare.mkdir()
    for name, payload in files.items():
        (bare / name).write_bytes(payload)
    good = {_name(ext, "good") for ext in RASTER_FORMATS}
    noise = {_name(ext, "noise") for ext in RASTER_FORMATS}
    for source in (str(bare), _zip(tmp_path / "all.zip", files)):
        blocks, georef, _ = PROC.read_raster_source(spark, source)
        assert {r.dataset for r in blocks.select("dataset")
                .distinct().collect()} == good
        assert not noise & {r.dataset for r in georef.collect()}
