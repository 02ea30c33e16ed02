"""Property-based checks (SURVEY §5: 'property-based where cheap').

Driver-side properties of the pure kernels — no Spark session needed,
so hypothesis can run hundreds of cases in seconds.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings, strategies as st

from geohub_data_pipeline_spark.operators import geometry as G

lon = st.floats(min_value=-179.999, max_value=179.999,
                allow_nan=False, allow_infinity=False)
lat = st.floats(min_value=-84.999, max_value=84.999,
                allow_nan=False, allow_infinity=False)
coord = st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False)


@given(x=coord, y=coord)
@settings(max_examples=200, deadline=None)
def test_wkb_point_roundtrip(x, y):
    parsed = G.parse_wkb(G.wkb_point(x, y))
    assert parsed["type"] == G.POINT
    assert parsed["coords"] == [x, y]


@given(pts=st.lists(st.tuples(coord, coord), min_size=2, max_size=50))
@settings(max_examples=100, deadline=None)
def test_wkb_linestring_roundtrip_and_promote(pts):
    wkb = G.wkb_linestring(pts)
    parsed = G.parse_wkb(wkb)
    assert parsed["type"] == G.LINESTRING
    assert len(parsed["coords"]) == 2 * len(pts)
    promoted = G.parse_wkb(G.promote_to_multi(wkb))
    assert promoted["type"] == G.MULTILINESTRING
    assert promoted["coords"] == parsed["coords"]


@given(lo=lon, la=lat)
@settings(max_examples=300, deadline=None)
def test_mercator_roundtrip_property(lo, la):
    x, y = G.lonlat_to_mercator(lo, la)
    lo2, la2 = G._reproject_array(np.array([[x, y]]), 3857, None)[0]
    assert math.isclose(lo, lo2, abs_tol=1e-8)
    assert math.isclose(la, la2, abs_tol=1e-8)


@given(lo=lon, la=lat, z=st.integers(min_value=0, max_value=18))
@settings(max_examples=300, deadline=None)
def test_tile_contains_its_point(lo, la, z):
    """The slippy tile assigned to a point must contain that point."""
    n = 2 ** z
    x = min(max(int(math.floor(n * (lo + 180.0) / 360.0)), 0), n - 1)
    rad = math.radians(la)
    y = min(max(int(math.floor(
        n * (1.0 - math.log(math.tan(rad) + 1.0 / math.cos(rad))
             / math.pi) / 2.0)), 0), n - 1)
    # tile x bounds
    lon0 = x / n * 360.0 - 180.0
    lon1 = (x + 1) / n * 360.0 - 180.0
    assert lon0 - 1e-9 <= lo <= lon1 + 1e-9

    def lat_of(yy):
        t = math.pi * (1 - 2 * yy / n)
        return math.degrees(math.atan(math.sinh(t)))

    assert lat_of(y + 1) - 1e-9 <= la <= lat_of(y) + 1e-9


@given(payload=st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_parse_wkb_never_crashes_on_garbage(payload):
    """-skipfailures contract: arbitrary bytes parse to None or a
    structurally valid result, never an exception."""
    out = G.parse_wkb(payload)
    assert out is None or (
        out["type"] in (1, 2, 3, 4, 5, 6)
        and len(out["coords"]) % 2 == 0
    )


# ---------------------------------------------------------------------------
# Round-3 kernels: media codecs, 7z numbers, CRS round-trips, makevalid
# ---------------------------------------------------------------------------

@given(w=st.integers(min_value=1, max_value=40),
       h=st.integers(min_value=1, max_value=40),
       seed=st.integers(min_value=0, max_value=2**31))
@settings(max_examples=60, deadline=None)
def test_png_encode_decode_roundtrip(w, h, seed):
    from geohub_data_pipeline_spark.operators import multimodal as M
    png = M.encode_png_gray(w, h, lambda x, y: (x * 7 + y * 13 + seed) % 251)
    meta = M._decode_one("image", png)
    assert meta["ok"] and (meta["width"], meta["height"],
                           meta["n_channels"]) == (w, h, 1)


@given(n=st.integers(min_value=0, max_value=2000),
       sr=st.sampled_from([8000, 16000, 44100]),
       ch=st.integers(min_value=1, max_value=2))
@settings(max_examples=60, deadline=None)
def test_wav_encode_decode_roundtrip(n, sr, ch):
    from geohub_data_pipeline_spark.operators import multimodal as M
    wav = M.encode_wav_pcm16(n, sr, n_channels=ch)
    meta = M._decode_one("audio", wav)
    assert meta["ok"] and (meta["n_samples"], meta["sample_rate"],
                           meta["n_channels"]) == (n, sr, ch)


@given(payload=st.binary(min_size=0, max_size=128))
@settings(max_examples=200, deadline=None)
def test_media_decode_never_crashes_on_garbage(payload):
    """Quarantine contract: arbitrary bytes decode to a verdict row,
    never an exception."""
    from geohub_data_pipeline_spark.operators import multimodal as M
    for mt in ("image", "audio", "video"):
        meta = M._decode_one(mt, payload)
        assert meta["ok"] in (True, False)


@given(n=st.integers(min_value=0, max_value=2**63 - 1))
@settings(max_examples=300, deadline=None)
def test_7z_number_decoding_matches_spec_forms(n):
    """Both legal encodings of a 7z number decode to the same value."""
    import struct
    from geohub_data_pipeline_spark.sources import sevenzip as SZ
    full = SZ._Reader(b"\xff" + struct.pack("<Q", n))
    assert full.num() == n
    if n < 0x80:
        assert SZ._Reader(bytes([n])).num() == n


@given(payload=st.binary(min_size=0, max_size=256))
@settings(max_examples=150, deadline=None)
def test_7z_reader_never_crashes_on_garbage(payload):
    import lzma
    import pytest
    from geohub_data_pipeline_spark.sources import sevenzip as SZ
    try:
        SZ.extract_7z(b"7z\xbc\xaf\x27\x1c" + payload)
    except (ValueError, lzma.LZMAError):
        pass                               # quarantine path
    # any other exception propagates and fails the test


@given(lo=st.floats(min_value=-7.0, max_value=1.8, allow_nan=False),
       la=st.floats(min_value=50.0, max_value=60.8, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_osgb_roundtrip_property(lo, la):
    from geohub_data_pipeline_spark.operators import crs as C
    e, n = C.from_lonlat(27700)(lo, la)
    lo2, la2 = C.to_lonlat(27700)(e, n)
    assert math.isclose(lo, lo2, abs_tol=1e-7)
    assert math.isclose(la, la2, abs_tol=1e-7)


@given(lo=st.floats(min_value=-124.0, max_value=-67.0, allow_nan=False),
       la=st.floats(min_value=24.0, max_value=49.0, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_albers_roundtrip_property(lo, la):
    from geohub_data_pipeline_spark.operators import crs as C
    lo2, la2 = C.to_lonlat(5070)(*C.from_lonlat(5070)(lo, la))
    assert math.isclose(lo, lo2, abs_tol=1e-7)
    assert math.isclose(la, la2, abs_tol=1e-7)


@given(cx=st.floats(min_value=-10, max_value=10, allow_nan=False),
       cy=st.floats(min_value=-10, max_value=10, allow_nan=False),
       dx=st.floats(min_value=0.5, max_value=5, allow_nan=False),
       dy=st.floats(min_value=0.5, max_value=5, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_make_valid_bowtie_conserves_area(cx, cy, dx, dy):
    """Any axis-aligned bowtie splits into simple loops whose total
    area equals the two triangle lobes, and nothing stays flagged."""
    bow = [(cx, cy), (cx + dx, cy + dy), (cx + dx, cy),
           (cx, cy + dy), (cx, cy)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([bow]))
    assert invalid is False
    parsed = G.parse_wkb(out)
    total = sum(abs(G._ring_area2(G._pairs(p))) / 2
                for p in parsed["parts"])
    assert math.isclose(total, dx * dy / 2, rel_tol=1e-9)
    for p in parsed["parts"]:
        ring = G._pairs(p)
        assert ring[0] == ring[-1]
        assert G._first_self_crossing(ring) is None
