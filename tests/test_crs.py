"""CRS transform tests: published control points + round trips.

Control sources (public):
* IOGP Guidance Note 7-2, LAEA example: ETRS89 lat 50N lon 5E ->
  EPSG:3035 E 3962799.45, N 2999718.85 (also in PROJ's test suite).
* WGS84 meridian arc to 45N = 4984944.378 m (standard geodesy
  tables); UTM northing at the central meridian = 0.9996 * arc.
* Projection origins map to the false origin exactly by definition.
"""

from __future__ import annotations

import math

import pytest

from geohub_data_pipeline_spark.operators import crs as C


# ---------------------------------------------------------------------------
# UTM
# ---------------------------------------------------------------------------

def test_utm_zone_origin_exact():
    # central meridian x equator = (FE, 0) by definition
    e, n = C.from_lonlat(32633)(15.0, 0.0)
    assert math.isclose(e, 500000.0, abs_tol=1e-6)
    assert math.isclose(n, 0.0, abs_tol=1e-6)


def test_utm_central_meridian_scale_and_arc():
    # northing on the CM = k0 * meridian arc; arc(45N, WGS84) is the
    # published 4984944.378 m
    e, n = C.from_lonlat(32633)(15.0, 45.0)
    assert math.isclose(e, 500000.0, abs_tol=1e-6)
    assert math.isclose(n, 0.9996 * 4984944.378, abs_tol=0.01)


def test_utm_roundtrip_grid():
    for zone in (1, 18, 33, 60):
        lon0 = zone * 6.0 - 183.0
        for dlon in (-2.9, 0.0, 2.9):
            for lat in (-79.0, -30.0, 0.0, 30.0, 71.9):
                srid = (32600 if lat >= 0 else 32700) + zone
                e, n = C.from_lonlat(srid)(lon0 + dlon, lat)
                lon2, lat2 = C.to_lonlat(srid)(e, n)
                assert math.isclose(lon0 + dlon, lon2, abs_tol=1e-9)
                assert math.isclose(lat, lat2, abs_tol=1e-9)


def test_utm_south_false_northing():
    e, n = C.from_lonlat(32733)(15.0, -0.001)
    assert n < 10000000.0 and n > 9999000.0     # just under FN_south


def test_utm_hemisphere_symmetry():
    eN, nN = C.from_lonlat(32633)(16.0, 40.0)
    eS, nS = C.from_lonlat(32733)(16.0, -40.0)
    assert math.isclose(eN, eS, abs_tol=1e-6)
    assert math.isclose(nN, 10000000.0 - nS, abs_tol=1e-6)


# ---------------------------------------------------------------------------
# EPSG:3035 — LAEA Europe
# ---------------------------------------------------------------------------

def test_laea_iogp_control_point():
    e, n = C.from_lonlat(3035)(5.0, 50.0)
    assert math.isclose(e, 3962799.45, abs_tol=0.02)
    assert math.isclose(n, 2999718.85, abs_tol=0.02)
    lon, lat = C.to_lonlat(3035)(3962799.45, 2999718.85)
    assert math.isclose(lon, 5.0, abs_tol=1e-7)
    assert math.isclose(lat, 50.0, abs_tol=1e-7)


def test_laea_origin_and_roundtrip():
    e, n = C.from_lonlat(3035)(10.0, 52.0)
    assert math.isclose(e, 4321000.0, abs_tol=1e-6)
    assert math.isclose(n, 3210000.0, abs_tol=1e-6)
    for lon, lat in [(-10.0, 35.0), (30.0, 70.0), (10.0, 52.0),
                     (25.0, 40.0)]:
        e, n = C.from_lonlat(3035)(lon, lat)
        lon2, lat2 = C.to_lonlat(3035)(e, n)
        assert math.isclose(lon, lon2, abs_tol=1e-8)
        assert math.isclose(lat, lat2, abs_tol=1e-8)


# ---------------------------------------------------------------------------
# EPSG:2154 — Lambert-93
# ---------------------------------------------------------------------------

def test_lcc_origin_exact():
    e, n = C.from_lonlat(2154)(3.0, 46.5)
    assert math.isclose(e, 700000.0, abs_tol=1e-6)
    assert math.isclose(n, 6600000.0, abs_tol=1e-6)


def test_lcc_standard_parallels_true_scale():
    """On a standard parallel the cone is tangent: a 0.1-deg lon step
    must measure (cos(lat) * 0.1 deg of arc) within ~1e-6 relative."""
    a, f = 6378137.0, 1.0 / 298.257222101
    e2 = f * (2 - f)
    for sp in (44.0, 49.0):
        phi = math.radians(sp)
        nu = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        expect = nu * math.cos(phi) * math.radians(0.1)
        e1, n1 = C.from_lonlat(2154)(3.0, sp)
        e2_, n2 = C.from_lonlat(2154)(3.1, sp)
        got = math.hypot(e2_ - e1, n2 - n1)
        assert got == pytest.approx(expect, rel=2e-6)


def test_lcc_roundtrip():
    for lon, lat in [(-4.5, 48.4), (7.7, 43.7), (3.0, 46.5),
                     (2.35, 48.86), (9.4, 41.9)]:
        e, n = C.from_lonlat(2154)(lon, lat)
        lon2, lat2 = C.to_lonlat(2154)(e, n)
        assert math.isclose(lon, lon2, abs_tol=1e-9)
        assert math.isclose(lat, lat2, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

def test_epsg_dispatch_coverage():
    assert C.to_lonlat(32633) is not None       # UTM 33N WGS84
    assert C.to_lonlat(32733) is not None       # UTM 33S
    assert C.to_lonlat(25832) is not None       # ETRS89 / UTM 32N
    assert C.to_lonlat(3035) is not None
    assert C.to_lonlat(2154) is not None
    for srid in (27700, 2193, 5070, 102008, 3978):  # parameter table
        assert C.to_lonlat(srid) is not None, srid
        assert C.from_lonlat(srid) is not None, srid
    assert C.to_lonlat(4326) is None            # geographic: caller's no-op
    assert C.to_lonlat(99999) is None
    # inverse(forward) identity through the dispatcher too
    fwd, inv = C.from_lonlat(25832), C.to_lonlat(25832)
    lon, lat = inv(*fwd(9.0, 51.0))
    assert math.isclose(lon, 9.0, abs_tol=1e-9)
    assert math.isclose(lat, 51.0, abs_tol=1e-9)
    # one cached kernel pair per srid serves both directions
    assert C._pair(3035) == (C.from_lonlat(3035), C.to_lonlat(3035))
    assert C._pair(32633) == (C.from_lonlat(32633), C.to_lonlat(32633))


# ---------------------------------------------------------------------------
# EPSG:27700 — OSGB36 British National Grid (TM, Airy 1830 + Helmert)
# ---------------------------------------------------------------------------

def test_osgb_worked_example_grid():
    """OS 'A guide to coordinate systems in Great Britain' worked
    example: OSGB36 lat 52°39'27.2531\"N, lon 1°43'4.5177\"E ->
    E 651409.903, N 313177.270 (graticule side is OSGB36, so the
    Helmert-free grid pair is tested here)."""
    fwd, inv = C._make_tm(C._AIRY1830, lat0=49.0, lon0=-2.0,
                          k0=0.9996012717, fe=400000.0, fn=-100000.0)
    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    e, n = fwd(lon, lat)
    assert math.isclose(e, 651409.903, abs_tol=2e-3)
    assert math.isclose(n, 313177.270, abs_tol=2e-3)
    lon2, lat2 = inv(651409.903, 313177.270)
    assert math.isclose(lon2, lon, abs_tol=1e-7)
    assert math.isclose(lat2, lat, abs_tol=1e-7)


def test_osgb_true_origin_and_datum():
    fwd, inv = C._make_tm(C._AIRY1830, lat0=49.0, lon0=-2.0,
                          k0=0.9996012717, fe=400000.0, fn=-100000.0)
    e, n = fwd(-2.0, 49.0)                      # true origin by definition
    assert math.isclose(e, 400000.0, abs_tol=1e-6)
    assert math.isclose(n, -100000.0, abs_tol=1e-6)
    # full WGS84 path: round-trip to sub-mm, datum shift ~60-180 m
    f27, i27 = C.from_lonlat(27700), C.to_lonlat(27700)
    for lon, lat in [(-1.5, 52.0), (-4.2, 55.9), (0.1, 51.5)]:
        E, N = f27(lon, lat)
        lon2, lat2 = i27(E, N)
        assert math.isclose(lon, lon2, abs_tol=1e-7)
        assert math.isclose(lat, lat2, abs_tol=1e-7)
        Eg, Ng = fwd(lon, lat)                  # same point, no datum
        assert 60.0 < math.hypot(E - Eg, N - Ng) < 180.0


# ---------------------------------------------------------------------------
# EPSG:2193 — NZTM2000
# ---------------------------------------------------------------------------

def test_nztm_origin_and_roundtrip():
    fwd, inv = C.from_lonlat(2193), C.to_lonlat(2193)
    e, n = fwd(173.0, 0.0)                      # true origin (lat0=0)
    assert math.isclose(e, 1600000.0, abs_tol=1e-6)
    assert math.isclose(n, 10000000.0, abs_tol=1e-6)
    for lon, lat in [(174.7633, -36.8485), (172.64, -43.53),
                     (168.66, -45.03)]:
        lon2, lat2 = inv(*fwd(lon, lat))
        assert math.isclose(lon, lon2, abs_tol=1e-8)
        assert math.isclose(lat, lat2, abs_tol=1e-8)


# ---------------------------------------------------------------------------
# EPSG:5070 / ESRI:102008 — Albers Equal Area Conic (Snyder §14)
# ---------------------------------------------------------------------------

def test_albers_origin_exact():
    fwd, _ = C.from_lonlat(5070), C.to_lonlat(5070)
    assert fwd(-96.0, 23.0) == (0.0, 0.0)       # projection origin


def test_albers_true_scale_on_standard_parallels():
    """An AEA cone is true-scale along both standard parallels: a
    0.1-deg lon step measures nu*cos(phi)*0.1deg of arc."""
    a, f = 6378137.0, 1.0 / 298.257222101
    e2 = f * (2 - f)
    fwd, _ = C.from_lonlat(5070), None
    for sp in (29.5, 45.5):
        phi = math.radians(sp)
        nu = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        expect = nu * math.cos(phi) * math.radians(0.1)
        e1, n1 = fwd(-96.0, sp)
        e2_, n2 = fwd(-95.9, sp)
        assert math.hypot(e2_ - e1, n2 - n1) == pytest.approx(
            expect, rel=2e-6)


def test_albers_roundtrip_both_grids():
    for srid in (5070, 102008):
        fwd, inv = C.from_lonlat(srid), C.to_lonlat(srid)
        for lon, lat in [(-85.0, 35.0), (-120.0, 47.0), (-96.0, 23.0),
                         (-70.0, 44.0), (-110.0, 30.0)]:
            lon2, lat2 = inv(*fwd(lon, lat))
            assert math.isclose(lon, lon2, abs_tol=1e-7), srid
            assert math.isclose(lat, lat2, abs_tol=1e-7), srid


# ---------------------------------------------------------------------------
# EPSG:3978 — Canada Atlas Lambert (parameterized LCC family)
# ---------------------------------------------------------------------------

def test_canada_lcc_origin_and_roundtrip():
    fwd, inv = C.from_lonlat(3978), C.to_lonlat(3978)
    assert fwd(-95.0, 49.0) == (0.0, 0.0)       # false origin at lat0/lon0
    for lon, lat in [(-106.0, 52.0), (-75.7, 45.4), (-123.1, 49.3),
                     (-63.6, 44.6)]:
        lon2, lat2 = inv(*fwd(lon, lat))
        assert math.isclose(lon, lon2, abs_tol=1e-9)
        assert math.isclose(lat, lat2, abs_tol=1e-9)


def test_nad83_utm_zone_range():
    """EPSG 269xx NAD83 UTM zones dispatch to the GRS80 TM path."""
    fwd, inv = C.from_lonlat(26910), C.to_lonlat(26910)   # zone 10N
    e, n = fwd(-123.0, 0.0)                               # central meridian
    assert math.isclose(e, 500000.0, abs_tol=1e-6)
    for lon, lat in [(-122.3, 47.6), (-121.5, 38.6)]:
        lon2, lat2 = inv(*fwd(lon, lat))
        assert math.isclose(lon, lon2, abs_tol=1e-9)
        assert math.isclose(lat, lat2, abs_tol=1e-9)
    assert C.to_lonlat(26924) is None and C.to_lonlat(26900) is None


# ---------------------------------------------------------------------------
# round-4 additions: Irish Grid, polar stereographic, Krovak,
# state-plane LCC, Australian Albers, MGA south zones
# ---------------------------------------------------------------------------

def test_irish_grid_projection_origin():
    """The raw TM grid (no datum shift) maps the true origin exactly."""
    fwd, inv = C._FAMILIES["tm"](
        C._AIRY_MOD, lat0=53.5, lon0=-8.0, k0=1.000035,
        fe=200000.0, fn=250000.0)
    assert fwd(-8.0, 53.5) == pytest.approx((200000.0, 250000.0),
                                            abs=1e-6)
    lon, lat = inv(*fwd(-6.26, 53.35))              # Dublin-ish
    assert (lon, lat) == pytest.approx((-6.26, 53.35), abs=1e-7)


def test_irish_grid_datum_shift_magnitude():
    """WGS84 -> TM75 Helmert moves Irish points by tens of meters
    (the documented ~30-80 m shift), and roundtrips through the full
    dispatch."""
    fwd, inv = C.from_lonlat(29902), C.to_lonlat(29902)
    raw_fwd, _ = C._FAMILIES["tm"](
        C._AIRY_MOD, lat0=53.5, lon0=-8.0, k0=1.000035,
        fe=200000.0, fn=250000.0)
    e1, n1 = fwd(-7.0, 53.0)
    e0, n0 = raw_fwd(-7.0, 53.0)
    shift = math.hypot(e1 - e0, n1 - n0)
    assert 20.0 < shift < 150.0
    assert inv(e1, n1) == pytest.approx((-7.0, 53.0), abs=1e-7)
    # 29903 (TM75) dispatches identically
    assert C.from_lonlat(29903)(-7.0, 53.0) == (e1, n1)


def test_polar_stereo_north_3413():
    fwd, inv = C.from_lonlat(3413), C.to_lonlat(3413)
    # pole maps to grid origin
    assert fwd(-45.0, 90.0) == pytest.approx((0.0, 0.0), abs=1e-6)
    # standard parallel on the central meridian: x=0, y=-a*m(70)
    x, y = fwd(-45.0, 70.0)
    assert x == pytest.approx(0.0, abs=1e-6)
    assert y == pytest.approx(-2188100, abs=2000)   # a*m(70) ~ 2188 km
    for lon, lat in [(-45.0, 70.0), (10.0, 75.5), (-120.0, 82.25)]:
        assert inv(*fwd(lon, lat)) == pytest.approx((lon, lat),
                                                    abs=1e-9)


def test_polar_stereo_south_3031():
    fwd, inv = C.from_lonlat(3031), C.to_lonlat(3031)
    assert fwd(0.0, -90.0) == pytest.approx((0.0, 0.0), abs=1e-6)
    x, y = fwd(0.0, -71.0)
    assert x == pytest.approx(0.0, abs=1e-6)
    assert y == pytest.approx(2083100, abs=2000)    # a*m(71) ~ 2083 km
    # grid-north toward Greenwich: +90E maps to +x
    x2, y2 = fwd(90.0, -71.0)
    assert x2 == pytest.approx(abs(y), abs=2000) and \
        y2 == pytest.approx(0.0, abs=1e-6)
    for lon, lat in [(0.0, -71.0), (135.0, -80.0), (-60.0, -75.25)]:
        assert inv(*fwd(lon, lat)) == pytest.approx((lon, lat),
                                                    abs=1e-9)


def test_krovak_gn7_worked_example():
    """IOGP Guidance Note 7-2 §3.6 test point (on the Bessel/S-JTSK
    datum, so the raw family is used): 50°12'32.442\"N
    16°50'59.179\"E -> southing 1050538.63, westing 568991.00."""
    fwd, inv = C._FAMILIES["krovak"](
        C._BESSEL1841, lat_c=49.5, lon0=42.5 - 17.0 - 40.0 / 60.0,
        alpha_c=30.0 + 17.0 / 60.0 + 17.3031 / 3600.0,
        lat_p=78.5, k_p=0.9999, fe=0.0, fn=0.0)
    lat = 50.0 + 12.0 / 60.0 + 32.442 / 3600.0
    lon = 16.0 + 50.0 / 60.0 + 59.179 / 3600.0
    e, n = fwd(lon, lat)
    assert e == pytest.approx(-568991.00, abs=0.1)
    assert n == pytest.approx(-1050538.63, abs=0.1)
    assert inv(e, n) == pytest.approx((lon, lat), abs=1e-9)


def test_krovak_5514_dispatch_roundtrip():
    fwd, inv = C.from_lonlat(5514), C.to_lonlat(5514)
    for lon, lat in [(14.42, 50.09), (17.1, 48.15), (18.2, 49.2)]:
        e, n = fwd(lon, lat)
        assert e < 0 and n < 0                       # EN axes negative
        assert inv(e, n) == pytest.approx((lon, lat), abs=1e-7)


def test_maryland_lcc_26985():
    fwd, inv = C.from_lonlat(26985), C.to_lonlat(26985)
    # 2SP grid origin by definition: (lat0, lon0) -> (FE, FN)
    lat0 = 37.0 + 40.0 / 60.0
    assert fwd(-77.0, lat0) == pytest.approx((400000.0, 0.0), abs=1e-6)
    assert inv(*fwd(-76.6, 39.3)) == pytest.approx((-76.6, 39.3),
                                                   abs=1e-9)


def test_australian_albers_3577():
    fwd, inv = C.from_lonlat(3577), C.to_lonlat(3577)
    assert fwd(132.0, 0.0) == pytest.approx((0.0, 0.0), abs=1e-6)
    for lon, lat in [(151.2, -33.87), (115.86, -31.95), (147.0, -42.9)]:
        assert inv(*fwd(lon, lat)) == pytest.approx((lon, lat),
                                                    abs=1e-7)


def test_mga_south_zones():
    """GDA94 / MGA 48S..58S dispatch to south-UTM on GRS80."""
    fwd, inv = C.from_lonlat(28355), C.to_lonlat(28355)   # zone 55
    e, n = fwd(147.0, -37.0)                              # lon0 = 147
    assert e == pytest.approx(500000.0, abs=1e-6)         # on meridian
    assert n < 10000000.0
    assert inv(e, n) == pytest.approx((147.0, -37.0), abs=1e-7)
    assert 28355 in C.supported_srids()


def test_new_codes_in_supported_srids():
    for srid in (29902, 29903, 3413, 3031, 5514, 26985, 3577):
        assert srid in C.supported_srids()


def test_cea_ease_grid_2():
    """Lambert Cylindrical Equal Area (EPSG 9835) — EPSG:6933
    EASE-Grid 2.0 Global.  Checks: exact round-trip, the published
    grid constants (full-earth extent: x = pi*a*cos(30)/sqrt(1-e2
    sin2 30) at lon 180 -> +-17,367,530.45 m, the EASE-Grid 2.0
    documented bound), and the equal-area property (area scale == 1
    everywhere, sampled numerically)."""
    import math

    from geohub_data_pipeline_spark.operators import crs as C

    fwd, inv = C.from_lonlat(6933), C.to_lonlat(6933)
    # documented EASE-Grid 2.0 global extent (NSIDC: +-17367530.45)
    x180, _ = fwd(180.0, 0.0)
    assert abs(x180 - 17367530.45) < 1.0
    # round-trip
    for lon, lat in [(0, 0), (100.25, 45.5), (-77.1, -33.3),
                     (179.9, 84.0), (-180.0, -84.0)]:
        lon2, lat2 = inv(*fwd(lon, lat))
        # authalic series (Snyder 3-18, truncated at e^6): ~1e-8 deg
        assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-7
    # equal-area: |J| == a^2 (1-e2 sin^2) cos(phi) ... simpler check:
    # numeric area of a small patch equals its ellipsoidal area
    a, f = 6378137.0, 1 / 298.257223563
    e2 = f * (2 - f)
    for lon, lat in [(10.0, 0.0), (10.0, 45.0), (10.0, 70.0)]:
        d = 1e-4
        xa, _ = fwd(lon - d, lat)
        xb, _ = fwd(lon + d, lat)
        _, ya = fwd(lon, lat - d)
        _, yb = fwd(lon, lat + d)
        planar = abs((xb - xa) * (yb - ya)) / 4.0
        phi = math.radians(lat)
        # ellipsoidal patch area: M * N * cos(phi) * dlam * dphi
        M = a * (1 - e2) / (1 - e2 * math.sin(phi) ** 2) ** 1.5
        N = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        true = (M * N * math.cos(phi)
                * math.radians(d) * math.radians(d))
        assert abs(planar / true - 1.0) < 1e-7, (lat, planar / true)


def test_cea_ease_grid_1_sphere():
    """EPSG:3410 EASE-Grid 1.0 Global: spherical degenerate case of
    the 9835 formulas (R=6371228, lat_ts=30)."""
    import math

    from geohub_data_pipeline_spark.operators import crs as C

    fwd, inv = C.from_lonlat(3410), C.to_lonlat(3410)
    R, lat_ts = 6371228.0, 30.0
    # spherical CEA closed form: x = R lam cos(lat_ts),
    # y = R sin(phi)/cos(lat_ts)
    for lon, lat in [(25.0, 10.0), (-140.0, -55.0)]:
        x, y = fwd(lon, lat)
        k = math.cos(math.radians(lat_ts))
        assert abs(x - R * math.radians(lon) * k) < 1e-6
        assert abs(y - R * math.sin(math.radians(lat)) / k) < 1e-6
        lon2, lat2 = inv(x, y)
        assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9


def test_mollweide_snyder_example():
    """Mollweide — Snyder 1987 §31 numerical example (p. 367):
    sphere R=1, lon0=-90, point (lon=-75, lat=50) ->
    (x=0.1788845, y=0.9208758).  Plus round-trip and the defining
    global constants (equator half-width 2*sqrt(2)R, pole y =
    sqrt(2)R)."""
    import math

    from geohub_data_pipeline_spark.operators.crs import _make_moll

    fwd, inv = _make_moll((1.0, 0.0), -90.0, 0.0, 0.0)
    x, y = fwd(-75.0, 50.0)
    assert abs(x - 0.1788845) < 1e-6
    assert abs(y - 0.9208758) < 1e-6
    lon2, lat2 = inv(x, y)
    assert abs(lon2 + 75.0) < 1e-6 and abs(lat2 - 50.0) < 1e-6

    from geohub_data_pipeline_spark.operators import crs as C
    fwd9, inv9 = C.from_lonlat(54009), C.to_lonlat(54009)
    R = 6378137.0
    x, y = fwd9(180.0, 0.0)
    assert abs(x - 2.0 * math.sqrt(2.0) * R) < 1e-3
    _, ypole = fwd9(0.0, 90.0)
    assert abs(ypole - math.sqrt(2.0) * R) < 1e-3
    for lon, lat in [(33.3, 12.5), (-120.0, -66.6)]:
        lon2, lat2 = inv9(*fwd9(lon, lat))
        assert abs(lon2 - lon) < 1e-8 and abs(lat2 - lat) < 1e-8


def test_cea_moll_from_wkt():
    """The WKT resolver dispatches Cylindrical_Equal_Area and
    Mollweide method names (ESRI 54034/54009-style .prj)."""
    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.operators import crs_wkt as CW

    wkt_cea = (
        'PROJCS["WGS 84 / NSIDC EASE-Grid 2.0 Global",GEOGCS["WGS 84",'
        'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
        'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Cylindrical_Equal_Area"],'
        'PARAMETER["standard_parallel_1",30],'
        'PARAMETER["central_meridian",0],'
        'PARAMETER["false_easting",0],'
        'PARAMETER["false_northing",0],UNIT["metre",1]]')
    fwd_w, _ = CW.pair_from_wkt(wkt_cea)
    xw, yw = fwd_w(100.25, 45.5)
    xt, yt = C.from_lonlat(6933)(100.25, 45.5)
    # sub-um agreement (the WKT path derives 1/f from the parsed
    # inverse flattening, a 1-ulp different ellipsoid)
    assert abs(xw - xt) < 1e-6 and abs(yw - yt) < 1e-6

    wkt_moll = (
        'PROJCS["World_Mollweide",GEOGCS["GCS_WGS_1984",'
        'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,'
        '298.257223563]],PRIMEM["Greenwich",0.0],'
        'UNIT["Degree",0.0174532925199433]],'
        'PROJECTION["Mollweide"],PARAMETER["False_Easting",0.0],'
        'PARAMETER["False_Northing",0.0],'
        'PARAMETER["Central_Meridian",0.0],UNIT["Meter",1.0]]')
    fwd_m, _ = CW.pair_from_wkt(wkt_moll)
    xm, ym = fwd_m(33.3, 12.5)
    xt, yt = C.from_lonlat(54009)(33.3, 12.5)
    assert abs(xm - xt) < 1e-6 and abs(ym - yt) < 1e-6


def test_every_srid_returns_scalars_on_float_input():
    """Both kernels of every supported srid take python floats and give
    float / numpy float64 scalars back (never 0-d arrays), near each
    CRS's own origin."""
    import numpy as np

    for srid in C.supported_srids():
        p = C._CRS_TABLE[srid][2]
        lon = p.get("lon0", p.get("lon_c", 0.0)) + 0.5
        lat = p.get("lat0", p.get("lat_c", p.get("lat_ts", 0.0)))
        lat = max(-80.0, min(80.0, lat)) + 0.5
        x, y = C.from_lonlat(srid)(lon, lat)
        lon2, lat2 = C.to_lonlat(srid)(float(x), float(y))
        for v in (x, y, lon2, lat2):
            assert type(v) in (float, np.float64), (srid, type(v))
            assert math.isfinite(v), srid
