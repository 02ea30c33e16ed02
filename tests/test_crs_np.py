"""Array CRS kernels (operators/crs.py): ONE kernel pair per family
serves both numpy arrays and python floats.  Every covered table srid
sweeps a grid of points in both directions: the batch round-trips to
its input, and the same kernel called point by point on floats (the
scalar call) agrees with the batch call."""

import numpy as np
import pytest

from geohub_data_pipeline_spark.operators import crs as C

# srid -> a plausible lon/lat window (lon0, lon1, lat0, lat1)
_WINDOWS = {
    2154: (-4.5, 8.0, 42.0, 51.0),       # Lambert-93
    31370: (2.6, 6.3, 49.6, 51.4),       # Belgian L72 (pole-origin)
    3978: (-135.0, -55.0, 42.0, 80.0),   # Canada Atlas LCC
    26985: (-79.5, -75.0, 37.9, 39.7),   # Maryland
    27572: (-4.0, 7.5, 42.5, 51.0),      # NTF Lambert II (Helmert)
    3112: (112.0, 154.0, -44.0, -10.0),  # GA Lambert (southern)
    28992: (3.3, 7.2, 50.7, 53.6),       # RD New (sterea + Helmert)
    27700: (-8.0, 1.8, 49.9, 60.8),      # OSGB (TM + Helmert)
    31467: (7.5, 10.5, 47.3, 55.0),      # DHDN GK3 (TM + Helmert)
    23031: (0.0, 6.0, 38.0, 52.0),       # ED50 UTM31 (TM + Helmert)
    26714: (-102.0, -96.0, 26.0, 49.0),  # NAD27 UTM14
    2180: (14.1, 24.2, 49.0, 55.0),      # Poland CS92
    3035: (-10.0, 35.0, 34.0, 70.0),     # LAEA Europe (oblique)
    6931: (-180.0, 180.0, 25.0, 89.0),   # EASE2-N (polar LAEA)
    6932: (-180.0, 180.0, -89.0, -25.0), # EASE2-S
    2163: (-125.0, -65.0, 24.0, 50.0),   # Atlas sphere LAEA
    3573: (-180.0, 180.0, 45.0, 89.0),   # North Pole LAEA Canada
    3413: (-180.0, 180.0, 35.0, 89.0),   # NSIDC PS North
    3031: (-180.0, 180.0, -89.0, -50.0), # Antarctic PS
    32661: (-180.0, 180.0, 60.0, 89.0),  # UPS North (variant A)
    6933: (-179.0, 179.0, -80.0, 80.0),  # EASE2 global CEA
    3410: (-179.0, 179.0, -80.0, 80.0),  # EASE1 sphere CEA
    5070: (-125.0, -66.0, 24.0, 50.0),   # CONUS Albers
    3577: (112.0, 154.0, -44.0, -10.0),  # Australian Albers
    102003: (-125.0, -66.0, 24.0, 50.0), # ESRI USA Albers
    2193: (166.0, 179.0, -47.5, -34.0),  # NZTM (plain TM)
    5514: (12.1, 22.5, 47.8, 51.0),      # Krovak (Helmert)
    2056: (6.0, 10.5, 45.8, 47.8),       # Swiss LV95 (HOM-B)
    21781: (6.0, 10.5, 45.8, 47.8),      # Swiss LV03
    54009: (-170.0, 170.0, -80.0, 80.0), # World Mollweide
    54034: (-170.0, 170.0, -80.0, 80.0), # World CEA
}


def _grid(w, n=9):
    lon = np.linspace(w[0], w[1], n)
    lat = np.linspace(w[2], w[3], n)
    LO, LA = np.meshgrid(lon, lat)
    return LO.ravel(), LA.ravel()


def _check_pair(fwd, inv, w, label, n=9, fwd_step=7, inv_step=11):
    """Batch round trip within 5e-7 deg; float calls match the batch."""
    lon, lat = _grid(w, n)
    X, Y = fwd(lon, lat)
    LO, LA = inv(X, Y)
    dlon = np.abs(LO - lon)
    dlon = np.minimum(dlon, 360.0 - dlon)   # +-180 are one meridian
    # 5e-7 deg (~5 cm): the Helmert codes' ECEF iteration tolerance
    assert np.max(dlon) < 5e-7, label
    assert np.max(np.abs(LA - lat)) < 5e-7, label
    for i in range(0, len(lon), fwd_step):
        xs, ys = fwd(float(lon[i]), float(lat[i]))
        assert abs(X[i] - xs) < 1e-5 and abs(Y[i] - ys) < 1e-5, \
            (label, lon[i], lat[i], X[i], xs)
    for i in range(0, len(lon), inv_step):
        lo_s, la_s = inv(float(X[i]), float(Y[i]))
        d = abs(LO[i] - lo_s)
        assert min(d, 360.0 - d) < 1e-9 and abs(LA[i] - la_s) < 1e-9, \
            (label, X[i], Y[i])


@pytest.mark.parametrize("srid", sorted(_WINDOWS))
def test_np_matches_scalar_both_directions(srid):
    _check_pair(C.from_lonlat(srid), C.to_lonlat(srid), _WINDOWS[srid],
                srid)


def test_dispatch_returns_np_kernels():
    """to_lonlat / from_lonlat return array kernels for every table
    family, including Helmert grids — the normalize and warp paths."""
    lon = np.array([5.0, 6.0, 7.0])
    lat = np.array([50.0, 51.0, 52.0])
    for srid in (2154, 28992, 27700, 3035, 6931, 3413, 5070, 6933,
                 31467, 23031, 5514, 2056, 54009, 32633):
        x, y = C.from_lonlat(srid)(lon, lat)
        lo, la = C.to_lonlat(srid)(x, y)
        assert x.shape == y.shape == lo.shape == la.shape == (3,), srid


def test_np_scalar_parity_scalar_inputs():
    """The kernels accept python floats too and give scalars back."""
    fwd, inv = C.from_lonlat(2154), C.to_lonlat(2154)
    x, y = fwd(2.35, 48.85)
    lo, la = inv(float(x), float(y))
    assert abs(lo - 2.35) < 1e-9 and abs(la - 48.85) < 1e-9
    X, Y = fwd(np.array([2.35]), np.array([48.85]))
    assert X[0] == x and Y[0] == y


_MODIS_SINU = """PROJCS["MODIS Sinusoidal",
 GEOGCS["WGS 84",DATUM["WGS_1984",
  SPHEROID["WGS 84",6378137,298.257223563]],
  PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],
 PROJECTION["Sinusoidal"],
 PARAMETER["central_meridian",0],PARAMETER["false_easting",0],
 PARAMETER["false_northing",0],UNIT["metre",1]]"""


def test_wkt_np_kernels_match_scalar():
    """pair_from_wkt builds array kernels from the parsed parameters —
    round trip and float-call parity across the fixture bank (ftUS
    units, TOWGS84 Helmert, Ferro meridian, aux-sphere Mercator, MODIS
    sinusoidal)."""
    from tests.test_crs_wkt import (
        _WKT_2263_FTUS,
        _WKT_27700,
        _WKT_5514_FERRO,
        _WKT_AUX_SPHERE,
        _WKT_ESRI_UTM33,
    )
    from geohub_data_pipeline_spark.operators import crs_wkt as CW

    cases = {
        _WKT_27700: (-5.0, 1.5, 50.2, 58.0),
        _WKT_ESRI_UTM33: (12.5, 17.5, 1.0, 70.0),
        _WKT_2263_FTUS: (-74.2, -71.9, 40.5, 41.2),
        _WKT_5514_FERRO: (12.5, 22.0, 48.0, 51.0),
        _WKT_AUX_SPHERE: (-170.0, 170.0, -80.0, 80.0),
        _MODIS_SINU: (-170.0, 170.0, -80.0, 80.0),
    }
    for wkt, w in cases.items():
        pair = CW.pair_from_wkt(wkt)
        assert pair is not None, wkt[:40]
        _check_pair(*pair, w, wkt[:40], n=7, fwd_step=5, inv_step=5)


def test_reproject_array_uses_np_wkt_path():
    """normalize's array reprojector takes the WKT kernel route
    for srid-0 + embedded-WKT features (e.g. MODIS sinusoidal or an
    AUTHORITY-less .prj)."""
    from geohub_data_pipeline_spark.operators import crs_wkt as CW
    from geohub_data_pipeline_spark.operators import geometry as G

    fwd = CW.from_lonlat_wkt(_MODIS_SINU)
    lon = np.linspace(-150, 150, 400)
    lat = np.linspace(-70, 70, 400)
    arr = np.column_stack(fwd(lon, lat))
    out = G._reproject_array(arr, 0, _MODIS_SINU)
    assert np.max(np.abs(out[:, 0] - lon)) < 1e-7
    assert np.max(np.abs(out[:, 1] - lat)) < 1e-7
