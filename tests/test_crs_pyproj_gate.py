"""The pyproj FALLBACK leg of the CRS engine (r10 verdict next #8).

``geometry._reproject_array`` routes any EPSG code
outside the closed-form families (``crs.DECLARED_SRID_RANGES``) to
pyproj when it is installed, and raise NotImplementedError (which
``normalize_features`` turns into drop+audit) when it is not.  This
environment ships WITHOUT pyproj, so the fallback itself can silently
rot: the tests below run the real fallback in a pyproj venv and are
skipped-with-reason here, while the absent-path contract (loud raise,
drop-audited) is pinned unconditionally.
"""

import numpy as np
import pytest

from geohub_data_pipeline_spark.operators import geometry as G
from geohub_data_pipeline_spark.operators.crs import DECLARED_SRID_RANGES

try:
    import pyproj  # noqa: F401
    HAVE_PYPROJ = True
except ImportError:
    HAVE_PYPROJ = False

# 10 real EPSG codes OUTSIDE every declared closed-form range —
# asserted below so boundary growth can't silently hollow this test.
_OUT_OF_BOUNDARY = [
    23700,  # HD72 / EOV (Hungarian oblique)
    27200,  # NZGD49 / New Zealand Map Grid (oblique conformal)
    5880,   # SIRGAS 2000 / Brazil Polyconic
    20790,  # Lisbon (Lisbon) / Portuguese Bonne
    24200,  # JAD69 / Jamaica National Grid
    26391,  # Minna / Nigeria West Belt
    29700,  # Tananarive (Paris) / Laborde Grid
    30200,  # Trinidad 1903 / Trinidad Grid (Cassini)
    21500,  # BD50 (Brussels) / Belge Lambert 50
    22832,  # Douala / AOF west zone
]


def _declared(srid: int) -> bool:
    return any(lo <= srid <= hi for lo, hi in DECLARED_SRID_RANGES)


def test_probe_codes_are_outside_the_declared_boundary():
    inside = [s for s in _OUT_OF_BOUNDARY if _declared(s)]
    assert inside == [], (
        f"{inside} joined the closed-form boundary — move them out of "
        "the pyproj-gate probe set")


@pytest.mark.skipif(not HAVE_PYPROJ, reason=(
    "pyproj not installed in this environment — the fallback leg runs "
    "in a pyproj venv only (the absent-path contract is tested below)"))
def test_pyproj_fallback_roundtrips_out_of_boundary_srids():
    """Forward with pyproj, inverse through OUR fallback: agreement to
    ~1e-6 deg proves the gate hands coordinates through correctly."""
    from pyproj import Transformer

    for srid in _OUT_OF_BOUNDARY:
        lon, lat = 12.0, 47.0          # generic mid-latitude probe
        fwd = Transformer.from_crs(4326, srid, always_xy=True)
        x, y = fwd.transform(lon, lat)
        arr = np.array([[x, y]], dtype=float)
        got = G._reproject_array(arr, srid, None)[0]
        assert got[0] == pytest.approx(lon, abs=1e-6)
        assert got[1] == pytest.approx(lat, abs=1e-6)


@pytest.mark.skipif(HAVE_PYPROJ, reason=(
    "pyproj installed: the absent-path raise cannot fire here"))
def test_absent_pyproj_raises_loudly_for_unknown_srid():
    """Without pyproj an out-of-boundary srid must raise
    NotImplementedError naming the gate — normalize_features converts
    this into drop+audit (geometry.py drop-audit consumer), never a
    silently wrong coordinate."""
    for srid in _OUT_OF_BOUNDARY[:3]:
        with pytest.raises(NotImplementedError, match="pyproj"):
            G._reproject_array(
                np.array([[600000.0, 200000.0]]), srid, None)
