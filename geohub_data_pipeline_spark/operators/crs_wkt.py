"""WKT1 CRS parser → closed-form transform pairs.

The reference reprojects any OGR-known SRS by shelling out to
GDAL/PROJ (ref ingest/processing.py:142-150, ``-t_srs``); PROJ
resolves the source CRS from the dataset's embedded WKT (.prj
sidecars, ``gpkg_spatial_ref_sys.definition``, FileGDB spatial-ref
blocks).  This module does the same resolution without PROJ: it
parses the OGC 01-009 / ESRI WKT1 text and instantiates the matching
closed-form projection family from ``operators/crs.py`` — so ANY
Transverse Mercator / Lambert Conformal Conic (1SP+2SP) / Albers /
Lambert Azimuthal / Polar Stereographic (A+B) / Mercator (1SP, 2SP,
auxiliary-sphere) / Hotine Oblique Mercator (variant A natural-origin
AND variant B azimuth-center) / Oblique Stereographic / Krovak CRS
reprojects from its WKT, not just the EPSG codes in the built-in
table.

Handled per the WKT1 spec:

* ``SPHEROID[name, a, 1/f]`` — any ellipsoid (1/f = 0 → sphere);
* ``TOWGS84[dx,dy,dz,rx,ry,rz,ds]`` — 3/7-parameter position-vector
  datum shift (EPSG 9606), routed through the ECEF Helmert path;
* ``PRIMEM[name, lon]`` — non-Greenwich prime meridians (Ferro,
  Paris) shift the central meridian;
* ``UNIT`` — projected CRSs in feet / US survey feet / links work:
  false eastings and output coordinates honour the linear unit
  factor; PARAMETER angles honour the geographic angular unit
  (degree / grad);
* ``GEOGCS``-rooted WKT — identity on (lon, lat) plus the datum
  shift if a TOWGS84 is present.

Family coverage matches GDAL's WKT1 PROJECTION names plus the common
ESRI aliases.  All projection math lives in ``operators/crs.py`` (one
numpy kernel per family) and is pinned by published IOGP GN7-2 worked
examples in ``tests/test_crs.py``; this module only parses and
dispatches, so a resolved pair takes coordinate arrays like the
table kernels do.
"""

from __future__ import annotations

import math

from geohub_data_pipeline_spark.operators.crs import (
    _FAMILIES,
    _with_datum,
    merc_2sp_k0,
)

_DEG_PER_RAD = 180.0 / math.pi


# ---------------------------------------------------------------------------
# WKT1 tokenizer + recursive-descent parser
# ---------------------------------------------------------------------------

class Node:
    """One WKT node: ``NAME[v, v, ...]`` — values are str, float, or
    child Nodes."""

    __slots__ = ("name", "values")

    def __init__(self, name: str, values: list):
        self.name = name
        self.values = values

    def children(self, name: str) -> list["Node"]:
        up = name.upper()
        return [v for v in self.values
                if isinstance(v, Node) and v.name.upper() == up]

    def child(self, name: str) -> "Node | None":
        found = self.children(name)
        return found[0] if found else None


def parse_wkt(text: str) -> Node:
    """Parse a WKT1 string into a Node tree.  Accepts ``[]`` or
    ``()`` brackets and arbitrary whitespace (both appear in the
    wild)."""
    s = text
    n = len(s)
    pos = 0

    def skip_ws():
        nonlocal pos
        while pos < n and s[pos] in " \t\r\n":
            pos += 1

    def parse_value():
        nonlocal pos
        skip_ws()
        if pos >= n:
            raise ValueError("wkt: unexpected end of input")
        ch = s[pos]
        if ch == '"':
            end = s.index('"', pos + 1)
            out = s[pos + 1:end]
            pos = end + 1
            return out
        # bare token: identifier (possibly a node) or number
        start = pos
        while pos < n and s[pos] not in '[](),"':
            pos += 1
        tok = s[start:pos].strip()
        skip_ws()
        if pos < n and s[pos] in "[(":
            open_ch = s[pos]
            close_ch = "]" if open_ch == "[" else ")"
            pos += 1
            values = []
            skip_ws()
            if pos < n and s[pos] == close_ch:
                pos += 1
                return Node(tok, values)
            while True:
                values.append(parse_value())
                skip_ws()
                if pos < n and s[pos] == ",":
                    pos += 1
                    continue
                if pos < n and s[pos] == close_ch:
                    pos += 1
                    return Node(tok, values)
                raise ValueError(f"wkt: expected ',' or '{close_ch}' "
                                 f"at offset {pos}")
        try:
            return float(tok)
        except ValueError:
            return tok       # bare keyword (e.g. axis direction NORTH)

    root = parse_value()
    if not isinstance(root, Node):
        raise ValueError("wkt: input is not a WKT node")
    return root


# ---------------------------------------------------------------------------
# Parameter extraction
# ---------------------------------------------------------------------------

def _params_of(projcs: Node) -> dict[str, float]:
    out = {}
    for p in projcs.children("PARAMETER"):
        if len(p.values) >= 2 and isinstance(p.values[0], str):
            try:
                out[_norm(p.values[0])] = float(p.values[1])
            except (TypeError, ValueError):
                continue
    return out


def _params_of_wkt2(conv: Node) -> dict[str, float]:
    """WKT2 CONVERSION parameters normalized to DEGREES (angles) and
    METERS (lengths) using each PARAMETER's own ANGLEUNIT/LENGTHUNIT
    child (ISO 19162 §9.4 — e.g. NTF Lamberts carry grads); unitless
    (SCALEUNIT) parameters pass through."""
    out = {}
    for p in conv.children("PARAMETER"):
        if len(p.values) < 2 or not isinstance(p.values[0], str):
            continue
        try:
            v = float(p.values[1])
        except (TypeError, ValueError):
            continue
        au = p.child("ANGLEUNIT")
        lu = p.child("LENGTHUNIT")
        if au is not None and len(au.values) >= 2:
            try:
                f = float(au.values[1]) * _DEG_PER_RAD
                # WKT carries the rounded decimal rad/deg factor:
                # snap the near-1 product so degree params stay exact
                v *= 1.0 if abs(f - 1.0) < 1e-12 else f
            except (TypeError, ValueError):
                pass
        elif lu is not None and len(lu.values) >= 2:
            try:
                v = float(lu.values[1]) * v
            except (TypeError, ValueError):
                pass
        out[_norm(p.values[0])] = v
    return out


def _unit_factor(node: Node, default: float,
                 kinds: tuple[str, ...] = ("UNIT",)) -> float:
    """The UNIT conversion factor directly under ``node`` (linear for
    PROJCS — meters per unit; angular for GEOGCS — radians per
    unit).  WKT2 spells the keyword ``ANGLEUNIT``/``LENGTHUNIT`` and
    may park it under CS/AXIS — pass the kinds to search."""
    u = None
    for kind in kinds:
        u = node.child(kind)
        if u is not None:
            break
    if u is None:
        # WKT2: the unit may live on the AXIS nodes instead
        for ax in node.children("AXIS"):
            for kind in kinds:
                u = ax.child(kind)
                if u is not None:
                    break
            if u is not None:
                break
    if u is None or len(u.values) < 2:
        return default
    try:
        return float(u.values[1])
    except (TypeError, ValueError):
        return default


def _datum_node(geogcs: Node) -> Node | None:
    """DATUM (WKT1/WKT2), TRF, or ENSEMBLE (WKT2 datum ensemble)."""
    return (geogcs.child("DATUM") or geogcs.child("TRF")
            or geogcs.child("ENSEMBLE"))


def _spheroid(geogcs: Node) -> tuple[float, float]:
    datum = _datum_node(geogcs)
    sph = (datum.child("SPHEROID") or datum.child("ELLIPSOID")) \
        if datum else None
    if sph is None or len(sph.values) < 3:
        raise ValueError("wkt: no SPHEROID")
    a = float(sph.values[1])
    # WKT2 allows a LENGTHUNIT on the ellipsoid (non-metre axes)
    lu = sph.child("LENGTHUNIT")
    if lu is not None and len(lu.values) >= 2:
        try:
            a *= float(lu.values[1])
        except (TypeError, ValueError):
            pass
    rf = float(sph.values[2])
    f = 0.0 if rf == 0.0 else 1.0 / rf
    return a, f


# datum name -> datum->WGS84 position-vector params [dx dy dz rx ry
# rz ds] for the common datums whose ESRI .prj files carry NO TOWGS84
# clause (ESRI resolves them from its own datum database; the values
# are the published EPSG single-transform defaults, the same ones
# PROJ's datum tables apply).  Names normalized via _norm().
_DATUM_SHIFTS: dict[str, tuple] = {
    # OSGB 1936 (OS "A guide to coordinate systems in GB")
    "osgb1936": (446.448, -125.157, 542.06, 0.15, 0.247, 0.842,
                 -20.489),
    "dosgb1936": (446.448, -125.157, 542.06, 0.15, 0.247, 0.842,
                  -20.489),
    "ordnancesurveyofgreatbritain1936": (
        446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.489),
    # TM65 / TM75 (EPSG:1953)
    "tm65": (482.5, -130.596, 564.557, -1.042, -0.214, -0.631, 8.15),
    "tm75": (482.5, -130.596, 564.557, -1.042, -0.214, -0.631, 8.15),
    # S-JTSK (EPSG:1623)
    "sjtsk": (589.0, 76.0, 480.0, 0.0, 0.0, 0.0, 0.0),
    "systemjednotnetrigonometrickesitekatastralni": (
        589.0, 76.0, 480.0, 0.0, 0.0, 0.0, 0.0),
    # Amersfoort (EPSG:15934-era default, RDNAPTRANS-compatible)
    "amersfoort": (565.417, 50.3319, 465.552, -0.398957, 0.343988,
                   -1.8774, 4.0725),
    "damersfoort": (565.417, 50.3319, 465.552, -0.398957, 0.343988,
                    -1.8774, 4.0725),
    # CH1903+ (EPSG:1676, geocentric translations)
    "ch1903": (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0),
    "dch1903": (674.374, 15.056, 405.346, 0.0, 0.0, 0.0, 0.0),
    # NTF / NTF (Paris) (EPSG:1193)
    "ntf": (-168.0, -60.0, 320.0, 0.0, 0.0, 0.0, 0.0),
    "nouvelletriangulationfrancaise": (-168.0, -60.0, 320.0,
                                       0.0, 0.0, 0.0, 0.0),
    # DHDN / Potsdam (EPSG:1777)
    "dhdn": (598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7),
    "deutscheshauptdreiecksnetz": (598.1, 73.7, 418.2, 0.202, 0.045,
                                   -2.455, 6.7),
    "potsdam": (598.1, 73.7, 418.2, 0.202, 0.045, -2.455, 6.7),
}


def _towgs84(geogcs: Node) -> tuple | None:
    """WGS84->datum Helmert params in crs.py order
    (tx, ty, tz, s_ppm, rx, ry, rz), or None if absent/zero.

    WKT1 TOWGS84 is the datum->WGS84 position-vector transform
    ``[dx, dy, dz, rx, ry, rz, ds]`` (EPSG 9606); negating every
    parameter gives the WGS84->datum direction to first order (the
    convention ``_CRS_TABLE`` stores).  When the clause is absent —
    every ESRI .prj — the DATUM name is looked up in the published
    defaults (``_DATUM_SHIFTS``), the same resolution GDAL/PROJ give
    the reference."""
    datum = _datum_node(geogcs)
    t = datum.child("TOWGS84") if datum else None
    if t is None:
        t = geogcs.child("TOWGS84")
    if t is None:
        if datum is not None and datum.values \
                and isinstance(datum.values[0], str):
            name = _norm(datum.values[0])
            shift = _DATUM_SHIFTS.get(name) \
                or _DATUM_SHIFTS.get(name.removeprefix("d"))
            if shift is not None:
                dx, dy, dz, rx, ry, rz, ds = shift
                return (-dx, -dy, -dz, -ds, -rx, -ry, -rz)
        return None
    vals = [float(v) for v in t.values if isinstance(v, (int, float))]
    vals += [0.0] * (7 - len(vals))
    dx, dy, dz, rx, ry, rz, ds = vals[:7]
    if not any(vals[:7]):
        return None
    return (-dx, -dy, -dz, -ds, -rx, -ry, -rz)


def _primem_deg(geogcs: Node, ang: float) -> float:
    pm = geogcs.child("PRIMEM")
    if pm is None or len(pm.values) < 2:
        return 0.0
    # WKT2: the meridian may carry its own ANGLEUNIT (e.g. Paris in
    # grads) overriding the CRS-level angular unit
    au = pm.child("ANGLEUNIT")
    if au is not None and len(au.values) >= 2:
        try:
            ang = float(au.values[1])
        except (TypeError, ValueError):
            pass
    try:
        return float(pm.values[1]) * ang * _DEG_PER_RAD
    except (TypeError, ValueError):
        return 0.0


def _norm(name: str) -> str:
    return "".join(c for c in name.lower() if c.isalnum())


# ---------------------------------------------------------------------------
# Projection dispatch
# ---------------------------------------------------------------------------

def _get(params, names, default=None):
    for nm in names:
        if nm in params:
            return params[nm]
    return default


# normalized (_norm) lookup names: WKT1 snake_case, ESRI, and the
# WKT2/EPSG spelled-out forms all collapse onto these
_LAT0 = ("latitudeoforigin", "latitudeofcenter",
         "latitudeofnaturalorigin", "latitudeoffalseorigin",
         "latitudeofprojectioncentre", "latitudeofprojectioncenter")
_LON0 = ("centralmeridian", "longitudeofcenter",
         "longitudeofnaturalorigin", "longitudeoffalseorigin",
         "longitudeofprojectioncentre", "longitudeofprojectioncenter",
         "longitudeoforigin")
_SP1 = ("standardparallel1", "standardparallel",
        "latitudeof1ststandardparallel", "latitudeofstandardparallel")
_SP2 = ("standardparallel2", "latitudeof2ndstandardparallel")
_K0 = ("scalefactor", "scalefactoratnaturalorigin",
       "scalefactoroninitialline",
       "scalefactoronpseudostandardparallel")
_FE = ("falseeasting", "eastingatfalseorigin",
       "eastingatprojectioncentre")
_FN = ("falsenorthing", "northingatfalseorigin",
       "northingatprojectioncentre")
_AZI = ("azimuth", "azimuthofinitialline",
        "azimuthatprojectioncentre", "colatitudeofconeaxis")
_GAM = ("rectifiedgridangle", "anglefromrectifiedtoskewgrid",
        "xyplanerotation")
_PSP = ("pseudostandardparallel1", "latitudeofpseudostandardparallel")


def _build_projected(proj_name: str, params: dict, ellps, ang: float,
                     u: float):
    """(fwd, inv) in METERS from the projection method name + raw
    PARAMETER dict.  ``ang`` converts angle params to degrees."""

    def mk(family, **kw):
        return _FAMILIES[family](ellps, **kw)

    def angle(names, default=0.0):
        v = _get(params, names)
        return default if v is None else v * ang * _DEG_PER_RAD

    def linear(names, default=0.0):
        v = _get(params, names)
        return default if v is None else v * u

    nm = _norm(proj_name)
    lat0 = angle(_LAT0)
    lon0 = angle(_LON0)
    sp1 = _get(params, _SP1)
    sp2 = _get(params, _SP2)
    k0 = _get(params, _K0, 1.0)
    fe = linear(_FE)
    fn = linear(_FN)

    if nm in ("transversemercator", "gausskruger", "gaussboaga",
              "transversemercatorsouthorientated"):
        return mk("tm", lat0=lat0, lon0=lon0, k0=k0, fe=fe, fn=fn)

    if nm.startswith(("lambertconformalconic",
                      "lambertconicconformal")):
        if sp2 is not None and sp1 is not None and sp1 != sp2:
            return mk("lcc2", lat0=lat0, lon0=lon0,
                      sp1=sp1 * ang * _DEG_PER_RAD,
                      sp2=sp2 * ang * _DEG_PER_RAD, fe=fe, fn=fn)
        # 1SP: standard parallel = latitude of origin, k0 applies
        sp = (sp1 * ang * _DEG_PER_RAD) if sp1 is not None else lat0
        return mk("lcc2", lat0=sp, lon0=lon0, sp1=sp, sp2=sp,
                  fe=fe, fn=fn, k0=k0)

    if nm in ("albersconicequalarea", "albers", "albersequalarea"):
        return mk("aea", lat0=lat0, lon0=lon0, sp1=angle(_SP1),
                  sp2=angle(_SP2), fe=fe, fn=fn)

    if nm == "lambertazimuthalequalarea":
        return mk("laea", lat0=lat0, lon0=lon0, fe=fe, fn=fn)

    if nm in ("polarstereographic", "stereographicnorthpole",
              "stereographicsouthpole",
              "polarstereographicvariantb",
              "polarstereographicvarianta"):
        lat_ts = angle(_SP1 + _LAT0, default=90.0)
        if abs(lat_ts) >= 90.0 - 1e-12:
            # variant A (scale factor at the pole): UPS-style
            return mk("ps", lat_ts=math.copysign(90.0, lat_ts),
                      lon0=lon0, fe=fe, fn=fn, k0=k0)
        return mk("ps", lat_ts=lat_ts, lon0=lon0, fe=fe, fn=fn)

    if nm in ("mercator1sp", "mercator", "mercator2sp",
              "mercatorvarianta", "mercatorvariantb"):
        if sp1 is not None and nm != "mercator1sp":
            k0 = merc_2sp_k0(ellps, sp1 * ang * _DEG_PER_RAD)
        return mk("merc", lon0=lon0, k0=k0, fe=fe, fn=fn)

    if nm in ("mercatorauxiliarysphere",
              "popularvisualisationpseudomercator"):
        # ESRI web-Mercator: spherical formulas on the semi-major axis
        return mk("merc", lon0=lon0, k0=k0, fe=fe, fn=fn,
                  spherical=True)

    if nm in ("hotineobliquemercatorazimuthcenter",
              "hotineobliquemercatortwopointcenter",
              "hotineobliquemercatorvariantb",
              "obliquemercator",
              "swissobliquecylindrical", "swissobliquemercator",
              "rectifiedskeworthomorphiccenter"):
        azi = angle(_AZI, 90.0)
        gam = angle(_GAM, azi)
        return mk("homvb", lat_c=lat0, lon_c=lon0, alpha_c=azi,
                  gamma_c=gam, k_c=k0, fe=fe, fn=fn)

    if nm in ("hotineobliquemercator",          # GDAL name, EPSG 9812
              "hotineobliquemercatorvarianta",
              "hotineobliquemercatorazimuthnaturalorigin",  # ESRI
              "rectifiedskeworthomorphicnaturalorigin"):
        # variant A: same construction, FE/FN at the NATURAL ORIGIN
        # (u=v=0) instead of the projection center — the common ESRI
        # .prj export (e.g. NAD83 Michigan Oblique Mercator)
        azi = angle(_AZI, 90.0)
        gam = angle(_GAM, azi)
        return mk("homvb", lat_c=lat0, lon_c=lon0, alpha_c=azi,
                  gamma_c=gam, k_c=k0, fe=fe, fn=fn,
                  natural_origin=True)

    if nm in ("obliquestereographic", "doublestereographic",
              "stereographic"):
        return mk("sterea", lat0=lat0, lon0=lon0, k0=k0,
                  fe=fe, fn=fn)

    if nm == "sinusoidal":
        return mk("sinu", lon0=lon0, fe=fe, fn=fn)

    if nm in ("cylindricalequalarea", "lambertcylindricalequalarea",
              "lambertcylindricalequalareaspherical", "behrmann"):
        return mk("cea", lat_ts=angle(_SP1, 0.0), lon0=lon0,
                  fe=fe, fn=fn)

    if nm == "mollweide":
        return mk("moll", lon0=lon0, fe=fe, fn=fn)

    if nm in ("equirectangular", "equidistantcylindrical",
              "platecarree", "plate_carree"):
        lat_ts = _get(params, _SP1)
        lat_ts = (lat_ts * ang * _DEG_PER_RAD) if lat_ts is not None \
            else 0.0
        return mk("eqc", lat_ts=lat_ts, lat0=lat0, lon0=lon0,
                  fe=fe, fn=fn)

    if nm == "krovak":
        psp = angle(_PSP, 78.5)
        return mk("krovak", lat_c=lat0, lon0=lon0,
                  alpha_c=angle(_AZI, 30.28813972222222),
                  lat_p=psp, k_p=k0, fe=fe, fn=fn)

    return None


def pair_from_wkt(wkt: str):
    """(fwd, inv) closures for a CRS text — WKT1, WKT2 (ISO 19162),
    or PROJJSON — WGS84 (lon, lat) degrees on the geographic side and
    CRS-native units on the projected side; None if the projection
    method is outside the closed-form families.  The pair is built
    from the array kernels of ``operators/crs.py``; the
    prime-meridian/unit wrappers below are plain arithmetic, so the
    pair takes arrays (or floats) like the table kernels.

    Raises ``ValueError`` on malformed input (callers treat that the
    same as None under ``-skipfailures``)."""
    if wkt.lstrip().startswith("{"):
        return pair_from_projjson(wkt)
    root = parse_wkt(wkt)
    rname = root.name.upper()

    if rname in ("PROJCRS", "PROJECTEDCRS"):
        return _pair_from_wkt2_projected(root)

    if rname == "BOUNDCRS":
        return _pair_from_boundcrs(root)

    if rname in ("GEOGCS", "GEOGCRS", "GEOGRAPHICCRS", "GEODCRS"):
        ellps = _spheroid(root)
        ang = _unit_factor(root, math.pi / 180.0,
                           kinds=("UNIT", "ANGLEUNIT"))
        helmert = _towgs84(root)
        scale = ang * _DEG_PER_RAD        # units -> degrees
        if abs(scale - 1.0) < 1e-12:
            scale = 1.0                   # rounded rad/deg in text
        primem = _primem_deg(root, ang)   # e.g. Paris-referenced lons

        def fwd_g(lon: float, lat: float) -> tuple[float, float]:
            return (lon - primem) / scale, lat / scale

        def inv_g(x: float, y: float) -> tuple[float, float]:
            return x * scale + primem, y * scale

        if helmert is not None:
            # datum-shift the lon/lat through ECEF; identity "grid"
            fwd_d, inv_d = _with_datum(
                lambda lon, lat: (lon, lat),
                lambda x, y: (x, y), ellps, helmert)
            return (lambda lon, lat: fwd_g(*fwd_d(lon, lat)),
                    lambda x, y: inv_d(*inv_g(x, y)))
        return fwd_g, inv_g

    if rname != "PROJCS":
        return None

    geogcs = root.child("GEOGCS")
    if geogcs is None:
        raise ValueError("wkt: PROJCS without GEOGCS")
    ellps = _spheroid(geogcs)
    ang = _unit_factor(geogcs, math.pi / 180.0)
    u = _unit_factor(root, 1.0)
    primem = _primem_deg(geogcs, ang)
    proj = root.child("PROJECTION")
    if proj is None or not proj.values:
        raise ValueError("wkt: PROJCS without PROJECTION")
    params = _params_of(root)

    made = _build_projected(str(proj.values[0]), params, ellps, ang, u)
    if made is None:
        return None
    fwd_m, inv_m = made

    if primem != 0.0:
        # PARAMETER longitudes are relative to the prime meridian;
        # shift incoming Greenwich longitudes into that frame
        base_fwd, base_inv = fwd_m, inv_m

        def fwd_m(lon, lat, _f=base_fwd):
            return _f(lon - primem, lat)

        def inv_m(x, y, _i=base_inv):
            lon, lat = _i(x, y)
            return lon + primem, lat

    helmert = _towgs84(geogcs)
    if helmert is not None:
        fwd_m, inv_m = _with_datum(fwd_m, inv_m, ellps, helmert)

    if u != 1.0:
        base_fwd2, base_inv2 = fwd_m, inv_m

        def fwd_m(lon, lat, _f=base_fwd2):
            x, y = _f(lon, lat)
            return x / u, y / u

        def inv_m(x, y, _i=base_inv2):
            return _i(x * u, y * u)

    return fwd_m, inv_m


_PARSE_ERRORS = (ValueError, IndexError, KeyError, TypeError,
                 ZeroDivisionError, AttributeError)


def to_lonlat_wkt(wkt: str):
    """``f(x, y) -> (lon, lat)`` for a WKT1/WKT2/PROJJSON CRS, else
    None (malformed input of any of the three grammars quarantines,
    never crashes a stage)."""
    try:
        made = pair_from_wkt(wkt)
    except _PARSE_ERRORS:
        return None
    return made[1] if made else None


def from_lonlat_wkt(wkt: str):
    """``f(lon, lat) -> (x, y)`` for a WKT1/WKT2/PROJJSON CRS, else
    None."""
    try:
        made = pair_from_wkt(wkt)
    except _PARSE_ERRORS:
        return None
    return made[0] if made else None


# ---------------------------------------------------------------------------
# WKT2 (ISO 19162) + PROJJSON
# ---------------------------------------------------------------------------

def _wrap_unit(fwd_m, inv_m, u: float):
    if u == 1.0:
        return fwd_m, inv_m

    def fwd_u(lon, lat, _f=fwd_m):
        x, y = _f(lon, lat)
        return x / u, y / u

    def inv_u(x, y, _i=inv_m):
        return _i(x * u, y * u)

    return fwd_u, inv_u


def _wrap_primem(fwd_m, inv_m, primem: float):
    if primem == 0.0:
        return fwd_m, inv_m

    def fwd_p(lon, lat, _f=fwd_m):
        return _f(lon - primem, lat)

    def inv_p(x, y, _i=inv_m):
        lon, lat = _i(x, y)
        return lon + primem, lat

    return fwd_p, inv_p


def _pair_from_wkt2_projected(root: Node, apply_datum: bool = True):
    """PROJCRS[...] (ISO 19162): BASEGEOGCRS + CONVERSION[METHOD,
    PARAMETER...] + CS/AXIS units.  Parameters arrive normalized to
    degrees/meters (per-parameter units), so the shared dispatcher
    runs with ang = rad/deg identity and u = 1; the OUTPUT unit (the
    CS LENGTHUNIT — e.g. a feet-based state plane) wraps the pair
    like WKT1's PROJCS UNIT does.

    Axis ORDER is not inspected: the engine's projected convention
    is (easting, northing), matching GDAL's traditional order — a
    northing-first WKT2 CRS reads the same way it does through
    GDAL's OAMS_TRADITIONAL_GIS_ORDER.
    """
    geog = (root.child("BASEGEOGCRS") or root.child("BASEGEODCRS")
            or root.child("GEOGCS"))
    if geog is None:
        raise ValueError("wkt2: PROJCRS without BASEGEOGCRS")
    ellps = _spheroid(geog)
    conv = root.child("CONVERSION")
    if conv is None:
        raise ValueError("wkt2: PROJCRS without CONVERSION")
    method = conv.child("METHOD") or conv.child("PROJECTION")
    if method is None or not method.values:
        raise ValueError("wkt2: CONVERSION without METHOD")
    params = _params_of_wkt2(conv)
    # per-parameter units already folded in: identity conversions
    made = _build_projected(str(method.values[0]), params, ellps,
                            ang=math.pi / 180.0, u=1.0)
    if made is None:
        return None
    fwd_m, inv_m = made

    # base CRS angular unit + prime meridian (PRIMEM carries its own
    # ANGLEUNIT when non-degree)
    ang_g = _unit_factor(geog, math.pi / 180.0,
                         kinds=("ANGLEUNIT", "UNIT"))
    fwd_m, inv_m = _wrap_primem(fwd_m, inv_m, _primem_deg(geog, ang_g))

    # apply_datum=False when a BOUNDCRS wrapper carries the
    # authoritative transformation — the datum-NAME default lookup
    # would otherwise apply the shift twice
    helmert = _towgs84(geog) if apply_datum else None
    if helmert is not None:
        fwd_m, inv_m = _with_datum(fwd_m, inv_m, ellps, helmert)

    u_out = _unit_factor(root, 1.0, kinds=("LENGTHUNIT", "UNIT"))
    return _wrap_unit(fwd_m, inv_m, u_out)


# ABRIDGEDTRANSFORMATION / PROJJSON transformation parameter names ->
# position in the (dx, dy, dz, rx, ry, rz, ds) vector
_HELMERT_SLOTS = {
    "xaxistranslation": 0, "yaxistranslation": 1,
    "zaxistranslation": 2, "xaxisrotation": 3, "yaxisrotation": 4,
    "zaxisrotation": 5, "scaledifference": 6, "scalefactor": 6,
}


def _pair_from_boundcrs(root: Node):
    """BOUNDCRS[SOURCECRS[...], TARGETCRS[...],
    ABRIDGEDTRANSFORMATION[...]]: resolve the source CRS, then apply
    the Helmert parameters (EPSG 9606 position-vector, datum->WGS84
    direction — same sign convention as WKT1 TOWGS84).  The abridged
    scale parameter is (1 + ds*1e-6), so ds = value - 1 in ppm."""
    src = root.child("SOURCECRS")
    if src is None or not src.values:
        raise ValueError("wkt2: BOUNDCRS without SOURCECRS")
    inner = next((v for v in src.values if isinstance(v, Node)), None)
    if inner is None:
        raise ValueError("wkt2: SOURCECRS without a CRS node")
    tr = root.child("ABRIDGEDTRANSFORMATION")
    vals = [0.0] * 7
    if tr is not None:
        for p in tr.children("PARAMETER"):
            if len(p.values) < 2 or not isinstance(p.values[0], str):
                continue
            slot = _HELMERT_SLOTS.get(_norm(p.values[0]))
            if slot is None:
                continue
            try:
                v = float(p.values[1])
            except (TypeError, ValueError):
                continue
            if slot == 6 and _norm(p.values[0]) == "scalefactor":
                v = (v - 1.0) * 1e6        # abridged: 1 + ds ppm
            vals[slot] = v

    # rebuild the inner CRS text path: recurse on the node directly
    # by dispatching through the same machinery
    inner_name = inner.name.upper()
    if inner_name in ("PROJCRS", "PROJECTEDCRS"):
        made = _pair_from_wkt2_projected(inner, apply_datum=False)
    else:
        raise ValueError(
            f"wkt2: BOUNDCRS source {inner_name} not supported")
    if made is None:
        return None
    fwd_m, inv_m = made
    if any(vals):
        dx, dy, dz, rx, ry, rz, ds = vals
        geog = (inner.child("BASEGEOGCRS")
                or inner.child("BASEGEODCRS"))
        ellps = _spheroid(geog)
        fwd_m, inv_m = _with_datum(
            fwd_m, inv_m, ellps,
            (-dx, -dy, -dz, -ds, -rx, -ry, -rz))
    return fwd_m, inv_m


def _projjson_unit(unit, angular: bool) -> float:
    """Conversion factor of a PROJJSON unit spec: a name string
    ('degree', 'metre', 'grad', ...) or an object with
    conversion_factor.  Returns radians/unit (angular) or
    meters/unit (linear)."""
    named = {
        "degree": math.pi / 180.0, "metre": 1.0, "meter": 1.0,
        "grad": math.pi / 200.0, "arc-second": math.pi / 648000.0,
        "radian": 1.0, "us survey foot": 0.304800609601219,
        "foot": 0.3048, "kilometre": 1000.0,
        "british yard (sears 1922)": 0.914398414616029,
        "german legal metre": 1.0000135965,
        "clarke's foot": 0.3047972654, "clarke's link": 0.201166195164,
    }
    if isinstance(unit, str):
        got = named.get(unit.strip().lower())
        if got is not None:
            return got
        return math.pi / 180.0 if angular else 1.0
    if isinstance(unit, dict):
        try:
            return float(unit.get("conversion_factor"))
        except (TypeError, ValueError):
            return math.pi / 180.0 if angular else 1.0
    return math.pi / 180.0 if angular else 1.0


def _projjson_ellipsoid(datum: dict) -> tuple[float, float]:
    ell = (datum or {}).get("ellipsoid") or {}
    a = float(ell.get("semi_major_axis"))
    if "inverse_flattening" in ell:
        rf = float(ell["inverse_flattening"])
        f = 0.0 if rf == 0.0 else 1.0 / rf
    elif "semi_minor_axis" in ell:
        b = float(ell["semi_minor_axis"])
        f = (a - b) / a
    else:
        f = 0.0                            # sphere (radius given)
    return a, f


def pair_from_projjson(obj):
    """(fwd, inv) for a PROJJSON CRS (GeoParquet's ``geo`` metadata
    and pyproj's JSON export) — the same closed-form families as the
    WKT paths; None when the method is outside them."""
    import json as _json

    if isinstance(obj, str):
        obj = _json.loads(obj)
    if not isinstance(obj, dict):
        raise ValueError("projjson: not an object")
    t = str(obj.get("type", ""))

    if t == "BoundCRS":
        inner = pair_from_projjson(obj.get("source_crs"))
        if inner is None:
            return None
        fwd_m, inv_m = inner
        vals = [0.0] * 7
        for p in (obj.get("transformation", {})
                  .get("parameters") or []):
            slot = _HELMERT_SLOTS.get(_norm(str(p.get("name", ""))))
            if slot is None:
                continue
            try:
                v = float(p.get("value"))
            except (TypeError, ValueError):
                continue
            if slot == 6 and _norm(str(p["name"])) == "scalefactor":
                v = (v - 1.0) * 1e6
            vals[slot] = v
        if any(vals):
            base = obj.get("source_crs", {})
            geog = base.get("base_crs", base)
            ellps = _projjson_ellipsoid(
                geog.get("datum") or geog.get("datum_ensemble"))
            dx, dy, dz, rx, ry, rz, ds = vals
            fwd_m, inv_m = _with_datum(
                fwd_m, inv_m, ellps,
                (-dx, -dy, -dz, -ds, -rx, -ry, -rz))
        return fwd_m, inv_m

    if t in ("GeographicCRS", "GeodeticCRS"):
        ellps = _projjson_ellipsoid(
            obj.get("datum") or obj.get("datum_ensemble"))
        pm = (obj.get("datum") or {}).get("prime_meridian") or {}
        primem = float(pm.get("longitude", 0.0) or 0.0)

        def fwd_g(lon, lat):
            return lon - primem, lat

        def inv_g(x, y):
            return x + primem, y

        return fwd_g, inv_g

    if t != "ProjectedCRS":
        raise ValueError(f"projjson: unsupported type {t!r}")

    base = obj.get("base_crs") or {}
    ellps = _projjson_ellipsoid(
        base.get("datum") or base.get("datum_ensemble"))
    conv = obj.get("conversion") or {}
    method = (conv.get("method") or {}).get("name")
    if not method:
        raise ValueError("projjson: conversion without method")
    params: dict[str, float] = {}
    for p in conv.get("parameters") or []:
        name = str(p.get("name", ""))
        try:
            v = float(p.get("value"))
        except (TypeError, ValueError):
            continue
        unit = p.get("unit", "")
        uname = unit if isinstance(unit, str) else str(
            unit.get("type", ""))
        if _norm(uname).endswith(("degree", "grad", "radian",
                                  "arcsecond", "angularunit")):
            f = _projjson_unit(unit, True) * _DEG_PER_RAD
            v *= 1.0 if abs(f - 1.0) < 1e-12 else f
        elif _norm(uname) not in ("unity", "scaleunit", ""):
            v *= _projjson_unit(unit, False)
        params[_norm(name)] = v
    made = _build_projected(method, params, ellps,
                            ang=math.pi / 180.0, u=1.0)
    if made is None:
        return None
    fwd_m, inv_m = made
    pm = (base.get("datum") or {}).get("prime_meridian") or {}
    fwd_m, inv_m = _wrap_primem(
        fwd_m, inv_m, float(pm.get("longitude", 0.0) or 0.0))
    axes = (obj.get("coordinate_system") or {}).get("axis") or []
    u_out = _projjson_unit(axes[0].get("unit", "metre"), False) \
        if axes else 1.0
    return _wrap_unit(fwd_m, inv_m, u_out)
