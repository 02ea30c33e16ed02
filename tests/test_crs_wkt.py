"""WKT1 CRS parsing + the round-4 projection families.

Absolute control points are the published IOGP Guidance Note 7-2
worked examples (one per method); the WKT layer is pinned by
cross-checking WKT-built transforms against the independently
parameterized ``_CRS_TABLE`` entries.
"""

import math

import pytest

from geohub_data_pipeline_spark.operators import crs as C
from geohub_data_pipeline_spark.operators import crs_wkt as W
from geohub_data_pipeline_spark.operators import geometry as G


def dms(d, m, s):
    return d + m / 60 + s / 3600


_BESSEL = (6377397.155, 1 / 299.1528128)


# ---------------------------------------------------------------------------
# New family factories vs IOGP GN7-2 worked examples
# ---------------------------------------------------------------------------

def test_hom_variant_b_timbalai():
    """GN7-2 §3.4: Timbalai 1948 / RSO Borneo worked example."""
    everest = (6377298.556, 1 / 300.8017)
    fwd, inv = C._make_homvb(
        everest, lat_c=4.0, lon_c=115.0,
        alpha_c=dms(53, 18, 56.9537), gamma_c=dms(53, 7, 48.3685),
        k_c=0.99984, fe=590476.87, fn=442857.65)
    lon, lat = dms(115, 48, 19.8196), dms(5, 23, 14.1129)
    x, y = fwd(lon, lat)
    assert abs(x - 679245.73) < 0.02 and abs(y - 596562.78) < 0.02
    lo, la = inv(x, y)
    assert abs(lo - lon) < 1e-9 and abs(la - lat) < 1e-9


def test_hom_swiss_center_maps_to_false_origin():
    """Azimuth-center variant: the projection center IS (fe, fn)."""
    fwd, _ = C._make_homvb(
        _BESSEL, lat_c=dms(46, 57, 8.66), lon_c=dms(7, 26, 22.5),
        alpha_c=90.0, gamma_c=90.0, k_c=1.0, fe=2600000, fn=1200000)
    x, y = fwd(dms(7, 26, 22.5), dms(46, 57, 8.66))
    assert abs(x - 2600000) < 1e-4 and abs(y - 1200000) < 1e-4


def test_polar_stereographic_variant_a_ups():
    """GN7-2 §3.3: UPS North worked example (k0 at the pole)."""
    fwd, inv = C._make_ps(C._WGS84, lat_ts=90.0, lon0=0.0,
                          fe=2000000, fn=2000000, k0=0.994)
    x, y = fwd(44.0, 73.0)
    assert abs(x - 3320416.75) < 0.02 and abs(y - 632668.43) < 0.02
    lo, la = inv(x, y)
    assert abs(lo - 44.0) < 1e-9 and abs(la - 73.0) < 1e-9


def test_mercator_variant_a_makassar():
    """GN7-2 §3.2: Makassar / NEIEZ worked example (Bessel, k0)."""
    fwd, inv = C._make_merc(_BESSEL, lon0=110.0, k0=0.997,
                            fe=3900000, fn=900000)
    x, y = fwd(120.0, -3.0)
    assert abs(x - 5009726.58) < 0.02 and abs(y - 569150.82) < 0.02
    lo, la = inv(x, y)
    assert abs(lo - 120.0) < 1e-9 and abs(la + 3.0) < 1e-9


def test_oblique_stereographic_rd_new():
    """GN7-2 §3.5: Amersfoort / RD New worked example."""
    fwd, inv = C._make_sterea(
        _BESSEL, lat0=dms(52, 9, 22.178), lon0=dms(5, 23, 15.5),
        k0=0.9999079, fe=155000, fn=463000)
    x, y = fwd(6.0, 53.0)
    assert abs(x - 196105.283) < 0.005 and abs(y - 557057.739) < 0.005
    lo, la = inv(x, y)
    assert abs(lo - 6.0) < 1e-9 and abs(la - 53.0) < 1e-9


def test_lcc_1sp_jamaica():
    """GN7-2 §3.1.1.2: Jamaica 1969 national grid (LCC-1SP via the
    sp1 == sp2 degenerate cone constant + k0)."""
    clarke66 = (6378206.4, 1 / 294.9786982)
    fwd, _ = C._make_lcc2(clarke66, lat0=18.0, lon0=-77.0,
                          sp1=18.0, sp2=18.0,
                          fe=250000.0, fn=150000.0, k0=1.0)
    x, y = fwd(-dms(76, 56, 37.26), dms(17, 55, 55.8))
    assert abs(x - 255966.58) < 0.02 and abs(y - 142493.51) < 0.02


def test_mercator_2sp_scale():
    """EPSG 9805: 2SP == 1SP with k0 = m(lat_ts)."""
    k0 = C.merc_2sp_k0(C._WGS84, 42.0)
    assert k0 == pytest.approx(
        math.cos(math.radians(42.0))
        / math.sqrt(1 - C._WGS84[1] * (2 - C._WGS84[1])
                    * math.sin(math.radians(42.0)) ** 2))


# ---------------------------------------------------------------------------
# WKT1 parser
# ---------------------------------------------------------------------------

_WKT_27700 = """PROJCS["OSGB36 / British National Grid",
 GEOGCS["OSGB36",DATUM["OSGB_1936",
  SPHEROID["Airy 1830",6377563.396,299.3249646],
  TOWGS84[446.448,-125.157,542.06,0.15,0.247,0.842,-20.489]],
  PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],
 PROJECTION["Transverse_Mercator"],
 PARAMETER["latitude_of_origin",49],PARAMETER["central_meridian",-2],
 PARAMETER["scale_factor",0.9996012717],
 PARAMETER["false_easting",400000],PARAMETER["false_northing",-100000],
 UNIT["metre",1]]"""

# ESRI-style .prj: no AUTHORITY anywhere (the common real-world case)
_WKT_ESRI_UTM33 = """PROJCS["WGS_1984_UTM_Zone_33N",
 GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",
  SPHEROID["WGS_1984",6378137.0,298.257223563]],
  PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],
 PROJECTION["Transverse_Mercator"],
 PARAMETER["False_Easting",500000.0],PARAMETER["False_Northing",0.0],
 PARAMETER["Central_Meridian",15.0],PARAMETER["Scale_Factor",0.9996],
 PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]"""

_WKT_2263_FTUS = """PROJCS["NAD83 / New York Long Island (ftUS)",
 GEOGCS["NAD83",DATUM["North_American_Datum_1983",
  SPHEROID["GRS 1980",6378137,298.257222101]],
  PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],
 PROJECTION["Lambert_Conformal_Conic_2SP"],
 PARAMETER["standard_parallel_1",41.03333333333333],
 PARAMETER["standard_parallel_2",40.66666666666666],
 PARAMETER["latitude_of_origin",40.16666666666666],
 PARAMETER["central_meridian",-74],
 PARAMETER["false_easting",984250.0],PARAMETER["false_northing",0],
 UNIT["US survey foot",0.3048006096012192]]"""

_WKT_5514_FERRO = """PROJCS["S-JTSK / Krovak East North",
 GEOGCS["S-JTSK",DATUM["S_JTSK",
  SPHEROID["Bessel 1841",6377397.155,299.1528128],
  TOWGS84[589,76,480,0,0,0,0]],
  PRIMEM["Ferro",-17.66666666666667],
  UNIT["degree",0.0174532925199433]],
 PROJECTION["Krovak"],
 PARAMETER["latitude_of_center",49.5],
 PARAMETER["longitude_of_center",42.5],
 PARAMETER["azimuth",30.28813972222222],
 PARAMETER["pseudo_standard_parallel_1",78.5],
 PARAMETER["scale_factor",0.9999],
 PARAMETER["false_easting",0],PARAMETER["false_northing",0],
 UNIT["metre",1]]"""

_WKT_AUX_SPHERE = """PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",
 GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",
  SPHEROID["WGS_1984",6378137.0,298.257223563]],
  PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],
 PROJECTION["Mercator_Auxiliary_Sphere"],
 PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],
 PARAMETER["Central_Meridian",0.0],
 PARAMETER["Standard_Parallel_1",0.0],
 PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]"""

_WKT_GEOGCS = """GEOGCS["WGS 84",DATUM["WGS_1984",
 SPHEROID["WGS 84",6378137,298.257223563]],
 PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]"""


def test_wkt_tm_matches_table_27700():
    """WKT-built OSGB (incl. TOWGS84 Helmert) vs the independently
    parameterized table entry: published-params rounding only."""
    fwd, inv = W.pair_from_wkt(_WKT_27700)
    tf, ti = C.from_lonlat(27700), C.to_lonlat(27700)
    for lon, lat in [(-1.5, 52.0), (-5.2, 50.1), (0.9, 51.5)]:
        x1, y1 = fwd(lon, lat)
        x2, y2 = tf(lon, lat)
        assert abs(x1 - x2) < 0.01 and abs(y1 - y2) < 0.01
        lo, la = inv(x1, y1)
        # two trips through the first-order Helmert: ~4 cm residual
        assert abs(lo - lon) < 1e-6 and abs(la - lat) < 1e-6


def test_wkt_esri_utm_no_authority():
    """ESRI .prj (no AUTHORITY tag) == EPSG:32633 exactly."""
    fwd, _ = W.pair_from_wkt(_WKT_ESRI_UTM33)
    tf = C.from_lonlat(32633)
    x1, y1 = fwd(14.3, 48.2)
    x2, y2 = tf(14.3, 48.2)
    assert abs(x1 - x2) < 1e-6 and abs(y1 - y2) < 1e-6


def test_wkt_linear_unit_us_survey_foot():
    """ftUS CRS: natural origin -> (FE, FN) in feet; coords honour
    the unit factor both directions."""
    fwd, inv = W.pair_from_wkt(_WKT_2263_FTUS)
    x, y = fwd(-74.0, 40.16666666666666)
    assert abs(x - 984250.0) < 1e-4 and abs(y) < 1e-4
    lon, lat = inv(*fwd(-73.98, 40.75))
    assert abs(lon + 73.98) < 1e-9 and abs(lat - 40.75) < 1e-9


def test_wkt_krovak_ferro_primem_matches_table():
    fwd, _ = W.pair_from_wkt(_WKT_5514_FERRO)
    tf = C.from_lonlat(5514)
    x1, y1 = fwd(14.42076, 50.08804)     # Prague
    x2, y2 = tf(14.42076, 50.08804)
    assert abs(x1 - x2) < 0.01 and abs(y1 - y2) < 0.01


def test_wkt_aux_sphere_is_spherical_mercator():
    fwd, _ = W.pair_from_wkt(_WKT_AUX_SPHERE)
    assert fwd(10.0, 45.0) == pytest.approx(
        G.lonlat_to_mercator(10.0, 45.0))


def test_wkt_geogcs_identity():
    fwd, inv = W.pair_from_wkt(_WKT_GEOGCS)
    assert fwd(12.5, -33.25) == pytest.approx((12.5, -33.25))
    assert inv(12.5, -33.25) == pytest.approx((12.5, -33.25))


def test_wkt_unknown_projection_returns_none():
    junk = _WKT_27700.replace("Transverse_Mercator", "Space_Oblique")
    assert W.pair_from_wkt(junk) is None
    assert W.to_lonlat_wkt(junk) is None


def test_wkt_malformed_raises_value_error_and_gates_none():
    with pytest.raises(ValueError):
        W.parse_wkt('PROJCS["unterminated')
    assert W.to_lonlat_wkt('PROJCS["unterminated') is None


# ---------------------------------------------------------------------------
# epsg_from_prj must NOT claim 4326 for projected ESRI names
# ---------------------------------------------------------------------------

def test_epsg_from_prj_projected_wgs84_name_is_not_4326():
    from geohub_data_pipeline_spark.sources.shapefile import epsg_from_prj
    assert epsg_from_prj(_WKT_ESRI_UTM33) is None
    assert epsg_from_prj(_WKT_GEOGCS) == 4326


# ---------------------------------------------------------------------------
# normalize_features via the crs_wkt column (srid 0 = WKT-only)
# ---------------------------------------------------------------------------

def test_normalize_reprojects_via_wkt_column(spark):
    tf = C.from_lonlat(32633)
    x, y = tf(14.3, 48.2)
    feats = spark.createDataFrame(
        [("d", "l", 1, G.wkb_point(x, y), 0, _WKT_ESRI_UTM33),
         ("d", "l", 2, G.wkb_point(x, y), 0, None)],     # no WKT: drop
        "dataset string, layer string, fid long, geometry binary, "
        "srid int, crs_wkt string")
    out = {r.fid: r for r in G.normalize_features(feats).collect()}
    assert set(out) == {1}                # fid 2 dropped (audited)
    p = G.parse_wkb(bytes(out[1].geometry))
    assert p["coords"][0] == pytest.approx(14.3, abs=1e-8)
    assert p["coords"][1] == pytest.approx(48.2, abs=1e-8)


def test_normalize_without_wkt_column_unchanged(spark):
    feats = spark.createDataFrame(
        [("d", "l", 1, G.wkb_point(10.0, 45.0), 4326)],
        "dataset string, layer string, fid long, geometry binary, "
        "srid int")
    out = G.normalize_features(feats).collect()
    assert len(out) == 1 and out[0].srid == 4326


def test_gpkg_custom_srs_resolves_via_definition(spark, tmp_path):
    """A GeoPackage layer with a non-EPSG srs_id but a WKT definition
    in gpkg_spatial_ref_sys reprojects through the definition — the
    behaviour GDAL gives the reference for the same column."""
    from geohub_data_pipeline_spark.sources import geopackage as GP

    tf = C.from_lonlat(32633)
    x, y = tf(14.3, 48.2)
    GP.write_gpkg(str(tmp_path / "custom.gpkg"),
                  {"pts": [(1, G.wkb_point(x, y))]},
                  srid=20000, srs_definition=_WKT_ESRI_UTM33)
    feats = GP.features_from_gpkg(spark, str(tmp_path / "custom.gpkg"))
    row = feats.collect()[0]
    assert row.srid == 20000 and "UTM_Zone_33N" in row.crs_wkt
    out = G.normalize_features(feats).collect()
    assert len(out) == 1
    p = G.parse_wkb(bytes(out[0].geometry))
    assert p["coords"][0] == pytest.approx(14.3, abs=1e-8)
    assert p["coords"][1] == pytest.approx(48.2, abs=1e-8)


def test_filegdb_esri_wkt_resolves(spark, tmp_path):
    """A FileGDB whose geometry field carries AUTHORITY-less ESRI WKT
    gets srid 0 + crs_wkt and reprojects in normalize_features."""
    from geohub_data_pipeline_spark.sources import filegdb as FG

    tf = C.from_lonlat(32633)
    x, y = tf(14.3, 48.2)
    gdb = tmp_path / "n.gdb"
    FG.write_filegdb(str(gdb), {"pts": [(1, G.wkb_point(x, y))]},
                     srid_wkt=_WKT_ESRI_UTM33.replace("\n", ""))
    feats = FG.features_from_gdb(spark, str(tmp_path))
    row = feats.collect()[0]
    assert row.srid == 0 and "UTM_Zone_33N" in row.crs_wkt
    out = G.normalize_features(feats).collect()
    assert len(out) == 1
    p = G.parse_wkb(bytes(out[0].geometry))
    assert p["coords"][0] == pytest.approx(14.3, abs=1e-7)
    assert p["coords"][1] == pytest.approx(48.2, abs=1e-7)


def test_sinusoidal_snyder_and_modis():
    """Snyder 1987 §30 worked example (Clarke 1866) + the MODIS
    sphere grid via WKT dispatch."""
    clarke66 = (6378206.4, 1 / 294.9786982)
    fwd, inv = C._make_sinu(clarke66, lon0=-90.0, fe=0, fn=0)
    x, y = fwd(-75.0, -50.0)
    assert abs(x - 1075471.5) < 0.5 and abs(y + 5540628.0) < 0.5
    lo, la = inv(x, y)
    assert abs(lo + 75.0) < 1e-9 and abs(la + 50.0) < 1e-9

    wkt = ('PROJCS["MODIS Sinusoidal",GEOGCS["Unknown",DATUM["unnamed",'
           'SPHEROID["Spheroid",6371007.181,0]],PRIMEM["Greenwich",0],'
           'UNIT["degree",0.0174532925199433]],'
           'PROJECTION["Sinusoidal"],'
           'PARAMETER["longitude_of_center",0],'
           'PARAMETER["false_easting",0],'
           'PARAMETER["false_northing",0],UNIT["metre",1]]')
    f2, i2 = W.pair_from_wkt(wkt)
    assert f2(90.0, 0.0)[0] == pytest.approx(
        6371007.181 * math.pi / 2, abs=1e-6)
    lo, la = i2(*f2(12.34, 56.78))
    assert abs(lo - 12.34) < 1e-9 and abs(la - 56.78) < 1e-9


def test_equidistant_cylindrical_epsg_1028():
    """EPSG method 1028 worked example (WGS84, lat_ts = 0):
    (55N, 10E) -> E 1113194.91, N 6097230.31."""
    fwd, inv = C._make_eqc(C._WGS84, 0.0, 0.0, 0.0, 0, 0)
    x, y = fwd(10.0, 55.0)
    assert abs(x - 1113194.91) < 0.02 and abs(y - 6097230.31) < 0.02
    lo, la = inv(x, y)
    assert abs(lo - 10.0) < 1e-9 and abs(la - 55.0) < 1e-9


def test_geogcs_paris_prime_meridian():
    """GEOGCS-rooted WKT with a Paris prime meridian: stored
    longitudes are Paris-relative; the pair converts to/from
    Greenwich WGS84."""
    # datum name deliberately outside the shift table so the test
    # isolates the prime-meridian arithmetic (a real NTF datum now
    # also gets its published Helmert shift — see the datum-name
    # fallback test)
    wkt = ('GEOGCS["Custom (Paris)",DATUM["Custom_Local",'
           'SPHEROID["Clarke 1880 (IGN)",6378249.2,293.466021293627]],'
           'PRIMEM["Paris",2.33722917],'
           'UNIT["degree",0.0174532925199433]]')
    fwd, inv = W.pair_from_wkt(wkt)
    # Greenwich lon 2.33722917 == Paris lon 0
    x, y = fwd(2.33722917, 48.85)
    assert abs(x) < 1e-9 and y == pytest.approx(48.85)
    lo, la = inv(0.0, 48.85)
    assert lo == pytest.approx(2.33722917) and la == pytest.approx(48.85)


def test_attributes_flow_from_every_vector_source(spark, tmp_path):
    """dbf (shapefile), GeoJSON properties, GPKG columns, FileGDB
    fields all surface as the standard `properties` JSON column."""
    import io
    import json
    import struct
    import zipfile

    from geohub_data_pipeline_spark.sources import archive as A
    from geohub_data_pipeline_spark.sources import filegdb as FG
    from geohub_data_pipeline_spark.sources import geopackage as GP

    # --- zipped shapefile + dbf -----------------------------------
    from tests.test_shapefile import _shp_point, write_shp

    def build_dbf(fields, records):
        hdr_len = 32 + 32 * len(fields) + 1
        rec_len = 1 + sum(f[2] for f in fields)
        out = bytearray(32)
        out[0] = 3
        struct.pack_into("<IHH", out, 4, len(records), hdr_len,
                         rec_len)
        for name, ftype, flen in fields:
            fd = bytearray(32)
            fd[:len(name)] = name.encode()
            fd[11] = ord(ftype)
            fd[16] = flen
            out += fd
        out += b"\x0d"
        for rec in records:
            out += b" "
            for name, ftype, flen in fields:
                out += str(rec.get(name, ""))[:flen].ljust(flen) \
                    .encode()
        return bytes(out)

    blob = write_shp([_shp_point(10.0, 45.0), _shp_point(11.0, 46.0)])
    dbf = build_dbf([("NAME", "C", 8), ("POP", "N", 8)],
                    [{"NAME": "a", "POP": 10}, {"NAME": "b",
                                                "POP": 20}])
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("pts.shp", blob)
        zf.writestr("pts.dbf", dbf)
        zf.writestr("pts.geojson", json.dumps({
            "type": "FeatureCollection", "features": [
                {"type": "Feature", "id": 9,
                 "geometry": {"type": "Point",
                              "coordinates": [1.0, 2.0]},
                 "properties": {"kind": "poi"}}]}))
    (tmp_path / "up.zip").write_bytes(buf.getvalue())
    feats = A.features_from_archives(spark, str(tmp_path / "up.zip"))
    rows = {(r.layer, r.fid): r for r in feats.collect()}
    assert json.loads(rows[("pts", 1)].properties) == {
        "NAME": "a", "POP": 10}
    assert json.loads(rows[("pts", 2)].properties) == {
        "NAME": "b", "POP": 20}
    # the GeoJSON member's fid is member-scoped (positive hash);
    # the author id survives as _fid in the property bag
    gj = [r for (layer, fid), r in rows.items()
          if layer == "pts" and fid not in (1, 2)]
    assert len(gj) == 1 and gj[0].fid > 0
    assert json.loads(gj[0].properties) == {"_fid": 9, "kind": "poi"}

    # --- GPKG with attribute columns ------------------------------
    import sqlite3
    GP.write_gpkg(str(tmp_path / "a.gpkg"),
                  {"pois": [(1, G.wkb_point(1.0, 2.0))]})
    con = sqlite3.connect(str(tmp_path / "a.gpkg"))
    con.execute("ALTER TABLE pois ADD COLUMN name TEXT")
    con.execute("ALTER TABLE pois ADD COLUMN rank INTEGER")
    con.execute("UPDATE pois SET name = 'x', rank = 5")
    con.commit()
    con.close()
    got = GP.features_from_gpkg(
        spark, str(tmp_path / "a.gpkg")).collect()[0]
    assert json.loads(got.properties) == {"name": "x", "rank": 5}

    # --- FileGDB fields -------------------------------------------
    import os
    gdb = tmp_path / "f.gdb"
    FG.write_filegdb(str(gdb), {"pts": [(1, G.wkb_point(3.0, 4.0))]})
    files = {n: open(gdb / n, "rb").read() for n in os.listdir(gdb)}
    rows = list(FG.read_filegdb(files, "f.gdb"))
    # the minimal writer emits only OBJECTID + SHAPE; attributes dict
    # therefore may be empty/None — the shape (7-tuple) is the contract
    assert len(rows[0]) == 7


def test_esri_prj_datum_name_fallback():
    """ESRI .prj files carry no TOWGS84; the datum NAME resolves the
    published shift — an ESRI-style OSGB .prj must match the table's
    Helmert 27700 to meters, not sit ~120 m off."""
    esri = ('PROJCS["British_National_Grid",'
            'GEOGCS["GCS_OSGB_1936",DATUM["D_OSGB_1936",'
            'SPHEROID["Airy_1830",6377563.396,299.3249646]],'
            'PRIMEM["Greenwich",0.0],'
            'UNIT["Degree",0.0174532925199433]],'
            'PROJECTION["Transverse_Mercator"],'
            'PARAMETER["False_Easting",400000.0],'
            'PARAMETER["False_Northing",-100000.0],'
            'PARAMETER["Central_Meridian",-2.0],'
            'PARAMETER["Scale_Factor",0.9996012717],'
            'PARAMETER["Latitude_Of_Origin",49.0],'
            'UNIT["Meter",1.0]]')
    fwd, inv = W.pair_from_wkt(esri)
    tf = C.from_lonlat(27700)
    x1, y1 = fwd(-1.5, 52.0)
    x2, y2 = tf(-1.5, 52.0)
    assert abs(x1 - x2) < 0.05 and abs(y1 - y2) < 0.05    # cm, not 120 m
    # an unknown datum name still parses (no shift applied)
    unk = esri.replace("D_OSGB_1936", "D_Something_Else")
    assert W.pair_from_wkt(unk) is not None


MICHIGAN_HOM_A = (
    'PROJCS["NAD83 / Michigan Oblique Mercator",GEOGCS["NAD83",'
    'DATUM["North_American_Datum_1983",'
    'SPHEROID["GRS 1980",6378137,298.257222101]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Hotine_Oblique_Mercator"],'
    'PARAMETER["latitude_of_center",45.30916666666666],'
    'PARAMETER["longitude_of_center",-86],'
    'PARAMETER["azimuth",337.25556],'
    'PARAMETER["rectified_grid_angle",337.25556],'
    'PARAMETER["scale_factor",0.9996],'
    'PARAMETER["false_easting",2546731.496],'
    'PARAMETER["false_northing",-4354009.816],UNIT["metre",1]]')


def test_hotine_variant_a_natural_origin():
    """HOM variant A (EPSG 9812, GDAL 'Hotine_Oblique_Mercator' /
    ESRI '..._Azimuth_Natural_Origin'): the Michigan Oblique Mercator
    .prj resolves and round-trips, and its outputs differ from the
    same-parameter variant B by EXACTLY the constant uc shift rotated
    into grid axes — the defining relation between EPSG 9812 and
    9815 (GN7-2: variant B subtracts u_c along the initial line)."""
    import math

    from geohub_data_pipeline_spark.operators import crs_wkt as CW

    pair = CW.pair_from_wkt(MICHIGAN_HOM_A)
    assert pair is not None, "variant A fell through to the gate"
    fwd, inv = pair

    # round-trip across Michigan
    for lon, lat in [(-86.0, 45.3), (-84.5, 42.3), (-88.0, 47.1),
                     (-83.0, 44.0)]:
        x, y = fwd(lon, lat)
        lon2, lat2 = inv(x, y)
        assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9

    # variant B twin: same parameters, azimuth-center form
    wkt_b = MICHIGAN_HOM_A.replace(
        'PROJECTION["Hotine_Oblique_Mercator"]',
        'PROJECTION["Hotine_Oblique_Mercator_Azimuth_Center"]')
    fwd_b, _ = CW.pair_from_wkt(wkt_b)
    gamma = math.radians(337.25556)
    offs = []
    for lon, lat in [(-86.0, 45.3), (-84.5, 42.3), (-88.0, 47.1)]:
        xa, ya = fwd(lon, lat)
        xb, yb = fwd_b(lon, lat)
        offs.append((xa - xb, ya - yb))
    # constant offset across all points...
    for dx, dy in offs[1:]:
        assert abs(dx - offs[0][0]) < 1e-6
        assert abs(dy - offs[0][1]) < 1e-6
    # ...aligned with the initial-line direction: (sin g, cos g) * uc
    dx, dy = offs[0]
    uc = math.hypot(dx, dy)
    assert uc > 1000.0                     # Michigan's u_c is ~5,000 km
    assert abs(dx - uc * math.copysign(1, dx) *
               abs(math.sin(gamma))) < 1e-6 * uc + 1e-6
    assert abs(dy - uc * math.copysign(1, dy) *
               abs(math.cos(gamma))) < 1e-6 * uc + 1e-6

    # ESRI natural-origin alias resolves to the same transform
    wkt_esri = MICHIGAN_HOM_A.replace(
        'PROJECTION["Hotine_Oblique_Mercator"]',
        'PROJECTION["Hotine_Oblique_Mercator_Azimuth_Natural_Origin"]')
    fwd_e, _ = CW.pair_from_wkt(wkt_esri)
    xa, ya = fwd(-84.5, 42.3)
    xe, ye = fwd_e(-84.5, 42.3)
    assert xa == xe and ya == ye


# ---------------------------------------------------------------------------
# WKT2 (ISO 19162) + PROJJSON + BOUNDCRS (r7)
# ---------------------------------------------------------------------------

WKT2_UTM33 = '''PROJCRS["WGS 84 / UTM zone 33N",
  BASEGEOGCRS["WGS 84",
    ENSEMBLE["World Geodetic System 1984 ensemble",
      MEMBER["World Geodetic System 1984 (Transit)"],
      ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]],
      ENSEMBLEACCURACY[2.0]],
    PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],
  CONVERSION["UTM zone 33N",
    METHOD["Transverse Mercator",ID["EPSG",9807]],
    PARAMETER["Latitude of natural origin",0,ANGLEUNIT["degree",0.0174532925199433],ID["EPSG",8801]],
    PARAMETER["Longitude of natural origin",15,ANGLEUNIT["degree",0.0174532925199433]],
    PARAMETER["Scale factor at natural origin",0.9996,SCALEUNIT["unity",1]],
    PARAMETER["False easting",500000,LENGTHUNIT["metre",1]],
    PARAMETER["False northing",0,LENGTHUNIT["metre",1]]],
  CS[Cartesian,2],
  AXIS["(E)",east,ORDER[1],LENGTHUNIT["metre",1]],
  AXIS["(N)",north,ORDER[2],LENGTHUNIT["metre",1]],
  ID["EPSG",32633]]'''

WKT2_L93 = '''PROJCRS["RGF93 v1 / Lambert-93",
  BASEGEOGCRS["RGF93 v1",
    DATUM["Reseau Geodesique Francais 1993 v1",
      ELLIPSOID["GRS 1980",6378137,298.257222101,LENGTHUNIT["metre",1]]],
    PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],
  CONVERSION["Lambert-93",
    METHOD["Lambert Conic Conformal (2SP)",ID["EPSG",9802]],
    PARAMETER["Latitude of false origin",46.5,ANGLEUNIT["degree",0.0174532925199433]],
    PARAMETER["Longitude of false origin",3,ANGLEUNIT["degree",0.0174532925199433]],
    PARAMETER["Latitude of 1st standard parallel",49,ANGLEUNIT["degree",0.0174532925199433]],
    PARAMETER["Latitude of 2nd standard parallel",44,ANGLEUNIT["degree",0.0174532925199433]],
    PARAMETER["Easting at false origin",700000,LENGTHUNIT["metre",1]],
    PARAMETER["Northing at false origin",6600000,LENGTHUNIT["metre",1]]],
  CS[Cartesian,2],
  AXIS["easting (X)",east,ORDER[1],LENGTHUNIT["metre",1]],
  AXIS["northing (Y)",north,ORDER[2],LENGTHUNIT["metre",1]],
  ID["EPSG",2154]]'''

# NTF (Paris) / Lambert zone II-style: grads on the parallels AND a
# non-Greenwich prime meridian carrying its own ANGLEUNIT
WKT2_NTF_GRADS = '''PROJCRS["NTF (Paris) / Lambert zone II",
  BASEGEOGCRS["NTF (Paris)",
    DATUM["Nouvelle Triangulation Francaise (Paris)",
      ELLIPSOID["Clarke 1880 (IGN)",6378249.2,293.466021293627,
        LENGTHUNIT["metre",1]]],
    PRIMEM["Paris",2.5969213,ANGLEUNIT["grad",0.0157079632679489]]],
  CONVERSION["Lambert zone II",
    METHOD["Lambert Conic Conformal (1SP)",ID["EPSG",9801]],
    PARAMETER["Latitude of natural origin",52,
      ANGLEUNIT["grad",0.0157079632679489]],
    PARAMETER["Longitude of natural origin",0,
      ANGLEUNIT["grad",0.0157079632679489]],
    PARAMETER["Scale factor at natural origin",0.99987742,
      SCALEUNIT["unity",1]],
    PARAMETER["False easting",600000,LENGTHUNIT["metre",1]],
    PARAMETER["False northing",2200000,LENGTHUNIT["metre",1]]],
  CS[Cartesian,2],
  AXIS["easting (X)",east,ORDER[1],LENGTHUNIT["metre",1]],
  AXIS["northing (Y)",north,ORDER[2],LENGTHUNIT["metre",1]]]'''


def test_wkt2_utm33_matches_table():
    fwd, inv = W.pair_from_wkt(WKT2_UTM33)
    tf = C.from_lonlat(32633)
    for lon, lat in [(15.0, 0.0), (16.5, 48.2), (12.0, -33.0)]:
        x1, y1 = fwd(lon, lat)
        x2, y2 = tf(lon, lat)
        assert abs(x1 - x2) < 1e-6 and abs(y1 - y2) < 1e-6
        lo, la = inv(x1, y1)
        # ~5e-9 deg lat is the tm inverse series' own residual (the
        # EPSG-table pair shows the identical number)
        assert abs(lo - lon) < 1e-7 and abs(la - lat) < 1e-7


def test_wkt2_lambert93_matches_table():
    fwd, _ = W.pair_from_wkt(WKT2_L93)
    tf = C.from_lonlat(2154)
    for lon, lat in [(2.35, 48.85), (5.4, 43.3)]:
        x1, y1 = fwd(lon, lat)
        x2, y2 = tf(lon, lat)
        assert abs(x1 - x2) < 1e-6 and abs(y1 - y2) < 1e-6


def test_wkt2_grad_units_and_paris_meridian():
    """Per-parameter grad ANGLEUNITs and a Paris PRIMEM with its own
    grad unit must both convert; the WKT1 twin (same parameters in
    WKT1 syntax, degree equivalents) is the truth."""
    wkt1 = (
        'PROJCS["NTF (Paris) / Lambert zone II",GEOGCS["NTF (Paris)",'
        'DATUM["Nouvelle_Triangulation_Francaise_Paris",'
        'SPHEROID["Clarke 1880 (IGN)",6378249.2,293.466021293627]],'
        'PRIMEM["Paris",2.33722917],'
        'UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Lambert_Conformal_Conic_1SP"],'
        'PARAMETER["latitude_of_origin",46.8],'
        'PARAMETER["central_meridian",0],'
        'PARAMETER["scale_factor",0.99987742],'
        'PARAMETER["false_easting",600000],'
        'PARAMETER["false_northing",2200000],UNIT["metre",1]]')
    f2, i2 = W.pair_from_wkt(WKT2_NTF_GRADS)
    f1, _ = W.pair_from_wkt(wkt1)
    for lon, lat in [(2.35, 48.85), (4.8, 45.76)]:
        a, b = f1(lon, lat), f2(lon, lat)
        # grads carry the rounded rad/grad factor: ~1e-7 deg slack
        assert abs(a[0] - b[0]) < 0.05 and abs(a[1] - b[1]) < 0.05
        lo, la = i2(*b)
        assert abs(lo - lon) < 1e-9 and abs(la - lat) < 1e-9


def test_projjson_utm33_matches_table():
    import json

    pj = {
        "type": "ProjectedCRS", "name": "WGS 84 / UTM zone 33N",
        "base_crs": {
            "type": "GeographicCRS", "name": "WGS 84",
            "datum_ensemble": {
                "name": "World Geodetic System 1984 ensemble",
                "ellipsoid": {"name": "WGS 84",
                              "semi_major_axis": 6378137,
                              "inverse_flattening": 298.257223563}}},
        "conversion": {
            "name": "UTM zone 33N",
            "method": {"name": "Transverse Mercator",
                       "id": {"authority": "EPSG", "code": 9807}},
            "parameters": [
                {"name": "Latitude of natural origin", "value": 0,
                 "unit": "degree"},
                {"name": "Longitude of natural origin", "value": 15,
                 "unit": "degree"},
                {"name": "Scale factor at natural origin",
                 "value": 0.9996, "unit": "unity"},
                {"name": "False easting", "value": 500000,
                 "unit": "metre"},
                {"name": "False northing", "value": 0,
                 "unit": "metre"}]},
        "coordinate_system": {
            "subtype": "Cartesian",
            "axis": [{"name": "Easting", "direction": "east",
                      "unit": "metre"},
                     {"name": "Northing", "direction": "north",
                      "unit": "metre"}]},
        "id": {"authority": "EPSG", "code": 32633}}
    fwd, inv = W.pair_from_wkt(json.dumps(pj))
    tf = C.from_lonlat(32633)
    for lon, lat in [(15.0, 0.0), (16.5, 48.2)]:
        x1, y1 = fwd(lon, lat)
        x2, y2 = tf(lon, lat)
        assert abs(x1 - x2) < 1e-6 and abs(y1 - y2) < 1e-6
        lo, la = inv(x1, y1)
        assert abs(lo - lon) < 1e-8 and abs(la - lat) < 1e-8


BOUND_OSGB = '''BOUNDCRS[
 SOURCECRS[PROJCRS["OSGB36 / British National Grid",
   BASEGEOGCRS["OSGB36",DATUM["Ordnance Survey of Great Britain 1936",
     ELLIPSOID["Airy 1830",6377563.396,299.3249646,LENGTHUNIT["metre",1]]],
     PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],
   CONVERSION["British National Grid",
     METHOD["Transverse Mercator",ID["EPSG",9807]],
     PARAMETER["Latitude of natural origin",49,ANGLEUNIT["degree",0.0174532925199433]],
     PARAMETER["Longitude of natural origin",-2,ANGLEUNIT["degree",0.0174532925199433]],
     PARAMETER["Scale factor at natural origin",0.9996012717,SCALEUNIT["unity",1]],
     PARAMETER["False easting",400000,LENGTHUNIT["metre",1]],
     PARAMETER["False northing",-100000,LENGTHUNIT["metre",1]]],
   CS[Cartesian,2],AXIS["(E)",east,ORDER[1],LENGTHUNIT["metre",1]],
   AXIS["(N)",north,ORDER[2],LENGTHUNIT["metre",1]]]],
 TARGETCRS[GEOGCRS["WGS 84",ENSEMBLE["WGS 84 ensemble",
   MEMBER["t"],ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]],
   ENSEMBLEACCURACY[2.0]],
   PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]],
   CS[ellipsoidal,2],
   AXIS["latitude",north,ORDER[1],ANGLEUNIT["degree",0.0174532925199433]],
   AXIS["longitude",east,ORDER[2],ANGLEUNIT["degree",0.0174532925199433]]]],
 ABRIDGEDTRANSFORMATION["OSGB36 to WGS 84 (6)",
   METHOD["Position Vector transformation (geog2D domain)",ID["EPSG",9606]],
   PARAMETER["X-axis translation",446.448,ID["EPSG",8605]],
   PARAMETER["Y-axis translation",-125.157,ID["EPSG",8606]],
   PARAMETER["Z-axis translation",542.06,ID["EPSG",8607]],
   PARAMETER["X-axis rotation",0.15,ID["EPSG",8608]],
   PARAMETER["Y-axis rotation",0.247,ID["EPSG",8609]],
   PARAMETER["Z-axis rotation",0.842,ID["EPSG",8610]],
   PARAMETER["Scale difference",-20.489,ID["EPSG",8611]]]]'''


def test_wkt2_boundcrs_matches_wkt1_towgs84():
    """BOUNDCRS + ABRIDGEDTRANSFORMATION = WKT1 PROJCS + TOWGS84 on
    identical parameters (the PROJ export twins of EPSG:27700)."""
    wkt1 = (
        'PROJCS["OSGB36 / British National Grid",GEOGCS["OSGB36",'
        'DATUM["OSGB_1936",SPHEROID["Airy 1830",6377563.396,'
        '299.3249646],TOWGS84[446.448,-125.157,542.06,0.15,0.247,'
        '0.842,-20.489]],PRIMEM["Greenwich",0],'
        'UNIT["degree",0.0174532925199433]],'
        'PROJECTION["Transverse_Mercator"],'
        'PARAMETER["latitude_of_origin",49],'
        'PARAMETER["central_meridian",-2],'
        'PARAMETER["scale_factor",0.9996012717],'
        'PARAMETER["false_easting",400000],'
        'PARAMETER["false_northing",-100000],UNIT["metre",1]]')
    f1, _ = W.pair_from_wkt(wkt1)
    f2, i2 = W.pair_from_wkt(BOUND_OSGB)
    for lon, lat in [(-0.12, 51.5), (-3.2, 55.95)]:
        a, b = f1(lon, lat), f2(lon, lat)
        assert abs(a[0] - b[0]) < 1e-6 and abs(a[1] - b[1]) < 1e-6
        lo, la = i2(*b)
        # first-order Helmert negation residual (~4 mm), same as the
        # WKT1 TOWGS84 path
        assert abs(lo - lon) < 1e-6 and abs(la - lat) < 1e-6


def test_wkt2_geogcrs_ensemble_identity():
    wkt2 = ('GEOGCRS["WGS 84",ENSEMBLE["World Geodetic System 1984 '
            'ensemble",MEMBER["t"],ELLIPSOID["WGS 84",6378137,'
            '298.257223563,LENGTHUNIT["metre",1]],'
            'ENSEMBLEACCURACY[2.0]],PRIMEM["Greenwich",0,'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'CS[ellipsoidal,2],AXIS["latitude",north,ORDER[1],'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'AXIS["longitude",east,ORDER[2],'
            'ANGLEUNIT["degree",0.0174532925199433]],'
            'ID["EPSG",4326]]')
    fwd, inv = W.pair_from_wkt(wkt2)
    assert fwd(12.5, -33.25) == (12.5, -33.25)
    assert inv(12.5, -33.25) == (12.5, -33.25)


def test_wkt2_np_kernels_match_scalar():
    import numpy as np

    # one kernel pair: the array call agrees with float calls
    fwd_np, inv_np = W.pair_from_wkt(WKT2_L93)
    fwd_s = fwd_np
    lon = np.array([2.35, 5.4])
    lat = np.array([48.85, 43.3])
    x, y = fwd_np(lon, lat)
    for i, (lo, la) in enumerate([(2.35, 48.85), (5.4, 43.3)]):
        xs, ys = fwd_s(lo, la)
        assert abs(x[i] - xs) < 1e-6 and abs(y[i] - ys) < 1e-6
    lo2, la2 = inv_np(x, y)
    assert np.allclose(lo2, lon, atol=1e-9)
    assert np.allclose(la2, lat, atol=1e-9)
