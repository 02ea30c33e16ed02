"""Vector geometry kernel tests (T7 analog; FIXTURES.md §B
vector_features golden checks)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geohub_data_pipeline_spark.operators import geometry as G


def _features(spark):
    """FIXTURES §B vector_features: mixed types, Multi*, one invalid
    bowtie, one NULL geometry, srid mix incl. NULL-srid layer."""
    sq = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    bow = [(0.0, 0.0), (1.0, 1.0), (1.0, 0.0), (0.0, 1.0), (0.0, 0.0)]
    merc_x, merc_y = G.lonlat_to_mercator(10.0, 45.0)
    rows = [
        ("d1", "roads", 1, G.wkb_point(12.5, 41.9), 4326),
        ("d1", "roads", 2, G.wkb_linestring([(0.0, 0.0), (2.0, 2.0)]), 4326),
        ("d1", "zones", 3, G.wkb_polygon([sq]), 4326),
        ("d1", "zones", 4, G.wkb_polygon([bow]), 4326),      # invalid bowtie
        ("d1", "zones", 5, None, 4326),                       # -skipfailures
        ("d1", "zones", 6, b"\x01\xff\xff", 4326),            # unparseable
        ("d2", "merc", 7, G.wkb_point(merc_x, merc_y), 3857), # reproject
        ("d2", "noskip", 8, G.wkb_point(1.0, 1.0), None),     # NULL-srid layer
        ("d2", "utm", 9, G.wkb_point(500000.0, 0.0), 32633),  # native UTM
        ("d2", "poly", 10, G.wkb_point(250000.0, 7300000.0), 29101),  # unsupported
    ]
    return spark.createDataFrame(
        rows, "dataset string, layer string, fid long, geometry binary, "
              "srid int")


def test_wkb_roundtrip_and_promote():
    p = G.wkb_point(3.5, -7.25)
    parsed = G.parse_wkb(p)
    assert parsed["type"] == G.POINT and parsed["coords"] == [3.5, -7.25]
    mp = G.promote_to_multi(p)
    pm = G.parse_wkb(mp)
    assert pm["type"] == G.MULTIPOINT and pm["coords"] == [3.5, -7.25]
    # promoting a Multi* is a no-op
    assert G.promote_to_multi(mp) == mp


def test_mercator_roundtrip():
    for lon, lat in [(0.0, 0.0), (10.0, 45.0), (-120.0, -33.0)]:
        x, y = G.lonlat_to_mercator(lon, lat)
        lon2, lat2 = G._reproject_array(np.array([[x, y]]), 3857, None)[0]
        assert math.isclose(lon, lon2, abs_tol=1e-9)
        assert math.isclose(lat, lat2, abs_tol=1e-9)


def test_normalize_features(spark):
    out = G.normalize_features(_features(spark)).collect()
    by_fid = {r.fid: r for r in out}

    # -skipfailures: NULL, unparseable, NULL-srid layer, unsupported CRS
    assert set(by_fid) == {1, 2, 3, 4, 7, 9}

    # everything promoted to Multi*
    assert {r.geom_type for r in out} <= {G.MULTIPOINT, G.MULTILINESTRING,
                                          G.MULTIPOLYGON}
    # every output is 4326
    assert {r.srid for r in out} == {4326}

    # 3857 point reprojected back to its lon/lat
    r7 = by_fid[7]
    assert math.isclose(r7.bbox_minx, 10.0, abs_tol=1e-9)
    assert math.isclose(r7.bbox_miny, 45.0, abs_tol=1e-9)

    # UTM zone 33 false-easting origin = (15E, 0N) exactly
    r9 = by_fid[9]
    assert math.isclose(r9.bbox_minx, 15.0, abs_tol=1e-9)
    assert math.isclose(r9.bbox_miny, 0.0, abs_tol=1e-9)

    # bowtie REPAIRED by makevalid-lite (split at the crossing into
    # two triangles), square untouched; neither stays flagged
    assert by_fid[4].needs_makevalid is False
    assert by_fid[3].needs_makevalid is False
    fixed = G.parse_wkb(bytes(by_fid[4].geometry))
    assert fixed["type"] == G.MULTIPOLYGON
    assert len(fixed["parts"]) == 2           # two simple loops
    assert all(G._first_self_crossing(G._pairs(p)) is None
               for p in fixed["parts"])
    # area is conserved: bowtie = two 0.25 triangles
    assert sum(abs(G._ring_area2(G._pairs(p))) / 2
               for p in fixed["parts"]) == pytest.approx(0.5)

    # bbox of the square polygon
    r3 = by_fid[3]
    assert (r3.bbox_minx, r3.bbox_miny, r3.bbox_maxx, r3.bbox_maxy) == \
        (0.0, 0.0, 1.0, 1.0)


def test_make_valid_duplicate_vertices_and_winding():
    """Dup vertices dedupe; CW exterior re-wound CCW; holes CW."""
    sq_dup = [(0.0, 0.0), (2.0, 0.0), (2.0, 0.0), (2.0, 2.0),
              (0.0, 2.0), (0.0, 0.0)]
    hole_ccw = [(0.5, 0.5), (1.0, 0.5), (1.0, 1.0), (0.5, 1.0),
                (0.5, 0.5)]
    buf = G.wkb_polygon([sq_dup[::-1], hole_ccw])   # exterior CW
    out, invalid = G.make_valid_wkb(buf)
    assert invalid is False
    parsed = G.parse_wkb(out)
    assert parsed["type"] == G.MULTIPOLYGON
    ext, hole = [G._pairs(p) for p in parsed["parts"]]
    assert len(ext) == 5                            # dup removed
    assert G._ring_area2(ext) > 0                   # CCW exterior
    assert G._ring_area2(hole) < 0                  # CW hole
    assert parsed["roles"] == [True, False]


def test_make_valid_rewind_keeps_rings_closed():
    """Re-winding a CLOSED ring must keep last == first (regression:
    the open-ring reversal idiom doubled the start vertex and left the
    ring unclosed, emitting malformed WKB for any CW exterior)."""
    sq_ccw = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    buf = G.wkb_polygon([sq_ccw[::-1]])             # plain valid CW square
    out, invalid = G.make_valid_wkb(buf)
    assert invalid is False
    parsed = G.parse_wkb(out)
    for flat in parsed["parts"]:
        ring = G._pairs(flat)
        assert ring[0] == ring[-1]                  # closed
        assert len(set(ring[:-1])) == len(ring) - 1  # no doubled vertex
    ext = G._pairs(parsed["parts"][0])
    assert G._ring_area2(ext) > 0                   # CCW exterior
    assert abs(G._ring_area2(ext)) / 2 == pytest.approx(1.0)
    # _orient itself round-trips: reversing twice restores the ring
    assert G._orient(G._orient(sq_ccw[::-1], ccw=True), ccw=False) \
        == sq_ccw[::-1]


def test_make_valid_passthrough_and_flag():
    # valid square: byte-identical passthrough
    sq = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]
    buf = G.wkb_polygon([sq])
    out, invalid = G.make_valid_wkb(buf)
    assert out == buf and invalid is False
    # non-polygon: untouched
    pt = G.wkb_point(1.0, 2.0)
    assert G.make_valid_wkb(pt) == (pt, False)
    # collapsed ring (all vertices equal): flagged degenerate
    degen = G.wkb_polygon([[(1.0, 1.0)] * 5])
    out, invalid = G.make_valid_wkb(degen)
    assert invalid is True


def test_make_valid_crossing_hole_node_split():
    """A hole properly crossing its shell is repaired by noding the
    linework and reassembling the boundary (shell minus hole)."""
    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    hole = [(3.0, 1.0), (5.0, 1.0), (5.0, 3.0), (3.0, 3.0), (3.0, 1.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([sq, hole[::-1]]))
    assert invalid is False
    p = G.parse_wkb(out)
    rings = [G._pairs(x) for x in p["parts"]]
    assert p["roles"] == [True]                     # hole consumed
    assert sum(G._ring_area2(r) / 2 for r in rings) == pytest.approx(14.0)
    assert all(r[0] == r[-1] for r in rings)
    assert all(G._first_self_crossing(r) is None for r in rings)

    # slab crossing BOTH edges: shell splits into two exteriors
    slab = [(-1.0, 1.0), (5.0, 1.0), (5.0, 3.0), (-1.0, 3.0), (-1.0, 1.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([sq, slab[::-1]]))
    assert invalid is False
    p = G.parse_wkb(out)
    assert p["roles"] == [True, True]
    areas = sorted(G._ring_area2(G._pairs(x)) / 2 for x in p["parts"])
    assert areas == pytest.approx([4.0, 4.0])


def test_make_valid_hole_edge_cases():
    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    # hole entirely outside the shell subtracts nothing: dropped
    far = [(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0),
           (10.0, 10.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([sq, far[::-1]]))
    assert invalid is False
    assert G.parse_wkb(out)["roles"] == [True]
    # self-crossing (bowtie) hole inside the shell: split into two holes
    bow = [(1.0, 1.0), (3.0, 3.0), (3.0, 1.0), (1.0, 3.0), (1.0, 1.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([sq, bow]))
    assert invalid is False
    p = G.parse_wkb(out)
    assert p["roles"] == [True, False, False]
    assert sum(G._ring_area2(G._pairs(x)) / 2
               for x in p["parts"]) == pytest.approx(14.0)
    # POINT tangency (hole vertex ON a shell edge, interiors still
    # connected): VALID OGC geometry — kept untouched, not flagged
    # (r11; GEOS IsValid agrees a point-touching hole is valid)
    tang = [(2.0, 0.0), (3.0, 1.0), (1.0, 1.0), (2.0, 0.0)]
    buf = G.wkb_polygon([sq, tang[::-1]])
    out, invalid = G.make_valid_wkb(buf)
    assert invalid is False
    assert out == buf                      # nothing to repair
    # LINE tangency (hole sharing a boundary segment with the shell):
    # ambiguous noding — still refused, stays flagged
    lt = [(1.0, 0.0), (3.0, 0.0), (2.0, 1.0), (1.0, 0.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([sq, lt[::-1]]))
    assert invalid is True


def test_make_valid_self_tangent_pinch():
    """A figure-eight ring (boundary revisits a point) is node-split
    at the pinch into two shells — GEOS MakeValid semantics (r11)."""
    fe = [(0.0, 0.0), (2.0, 0.0), (1.0, 1.0), (2.0, 2.0), (0.0, 2.0),
          (1.0, 1.0), (0.0, 0.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([fe]))
    assert invalid is False
    p = G.parse_wkb(out)
    assert p["roles"] == [True, True]
    areas = sorted(abs(G._ring_area2(G._pairs(x))) / 2
                   for x in p["parts"])
    assert areas == pytest.approx([1.0, 1.0])
    # vertex-on-edge pinch (T-touch): node inserted, then split
    tt = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, 0.0), (0.0, 4.0),
          (0.0, 0.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([tt]))
    assert invalid is False
    assert G.parse_wkb(out)["roles"] == [True, True]


def test_make_valid_pinch_pocket_becomes_hole():
    """A CW pocket loop re-entering through the pinch point is NESTED
    in the outer loop: GEOS MakeValid linework semantics (area covered
    an ODD number of times) make it a HOLE, not a second shell —
    the r11 self-review's double-cover finding."""
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0),
            (1.0, 1.0), (1.0, 2.0), (2.0, 1.0), (0.0, 0.0)]
    out, invalid = G.make_valid_wkb(G.wkb_polygon([ring]))
    assert invalid is False
    p = G.parse_wkb(out)
    assert p["roles"] == [True, False]              # shell + hole
    areas = [G._ring_area2(G._pairs(x)) / 2 for x in p["parts"]]
    assert areas[0] == pytest.approx(16.0)          # shell CCW
    assert areas[1] == pytest.approx(-1.0)          # hole CW
    # net covered area 15, NOT 17 (double cover) or 16 (pocket lost)

    # nested loops inside a HOLE ring (island under even-odd) are not
    # silently erased — the row stays flagged
    shell = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]
    h = [(1.0, 1.0), (6.0, 1.0), (6.0, 6.0), (1.0, 6.0), (1.0, 1.0),
         (2.0, 2.0), (2.0, 3.0), (3.0, 2.0), (1.0, 1.0)]
    buf = G.wkb_polygon([shell, h])
    out, invalid = G.make_valid_wkb(buf)
    assert invalid is True and out == buf


def test_make_valid_multi_touch_hole_stays_flagged():
    """A hole meeting its shell at ONE isolated point is valid OGC
    geometry (kept); at TWO points the interior is disconnected (GEOS
    IsValid rejects it) — stays flagged, never reported repaired."""
    shell = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    one = [(0.0, 1.0), (1.0, 0.5), (1.5, 1.0), (1.0, 1.5), (0.0, 1.0)]
    buf = G.wkb_polygon([shell, one])
    out, invalid = G.make_valid_wkb(buf)
    assert invalid is False                         # valid: kept
    p = G.parse_wkb(out)                            # (re-wound/promoted)
    assert p["roles"] == [True, False]
    areas = [G._ring_area2(G._pairs(x)) / 2 for x in p["parts"]]
    assert areas[0] == pytest.approx(4.0)
    assert areas[1] == pytest.approx(-0.75)         # hole survives, CW

    two = [(0.0, 1.0), (1.0, 0.5), (2.0, 1.0), (1.0, 1.5), (0.0, 1.0)]
    buf = G.wkb_polygon([shell, two])
    out, invalid = G.make_valid_wkb(buf)
    assert invalid is True and out == buf           # disconnected interior


def test_make_valid_overlapping_and_nested_shells():
    """Multipolygon parts whose interiors intersect are unioned via
    noded reassembly; fully-nested shells are absorbed (GEOS
    structure-mode semantics); disjoint valid parts pass through."""
    A = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]
    B = [(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]
    out, invalid = G.make_valid_wkb(G.wkb_multipolygon([[A], [B]]))
    assert invalid is False
    p = G.parse_wkb(out)
    assert p["roles"] == [True]                     # single merged shell
    assert G._ring_area2(G._pairs(p["parts"][0])) / 2 == pytest.approx(7.0)

    inner = [(0.5, 0.5), (1.0, 0.5), (1.0, 1.0), (0.5, 1.0), (0.5, 0.5)]
    out, invalid = G.make_valid_wkb(G.wkb_multipolygon([[A], [inner]]))
    assert invalid is False
    p = G.parse_wkb(out)
    assert p["roles"] == [True]                     # nested shell absorbed
    assert G._ring_area2(G._pairs(p["parts"][0])) / 2 == pytest.approx(4.0)

    far = [(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0),
           (10.0, 10.0)]
    buf = G.wkb_multipolygon([[A], [far]])
    out, invalid = G.make_valid_wkb(buf)
    assert invalid is False and out == buf          # disjoint untouched


def test_ring_overlay_union_enclosed_hole():
    """A union whose shells interlock captures the enclosed region as
    a CW loop — it becomes a hole of the merged shell."""
    c1 = [(0.0, 0.0), (3.0, 0.0), (3.0, 1.0), (1.0, 1.0), (1.0, 2.0),
          (3.0, 2.0), (3.0, 3.0), (0.0, 3.0), (0.0, 0.0)]
    c2 = [(2.0, 0.5), (4.0, 0.5), (4.0, 2.5), (2.0, 2.5), (2.0, 0.5)]
    ov = G._ring_overlay(c1, c2, union=True)
    assert ov is not None
    areas = sorted(G._ring_area2(r) / 2 for r in ov)
    assert areas[0] < 0 < areas[1]                  # hole + shell
    # conservation: shell - hole == area(c1) + area(c2) - overlap
    out, invalid = G.make_valid_wkb(G.wkb_multipolygon([[c1], [c2]]))
    assert invalid is False
    p = G.parse_wkb(out)
    assert p["roles"] == [True, False]              # shell + homed hole
    net = sum(G._ring_area2(G._pairs(x)) / 2 for x in p["parts"])
    assert net == pytest.approx(areas[0] + areas[1])


def test_normalize_accepts_table_crs(spark):
    """Features in parameter-table CRSs (Albers 5070, OSGB 27700)
    reproject to lon/lat through normalize_features."""
    from geohub_data_pipeline_spark.operators import crs as C
    pts = {5070: C.from_lonlat(5070)(-85.0, 35.0),
           27700: C.from_lonlat(27700)(-1.5, 52.0)}
    rows = [("d", "l", srid, G.wkb_point(*xy), srid)
            for srid, xy in pts.items()]
    feats = spark.createDataFrame(
        rows, "dataset string, layer string, fid long, geometry binary, "
              "srid int")
    out = {r.fid: r for r in G.normalize_features(feats).collect()}
    assert abs(out[5070].bbox_minx - -85.0) < 1e-6 \
        and abs(out[5070].bbox_miny - 35.0) < 1e-6
    assert abs(out[27700].bbox_minx - -1.5) < 1e-6 \
        and abs(out[27700].bbox_miny - 52.0) < 1e-6


def test_feature_count_audit(spark):
    feats = _features(spark)
    norm = G.normalize_features(feats)
    audit = {
        (r.dataset, r.layer): r
        for r in G.feature_count_audit(
            feats, norm, ["dataset", "layer"]).collect()
    }
    # zones lost 2 of 4 -> warning; roads + native-CRS utm -> ok;
    # noskip/poly lost everything -> error (ref processing.py:160-181)
    assert audit[("d1", "roads")].audit_status == "ok"
    assert audit[("d1", "zones")].audit_status == "warning"
    assert audit[("d2", "noskip")].audit_status == "error"
    assert audit[("d2", "utm")].audit_status == "ok"
    assert audit[("d2", "poly")].audit_status == "error"


def test_unsupported_crs_raises_without_pyproj():
    pytest.importorskip
    try:
        import pyproj  # noqa: F401
        pytest.skip("pyproj installed; stub path not reachable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        # Brazil Polyconic: no table entry
        G._reproject_array(np.array([[1.0, 2.0]]), 29101, None)
