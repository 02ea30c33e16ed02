"""Round-5 upload formats: KML/KMZ + GPX + CSV points (vector) and
SRTM .hgt (raster) — sources/kml.py, sources/csvpoints.py,
sources/srtmhgt.py, wired through processing.py's dispatch tree
(the reference accepts these via GDAL's LIBKML/GPX/CSV/SRTMHGT
drivers, ref ingest/processing.py:100-213, 469-552)."""

import io
import json
import os
import zipfile

import numpy as np
import pytest

from geohub_data_pipeline_spark.operators import geometry as G
from geohub_data_pipeline_spark.sources import csvpoints as CSVP
from geohub_data_pipeline_spark.sources import kml as KML
from geohub_data_pipeline_spark.sources import srtmhgt as HGT

_KML = b"""<?xml version="1.0" encoding="UTF-8"?>
<kml xmlns="http://www.opengis.net/kml/2.2">
 <Document><name>demo</name>
  <Folder><name>pois</name>
   <Placemark><name>A</name>
    <ExtendedData><Data name="pop"><value>12</value></Data></ExtendedData>
    <Point><coordinates>10.5,52.25,0</coordinates></Point></Placemark>
   <Placemark><name>B</name>
    <MultiGeometry>
     <Point><coordinates>1,2</coordinates></Point>
     <LineString><coordinates>0,0 1,1 2,0</coordinates></LineString>
    </MultiGeometry></Placemark>
  </Folder>
  <Placemark><name>zone</name>
   <Polygon><outerBoundaryIs><LinearRing>
    <coordinates>0,0 4,0 4,4 0,4 0,0</coordinates>
   </LinearRing></outerBoundaryIs>
   <innerBoundaryIs><LinearRing>
    <coordinates>1,1 2,1 2,2 1,2 1,1</coordinates>
   </LinearRing></innerBoundaryIs></Polygon></Placemark>
 </Document>
</kml>"""

_GPX = b"""<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
 <wpt lat="52.1" lon="10.2"><name>w1</name><ele>120</ele></wpt>
 <trk><name>t1</name>
  <trkseg><trkpt lat="52.0" lon="10.0"/><trkpt lat="52.1" lon="10.1"/></trkseg>
  <trkseg><trkpt lat="53.0" lon="11.0"/><trkpt lat="53.1" lon="11.1"/></trkseg>
 </trk>
 <rte><name>r1</name><rtept lat="50" lon="9"/><rtept lat="50.5" lon="9.5"/></rte>
</gpx>"""


def test_kml_placemark_parse():
    rows = list(KML.read_kml_bytes(_KML, "demo.kml"))
    assert [r[1] for r in rows] == ["pois", "pois", "pois", "demo"]
    kinds = [G.parse_wkb(r[3])["type"] for r in rows]
    assert kinds == [G.POINT, G.POINT, G.LINESTRING, G.POLYGON]
    assert json.loads(rows[0][6]) == {"name": "A", "pop": "12"}
    assert G.parse_wkb(rows[0][3])["coords"] == [10.5, 52.25]
    assert all(r[4] == 4326 for r in rows)
    # the hole made it into the polygon (two parts: shell + ring)
    assert len(G.parse_wkb(rows[3][3])["parts"]) == 2


def test_kmz_unwraps_doc_kml():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("other.kml", b"<kml/>")
        z.writestr("doc.kml", _KML)
    rows = list(KML.read_kml_bytes(buf.getvalue(), "demo.kmz"))
    assert len(rows) == 4                  # doc.kml wins over other.kml


def test_gpx_parse():
    rows = list(KML.read_gpx_bytes(_GPX, "demo.gpx"))
    by_layer = {r[1]: r for r in rows}
    assert set(by_layer) == {"waypoints", "tracks", "routes"}
    assert G.parse_wkb(by_layer["waypoints"][3])["coords"] == [10.2, 52.1]
    trk = G.parse_wkb(by_layer["tracks"][3])
    assert trk["type"] == G.MULTILINESTRING
    assert json.loads(by_layer["waypoints"][6])["ele"] == "120"


def test_kml_source_dataframe(spark, tmp_path):
    (tmp_path / "demo.kml").write_bytes(_KML)
    df = KML.features_from_kml(spark, str(tmp_path / "demo.kml"))
    rows = df.collect()
    assert len(rows) == 4
    norm = G.normalize_features(df).collect()
    assert len(norm) == 4                  # all valid, all 4326 already
    assert {r.srid for r in norm} == {4326}


def test_csv_points_spark_native(spark, tmp_path):
    p = tmp_path / "cities.csv"
    p.write_text("name,Latitude,Longitude,pop\n"
                 "berlin,52.52,13.405,3600000\n"
                 "paris,48.857,2.352,2100000\n"
                 "bad,,2.0,0\n")
    df = CSVP.features_from_csv(spark, str(p))
    rows = sorted(df.collect(), key=lambda r: r.fid)
    assert len(rows) == 2                  # NULL lat dropped
    assert {r.layer for r in rows} == {"cities"}
    coords = sorted(G.parse_wkb(bytes(r.geometry))["coords"]
                    for r in rows)
    assert coords == [[2.352, 48.857], [13.405, 52.52]]
    props = json.loads(rows[0].properties)
    assert set(props) == {"name", "pop"}
    # single-doc bytes form (archive member path)
    rows2 = list(CSVP.read_csv_bytes(p.read_bytes(), "cities.csv"))
    assert len(rows2) == 2


def test_csv_without_coords_raises(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,2\n")
    with pytest.raises(ValueError):
        CSVP.features_from_csv(spark, str(p))


def _hgt_tile(n=257):
    """Synthetic square SRTM-style tile: elevation = row*1000 + col
    clipped to int16, with one void."""
    arr = np.add.outer(np.arange(n) * 7, np.arange(n)) % 9000
    arr = arr.astype(">i2")
    arr[5, 5] = -32768
    return arr.tobytes()


def test_hgt_parse_and_blocks(spark, tmp_path):
    p = tmp_path / "N52E013.hgt"
    p.write_bytes(_hgt_tile())
    blocks = HGT.blocks_from_hgt(spark, str(p)).collect()
    # 257x257 -> 2x2 block grid with ragged 1-px edges
    assert len(blocks) == 4
    b00 = next(b for b in blocks if b.block_x == 0 and b.block_y == 0)
    assert b00.width == 256 and b00.height == 256
    assert b00.pixels[0] == 0.0 and b00.pixels[1] == 1.0
    assert b00.pixels[5 * 256 + 5] == -32768.0   # the void
    assert b00.nodata == -32768.0 and b00.srid == 4326
    g = HGT.georef_from_hgt(spark, str(p)).collect()
    assert len(g) == 1
    s = 1.0 / 256
    assert g[0].origin_x == pytest.approx(13.0 - s / 2)
    assert g[0].origin_y == pytest.approx(53.0 + s / 2)
    assert g[0].pixel_sx == pytest.approx(s)


def test_hgt_name_parse():
    assert HGT.parse_hgt_name("N52E013.hgt") == (13.0, 52.0)
    assert HGT.parse_hgt_name("S33W070.hgt") == (-70.0, -33.0)
    assert HGT.parse_hgt_name("garbage.hgt") is None


def test_process_geo_file_dispatch_new_formats(spark, tmp_path):
    """End-to-end through the real tree: .kml -> FGB+PMTiles,
    .hgt -> validated COG."""
    from geohub_data_pipeline_spark import processing as PROC

    src = tmp_path / "demo.kml"
    src.write_bytes(_KML)
    out = PROC.process_geo_file(spark, str(src), str(tmp_path / "v"))
    assert any(a.endswith(".fgb") for a in out["artifacts"])
    assert any(a.endswith(".pmtiles") for a in out["artifacts"])
    assert {c["kind"] for c in out["chunks"]} == {"layer"}

    hgt = tmp_path / "N52E013.hgt"
    hgt.write_bytes(_hgt_tile())
    out = PROC.process_geo_file(spark, str(hgt), str(tmp_path / "r"))
    cogs = [a for a in out["artifacts"] if a.endswith(".tif")]
    assert cogs and all(a["valid"]
                        for a in out["audits"]["cog_validate"])


def test_cli_raster_hgt(spark, tmp_path, capsys):
    """``--raster x.hgt`` goes through the same raster reader as the
    service: one valid COG out."""
    from geohub_data_pipeline_spark import cli
    from geohub_data_pipeline_spark.operators import rasterprobe as RP

    hgt = tmp_path / "N52E013.hgt"
    hgt.write_bytes(_hgt_tile(65))
    assert cli.main(["--raster", str(hgt), "--dst", str(tmp_path / "out"),
                     "--overview-levels", "1"]) == 0
    assert "wrote 1 COGs" in capsys.readouterr().out
    (cog,) = (tmp_path / "out" / "cog").glob("*.tif")
    assert RP.validate_cog_path(str(cog))["valid"]


def test_kml_gpx_csv_archive_members(spark, tmp_path):
    """Zipped .kml/.gpx/.csv members flow through the archive source."""
    from geohub_data_pipeline_spark.sources.archive import (
        features_from_archives,
    )

    z = tmp_path / "mixed.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("demo.kml", _KML)
        zf.writestr("trip.gpx", _GPX)
        zf.writestr("cities.csv",
                    "lat,lon,name\n52.52,13.405,berlin\n")
    rows = features_from_archives(spark, str(z)).collect()
    layers = {r.layer for r in rows}
    assert {"pois", "demo", "waypoints", "tracks", "routes",
            "cities"} <= layers
    assert len(rows) == 4 + 3 + 1


def test_geojsonseq_source(spark, tmp_path):
    """Newline-delimited GeoJSON: splittable text scan, per-line
    parse, RS prefix tolerated, malformed lines skipped, bare
    geometries wrapped."""
    from geohub_data_pipeline_spark.sources.geojsonseq import (
        features_from_geojsonseq,
    )
    from geohub_data_pipeline_spark import processing as PROC

    p = tmp_path / "towns.geojsonl"
    p.write_text(
        '{"type":"Feature","id":7,"geometry":{"type":"Point",'
        '"coordinates":[13.4,52.5]},"properties":{"name":"b"}}\n'
        '\x1e{"type":"Feature","geometry":{"type":"LineString",'
        '"coordinates":[[0,0],[1,1]]},"properties":{}}\n'
        '{"type":"Point","coordinates":[2.3,48.8]}\n'
        'not json at all\n'
        '\n')
    rows = features_from_geojsonseq(spark, str(p)).collect()
    assert len(rows) == 3                  # bad + blank skipped
    assert {r.layer for r in rows} == {"towns"}
    by_fid = {r.fid: r for r in rows}
    assert 7 in by_fid                     # explicit id preserved
    assert json.loads(by_fid[7].properties) == {"name": "b"}
    assert G.parse_wkb(bytes(by_fid[7].geometry))["coords"] == [13.4, 52.5]
    # dispatch + full pipeline
    out = PROC.process_geo_file(spark, str(p), str(tmp_path / "o"))
    assert any(a.endswith(".fgb") for a in out["artifacts"])
    norm_rows = len(rows)
    assert out["audits"]["feature_counts"][0]["converted"] == norm_rows


_TOPO = {
    "type": "Topology",
    "transform": {"scale": [0.001, 0.001], "translate": [10.0, 50.0]},
    "objects": {
        "zones": {"type": "GeometryCollection", "geometries": [
            {"type": "Polygon", "id": 1, "properties": {"n": "L"},
             "arcs": [[0, 1]]},
            {"type": "Polygon", "id": 2, "properties": {"n": "R"},
             "arcs": [[-1, 2]]},
        ]},
        "spine": {"type": "LineString", "arcs": [0]},
        "pts": {"type": "Point", "coordinates": [500, 500]},
    },
    "arcs": [
        [[1000, 0], [0, 1000]],
        [[1000, 1000], [-1000, 0], [0, -1000], [1000, 0]],
        [[1000, 0], [1000, 0], [0, 1000], [-1000, 0]],
    ],
}


def test_topojson_shared_arc_decode(spark, tmp_path):
    """The TopoJSON selling point survives the decode: two polygons
    referencing arc 0 (one reversed) share their border vertices
    bit-exactly; quantized delta positions land on the transform."""
    from geohub_data_pipeline_spark.sources import topojson as TJ

    payload = json.dumps(_TOPO).encode()
    rows = list(TJ.read_topojson_bytes(payload, "t.topojson"))
    by = {}
    for r in rows:
        by.setdefault(r[1], []).append(r)
    assert set(by) == {"zones", "spine", "pts"}
    assert G.parse_wkb(by["pts"][0][3])["coords"] == [10.5, 50.5]
    assert G.parse_wkb(by["spine"][0][3])["coords"] == [11.0, 50.0,
                                                       11.0, 51.0]
    left = G.parse_wkb(by["zones"][0][3])["coords"]
    right = G.parse_wkb(by["zones"][1][3])["coords"]
    # shared border (11,50)-(11,51) appears in both rings
    assert left[:4] == [11.0, 50.0, 11.0, 51.0]
    assert right[:4] == [11.0, 51.0, 11.0, 50.0]
    assert json.loads(by["zones"][0][6]) == {"n": "L"}

    # DataFrame source + dispatch + full pipeline
    from geohub_data_pipeline_spark import processing as PROC
    src = tmp_path / "t.topojson"
    src.write_bytes(payload)
    df = PROC.read_vector_features(spark, str(src))
    assert df.count() == 4
    out = PROC.process_geo_file(spark, str(src), str(tmp_path / "o"))
    assert any(a.endswith(".pmtiles") for a in out["artifacts"])


def test_bare_geojson_dispatch_regression(spark, tmp_path):
    """A bare .geojson through read_vector_features (the member
    kernel used to KeyError on archive_path/member for non-archive
    input)."""
    from geohub_data_pipeline_spark import processing as PROC

    p = tmp_path / "towns.geojson"
    p.write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [{"type": "Feature", "id": 1,
                      "geometry": {"type": "Point",
                                   "coordinates": [1.0, 2.0]},
                      "properties": {"a": 1}}]}))
    rows = PROC.read_vector_features(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0].layer == "towns"
    assert G.parse_wkb(bytes(rows[0].geometry))["coords"] == [1.0, 2.0]


_GML = b"""<?xml version="1.0"?>
<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs/2.0"
  xmlns:gml="http://www.opengis.net/gml/3.2" xmlns:app="http://x/app">
 <wfs:member>
  <app:Building gml:id="b1">
   <app:name>town hall</app:name>
   <app:geom>
    <gml:Point srsName="urn:ogc:def:crs:EPSG::4326">
     <gml:pos>52.52 13.405</gml:pos>
    </gml:Point>
   </app:geom>
  </app:Building>
 </wfs:member>
 <wfs:member>
  <app:Road gml:id="r1">
   <app:geom>
    <gml:LineString srsName="EPSG:25832">
     <gml:posList>500000 5700000 500100 5700200</gml:posList>
    </gml:LineString>
   </app:geom>
  </app:Road>
 </wfs:member>
 <wfs:member>
  <app:Zone gml:id="z1">
   <app:geom>
    <gml:Polygon srsName="http://www.opengis.net/def/crs/EPSG/0/4326">
     <gml:exterior><gml:LinearRing>
      <gml:posList>50 10 50 11 51 11 51 10 50 10</gml:posList>
     </gml:LinearRing></gml:exterior>
    </gml:Polygon>
   </app:geom>
  </app:Zone>
 </wfs:member>
</wfs:FeatureCollection>"""


def test_gml_wfs_axis_order_and_srids(spark, tmp_path):
    """GML/WFS: urn and http srsName spellings carry the official
    LAT,LON axis order for geographic CRS (swapped to the engine's
    lon/lat); the legacy EPSG:nnnn spelling stays x,y; layers come
    from the feature element names."""
    from geohub_data_pipeline_spark.sources import gml as GML
    from geohub_data_pipeline_spark import processing as PROC

    rows = list(GML.read_gml_bytes(_GML, "wfs.gml"))
    by = {r[1]: r for r in rows}
    assert set(by) == {"Building", "Road", "Zone"}
    assert G.parse_wkb(by["Building"][3])["coords"] == [13.405, 52.52]
    assert by["Building"][4] == 4326
    assert json.loads(by["Building"][6])["name"] == "town hall"
    assert by["Road"][4] == 25832          # projected: no swap
    assert G.parse_wkb(by["Road"][3])["coords"][:2] == [500000.0,
                                                        5700000.0]
    assert G.parse_wkb(by["Zone"][3])["coords"][:4] == [10.0, 50.0,
                                                        11.0, 50.0]
    # srsName parse table
    assert GML.parse_srs("urn:ogc:def:crs:EPSG::4326") == (4326, True)
    assert GML.parse_srs("EPSG:4326") == (4326, False)
    assert GML.parse_srs(
        "http://www.opengis.net/def/crs/EPSG/0/25832") == (25832, False)
    assert GML.parse_srs(None) == (4326, False)
    # urn/http-form PROJECTED northing-first grids (INSPIRE trap):
    # official axis order is N,E -> swap; legacy spelling stays x,y
    assert GML.parse_srs("urn:ogc:def:crs:EPSG::3035") == (3035, True)
    assert GML.parse_srs(
        "http://www.opengis.net/def/crs/EPSG/0/2180") == (2180, True)
    assert GML.parse_srs("EPSG:3035") == (3035, False)
    assert GML.parse_srs("urn:ogc:def:crs:EPSG::3006") == (3006, True)

    # end-to-end: normalize reprojects the 25832 road to 4326
    src = tmp_path / "wfs.gml"
    src.write_bytes(_GML)
    df = PROC.read_vector_features(spark, str(src))
    norm = {r.layer: r for r in G.normalize_features(df).collect()}
    assert len(norm) == 3
    road = G.parse_wkb(bytes(norm["Road"].geometry))
    assert abs(road["coords"][0] - 9.0) < 1e-6   # E=500000 = central meridian 9E

    # zipped member route
    z = tmp_path / "wfs.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("wfs.gml", _GML)
    from geohub_data_pipeline_spark.sources.archive import (
        features_from_archives,
    )
    assert features_from_archives(spark, str(z)).count() == 3


def test_review_regressions_r5(spark, tmp_path):
    """Round-5 self-review fixes, each verified by its failing input:
    GPX wpt missing lon quarantines instead of crashing; ragged CSV
    rows skip the DictReader None-key; two GPX members in one
    archive get distinct member-scoped fids; .geojsonl and .hgt
    members flow through archives; GML srsDimension=3 drops Z
    instead of mispairing."""
    from geohub_data_pipeline_spark.sources import gml as GML
    from geohub_data_pipeline_spark.sources.archive import (
        features_from_archives,
    )
    from geohub_data_pipeline_spark import processing as PROC

    # GPX with a broken waypoint: file route must quarantine the file
    bad_gpx = (b'<?xml version="1.0"?>'
               b'<gpx xmlns="http://www.topografix.com/GPX/1/1">'
               b'<wpt lat="50"><name>broken</name></wpt></gpx>')
    p = tmp_path / "bad.gpx"
    p.write_bytes(bad_gpx)
    assert KML.features_from_gpx(spark, str(p)).count() == 0

    # ragged CSV row (extra field) skips cleanly in the bytes form
    rows = list(CSVP.read_csv_bytes(
        b"name,lat,lon\na,50,10\nb,51,11,EXTRA\n", "t.csv"))
    assert len(rows) == 2
    assert json.loads(rows[1][6])["name"] == "b"

    # two GPX members: same layers, DISTINCT (dataset, layer, fid)
    ok_gpx = (b'<?xml version="1.0"?>'
              b'<gpx xmlns="http://www.topografix.com/GPX/1/1">'
              b'<wpt lat="50" lon="10"><name>w</name></wpt></gpx>')
    z = tmp_path / "two.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("a.gpx", ok_gpx)
        zf.writestr("b.gpx", ok_gpx)
        zf.writestr("pts.geojsonl",
                    '{"type":"Feature","geometry":{"type":"Point",'
                    '"coordinates":[1,2]},"properties":{"k":1}}\n')
    feats = features_from_archives(spark, str(z)).collect()
    keys = {(r.dataset, r.layer, r.fid) for r in feats}
    assert len(keys) == len(feats) == 3    # no collisions
    assert {r.layer for r in feats} == {"waypoints", "pts"}

    # .hgt member through the archive raster path
    zr = tmp_path / "dem.zip"
    with zipfile.ZipFile(zr, "w") as zf:
        zf.writestr("N52E013.hgt", _hgt_tile(65))
    blocks, georefs, _ = PROC.read_raster_source(spark, str(zr))
    assert blocks.count() == 1
    g = georefs.collect()
    assert len(g) == 1 and abs(g[0].origin_x - (13 - 1 / 128)) < 1e-9
    assert PROC._archive_is_raster(str(zr))
    assert PROC._archive_is_vector(str(z))

    # GML 3D posList: Z dropped, not mispaired
    doc = (b'<?xml version="1.0"?>'
           b'<gml:FeatureCollection '
           b'xmlns:gml="http://www.opengis.net/gml/3.2">'
           b'<gml:featureMember><a gml:id="x"><g>'
           b'<gml:LineString srsName="urn:ogc:def:crs:EPSG::4326">'
           b'<gml:posList srsDimension="3">'
           b'52.0 4.0 10.0 52.1 4.1 12.0</gml:posList>'
           b'</gml:LineString></g></a></gml:featureMember>'
           b'</gml:FeatureCollection>')
    rows = list(GML.read_gml_bytes(doc, "d.gml"))
    assert G.parse_wkb(rows[0][3])["coords"] == [4.0, 52.0, 4.1, 52.1]


def test_substring_dedup_short_docs_not_self_duplicated(spark):
    """Docs shorter than k must emit NO grams: Spark's
    sequence(1, 0) is [1, 0] and substr(_, 0, k) == substr(_, 1, k),
    which marked short docs as duplicates of themselves."""
    from geohub_data_pipeline_spark.operators.dedup import (
        substring_dup_spans,
    )

    df = spark.createDataFrame(
        [(1, "short"), (2, ""), (3, None),
         (4, "x" * 80), (5, "x" * 80)],   # 4/5 genuinely duplicated
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           substring_dup_spans(df, "text", "doc_id", k=40).collect()}
    assert set(out) == {4, 5}
    assert out[4].dup_chars == 80 and out[4].n_dup_spans == 1


def test_semdedup_empty_codebook_fallback(spark):
    """An id space with no multiple of centroid_every must not drop
    the corpus — the minimum id becomes the single centroid."""
    from geohub_data_pipeline_spark.operators.dedup import semdedup

    df = spark.createDataFrame(
        [(i, [1.0, float(i % 3)]) for i in range(1, 8)],
        "vec_id long, vec array<double>")
    out = semdedup(df, centroid_every=40, tau=0.99)
    rows = out.collect()
    assert len(rows) == 7                  # one verdict per vector
    # identical-direction vectors dedup; the kept one has the LOWEST
    # centroid similarity per the paper's rule
    removed = {r.vec_id for r in rows if r.removed}
    assert removed                         # some dupes exist (i%3 repeats)


def test_geojsonseq_writer_roundtrip(spark, tmp_path):
    """write_geojsonseq_tables -> features_from_geojsonseq is an
    identity on fid / geometry / properties (the sink twin)."""
    import json as _json

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources.geojsonseq import (
        features_from_geojsonseq,
        write_geojsonseq_tables,
    )

    donut = G.wkb_polygon([
        [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
        [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0)],
    ])
    rows = [
        ("d", "l", 1, G.wkb_point(1.5, -2.25), 4326, None,
         _json.dumps({"name": "a", "v": 3})),
        ("d", "l", 2, G.wkb_linestring([(0.0, 0.0), (2.5, 1.0)]),
         4326, None, None),
        ("d", "l", 3, donut, 4326, None, _json.dumps({"hole": True})),
    ]
    feats = spark.createDataFrame(
        rows, "dataset string, layer string, fid long, "
              "geometry binary, srid int, crs_wkt string, "
              "properties string")
    man = write_geojsonseq_tables(feats, str(tmp_path)).collect()
    assert len(man) == 1 and man[0].n_features == 3
    back = {r.fid: r for r in features_from_geojsonseq(
        spark, man[0].path).collect()}
    assert set(back) == {1, 2, 3}
    p1 = G.parse_wkb(bytes(back[1].geometry))
    assert p1["coords"] == [1.5, -2.25] or p1["parts"] == [[1.5, -2.25]]
    p3 = G.parse_wkb(bytes(back[3].geometry))
    assert len(p3["parts"]) == 2           # hole survived
    assert _json.loads(back[3].properties)["hole"] is True

    # underscore-carrying (dataset, layer) pairs that collide under
    # naive f"{dataset}_{layer}" naming get distinct files (ADVICE r6)
    pt = G.wkb_point(0.0, 0.0)
    tricky = spark.createDataFrame(
        [("a_b", "c", 1, pt, 4326, None, None),
         ("a", "b_c", 2, pt, 4326, None, None)],
        "dataset string, layer string, fid long, geometry binary, "
        "srid int, crs_wkt string, properties string")
    man2 = write_geojsonseq_tables(tricky, str(tmp_path)).collect()
    paths = {r.path for r in man2}
    assert len(paths) == 2
    for r in man2:
        assert r.n_features == 1
