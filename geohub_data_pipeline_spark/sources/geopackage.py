"""GeoPackage (.gpkg) feature source — stdlib sqlite3, no GDAL.

GeoPackage is the reference's highest-traffic vector upload format;
it processes them through ogr2ogr (ref ingest/processing.py:100-213,
ingest/config.py:22-31 format registry).  A GeoPackage is a SQLite
database with registered metadata tables (OGC 12-128r18):

* ``gpkg_contents``       — layer registry (data_type='features'),
* ``gpkg_geometry_columns`` — geometry column + srs per layer,
* feature tables          — one row per feature; geometry cells are
  GPKG blobs: ``GP`` magic, version, flags (envelope size + byte
  order + empty bit), srs_id, optional envelope, then plain WKB.

This source opens the bytes with stdlib ``sqlite3``, enumerates
feature layers, strips the GPKG blob header, and emits the engine's
standard feature rows (dataset, layer, fid, geometry WKB, srid) —
the same schema the archive/GeoJSON source produces, so everything
downstream (normalize, makevalid, tiling, GeoParquet) is shared.

Scale: one .gpkg = one task (SQLite is a single-file format);
feature rows stream out through Arrow batches and repartition like
any other feature scan.  Corrupt files quarantine, never fail tasks.
"""

from __future__ import annotations

import os
import sqlite3
import struct
import tempfile
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from geohub_data_pipeline_spark.sources.files import scan_files

FEATURE_SCHEMA = (
    "dataset string, layer string, fid long, geometry binary, srid int, "
    "crs_wkt string, properties string"
)

_ENVELOPE_BYTES = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}


def parse_gpkg_blob(blob: bytes) -> tuple[int, bytes] | None:
    """GPKG geometry blob -> (srs_id, wkb); None for empty geometry.

    Raises ValueError on malformed headers (caller quarantines).
    """
    if len(blob) < 8 or blob[:2] != b"GP":
        raise ValueError("bad GPKG blob magic")
    flags = blob[3]
    if flags & 0x20:
        raise ValueError("extended GPKG geometry unsupported")
    env_code = (flags >> 1) & 0x07
    if env_code not in _ENVELOPE_BYTES:
        raise ValueError(f"invalid envelope indicator {env_code}")
    bo = "<" if flags & 0x01 else ">"
    (srs_id,) = struct.unpack_from(bo + "i", blob, 4)
    if flags & 0x10:                       # empty-geometry flag
        return None
    wkb = blob[8 + _ENVELOPE_BYTES[env_code]:]
    if not wkb:
        raise ValueError("GPKG blob missing WKB body")
    return srs_id, wkb


def _feature_layers(con: sqlite3.Connection) -> list[tuple[str, str, int]]:
    """(table, geometry_column, srs_id) for every features layer."""
    rows = con.execute(
        "SELECT c.table_name, g.column_name, g.srs_id "
        "FROM gpkg_contents c "
        "JOIN gpkg_geometry_columns g ON g.table_name = c.table_name "
        "WHERE c.data_type = 'features' ORDER BY c.table_name"
    ).fetchall()
    return [(str(t), str(col), int(srs)) for t, col, srs in rows]


def _srs_definitions(con: sqlite3.Connection) -> dict[int, str]:
    """srs_id -> WKT definition from ``gpkg_spatial_ref_sys`` (spec
    table 4, column ``definition``).  Lets layers whose srs_id is not
    an EPSG code the engine knows reproject via operators/crs_wkt.py,
    the way GDAL resolves the same column.  When the OGC 12-063
    extension column (``definition_12_063`` — WKT2) is present and
    populated it wins over the WKT1 ``definition``: modern GeoPackage
    writers fill only it, leaving ``definition`` as 'undefined'."""
    try:
        rows = con.execute(
            "SELECT srs_id, definition, definition_12_063 "
            "FROM gpkg_spatial_ref_sys").fetchall()
    except sqlite3.Error:
        try:
            rows = [(s, d, None) for s, d in con.execute(
                "SELECT srs_id, definition FROM gpkg_spatial_ref_sys"
            ).fetchall()]
        except sqlite3.Error:
            return {}

    def pick(d1, d2):
        for d in (d2, d1):                 # WKT2 column wins
            if d and str(d).strip().upper() not in ("", "UNDEFINED"):
                return str(d)
        return None

    out = {}
    for s, d1, d2 in rows:
        got = pick(d1, d2)
        if got is not None:
            out[int(s)] = got
    return out


def _q(ident: str) -> str:
    """SQLite identifier quoting (layer/column names come from the
    file's own registry — escape embedded quotes defensively)."""
    return '"' + ident.replace('"', '""') + '"'


def _pk_column(con: sqlite3.Connection, table: str) -> str | None:
    for cid, name, _t, _nn, _d, pk in con.execute(
            f"PRAGMA table_info({_q(table)})"):
        if pk:
            return str(name)
    return None


def read_gpkg_bytes(content: bytes, dataset: str,
                    with_wkt: bool = False,
                    with_props: bool = False):
    """Yield (dataset, layer, fid, wkb, srid) rows from .gpkg bytes
    (+ the layer's ``gpkg_spatial_ref_sys`` WKT definition as a 6th
    element when ``with_wkt``; + the row's non-geometry attribute
    columns as a JSON string 7th element when ``with_props`` — the
    fields ogr2ogr carries through the reference pipeline).

    sqlite3 requires a file path, so the bytes land in a temp file for
    the duration of the read (executor-local scratch — the same thing
    the reference's GDAL does with downloaded blobs).
    """
    import json

    fd, tmp = tempfile.mkstemp(suffix=".gpkg")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(content)
        con = sqlite3.connect(tmp)
        try:
            defs = _srs_definitions(con) if with_wkt else {}

            def out(row, srid, props):
                row = row + ((defs.get(srid),) if with_wkt else ())
                if with_props:
                    row = row + (props,)
                return row

            for table, geom_col, srs_default in _feature_layers(con):
                pk = _pk_column(con, table)
                fid_expr = _q(pk) if pk else "rowid"
                attr_cols = []
                if with_props:
                    attr_cols = [
                        str(name) for _cid, name, _t, _nn, _d, _pk
                        in con.execute(
                            f"PRAGMA table_info({_q(table)})")
                        if str(name) not in (geom_col, pk)]
                sel = ", ".join(
                    [fid_expr, _q(geom_col)]
                    + [_q(c) for c in attr_cols])
                cur = con.execute(
                    f"SELECT {sel} FROM {_q(table)} "
                    f"ORDER BY {fid_expr}")
                for rec in cur:
                    fid, blob = rec[0], rec[1]
                    props = None
                    if with_props and attr_cols:
                        d = {c: v for c, v in
                             zip(attr_cols, rec[2:])
                             if v is not None
                             and not isinstance(v, bytes)}
                        if d:
                            props = json.dumps(
                                d, sort_keys=True,
                                separators=(",", ":"), default=str)
                    if blob is None:
                        yield out((dataset, table, int(fid), None,
                                   srs_default), srs_default, props)
                        continue
                    parsed = parse_gpkg_blob(bytes(blob))
                    if parsed is None:     # empty geometry
                        yield out((dataset, table, int(fid), None,
                                   srs_default), srs_default, props)
                        continue
                    srs_id, wkb = parsed
                    srid = srs_id if srs_id > 0 else srs_default
                    yield out((dataset, table, int(fid), wkb, srid),
                              srid, props)
        finally:
            con.close()
    finally:
        os.unlink(tmp)


def features_from_gpkg(spark: SparkSession, path: str) -> DataFrame:
    """Scan .gpkg files under ``path`` into engine feature rows."""
    return scan_files(spark, path, FEATURE_SCHEMA,
                      partial(read_gpkg_bytes, with_wkt=True,
                              with_props=True),
                      (sqlite3.Error, ValueError, OSError))


def _norm_props(p) -> dict:
    """Feature properties as a dict: accepts the reader's JSON string
    form, a dict, or None."""
    import json

    if p is None:
        return {}
    if isinstance(p, str):
        try:
            d = json.loads(p)
            return d if isinstance(d, dict) else {}
        except ValueError:
            return {}
    return p if isinstance(p, dict) else {}


def _sqlite_type(v) -> str:
    if isinstance(v, bool) or isinstance(v, int):
        return "INTEGER"
    if isinstance(v, float):
        return "REAL"
    return "TEXT"


def write_gpkg(path: str, layers: dict[str, list[tuple]],
               srid: int = 4326,
               srs_definition: str | None = None,
               layer_srids: dict[str, int] | None = None) -> None:
    """Minimal spec-conformant GeoPackage writer (fixtures + sinks):
    ``layers`` maps layer name -> [(fid, wkb bytes), ...] or
    [(fid, wkb, properties), ...] where ``properties`` is a dict or
    the reader's JSON string — attribute values become TYPED columns
    (INTEGER/REAL/TEXT, widened on conflict) so a GPKG write->read
    round-trip preserves fields, matching the attribute carry-through
    of the reference's ogr2ogr path (ref ingest/processing.py:
    138-159, ``-preserve_fid`` + default field copy)."""
    con = sqlite3.connect(path)
    try:
        con.execute("PRAGMA application_id = 0x47504B47")  # 'GPKG'
        con.execute("PRAGMA user_version = 10300")
        con.execute(
            "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, "
            "srs_id INTEGER PRIMARY KEY, organization TEXT NOT NULL, "
            "organization_coordsys_id INTEGER NOT NULL, "
            "definition TEXT NOT NULL, description TEXT)")
        all_srids = sorted({srid, *(layer_srids or {}).values()})
        for sid in all_srids:
            con.execute(
                "INSERT INTO gpkg_spatial_ref_sys VALUES "
                "(?, ?, 'EPSG', ?, ?, NULL)",
                (f"EPSG:{sid}", sid, sid,
                 srs_definition if sid == srid and srs_definition
                 else "undefined"))
        con.execute(
            "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL PRIMARY "
            "KEY, data_type TEXT NOT NULL, identifier TEXT UNIQUE, "
            "description TEXT DEFAULT '', last_change DATETIME, "
            "min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, "
            "srs_id INTEGER)")
        con.execute(
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT "
            "NULL, column_name TEXT NOT NULL, geometry_type_name TEXT "
            "NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, "
            "m TINYINT NOT NULL, PRIMARY KEY (table_name, column_name))")
        for layer, feats in layers.items():
            # attribute schema: union of property keys, types widened
            # on conflict (INTEGER+REAL -> REAL, else TEXT)
            props_of = [_norm_props(f[2]) if len(f) > 2 else {}
                        for f in feats]
            cols: dict[str, str] = {}
            for pr in props_of:
                for k, v in pr.items():
                    if v is None or k in ("fid", "geom"):
                        continue
                    t = _sqlite_type(v)
                    prev = cols.get(k)
                    if prev is None or prev == t:
                        cols[k] = t
                    elif {prev, t} == {"INTEGER", "REAL"}:
                        cols[k] = "REAL"
                    else:
                        cols[k] = "TEXT"
            col_names = sorted(cols)
            attr_ddl = "".join(
                f", {_q(c)} {cols[c]}" for c in col_names)
            con.execute(
                f"CREATE TABLE {_q(layer)} (fid INTEGER PRIMARY KEY, "
                f"geom BLOB{attr_ddl})")
            lyr_srid = (layer_srids or {}).get(layer, srid)
            con.execute(
                "INSERT INTO gpkg_contents (table_name, data_type, "
                "identifier, srs_id) VALUES (?, 'features', ?, ?)",
                (layer, layer, lyr_srid))
            con.execute(
                "INSERT INTO gpkg_geometry_columns VALUES "
                "(?, 'geom', 'GEOMETRY', ?, 0, 0)", (layer, lyr_srid))
            marks = ", ".join(["?", "?"] + ["?"] * len(col_names))
            for f, pr in zip(feats, props_of):
                fid, wkb = f[0], f[1]
                blob = None
                if wkb is not None:
                    blob = (b"GP\x00\x01"          # version 0, LE, no env
                            + struct.pack("<i", lyr_srid) + wkb)
                vals = [pr.get(c) for c in col_names]
                vals = [str(v) if cols.get(c) == "TEXT"
                        and v is not None else v
                        for c, v in zip(col_names, vals)]
                con.execute(
                    f"INSERT INTO {_q(layer)} VALUES ({marks})",
                    (fid, blob, *vals))
        con.commit()
    finally:
        con.close()


def write_gpkg_tables(features: DataFrame, dst_dir: str) -> DataFrame:
    """Distributed GeoPackage sink — the write twin of
    ``features_from_gpkg`` (round-trip: write -> read returns
    fid/geometry/properties).  One ``.gpkg`` per dataset holding ALL
    of the dataset's layers (GeoPackage is the multi-layer container
    format; one artifact per dataset matches how the reference's
    ogr2ogr path treats a .gpkg upload as one unit, ref
    ingest/processing.py:138-159).

    Plan: ONE shuffle keyed on dataset, then each group writes its
    file independently through the spec-conformant ``write_gpkg``
    core (application_id/user_version pragmas, gpkg_spatial_ref_sys /
    gpkg_contents / gpkg_geometry_columns, GP-wrapped WKB, typed
    attribute columns) — no driver collect.  Input: FEATURE_SCHEMA
    rows.  Returns a manifest (dataset, path, n_layers, n_features,
    file_bytes).

    Per-dataset output means per-dataset parallelism — the right
    grain for the service's artifact model (each message is one
    dataset); a single monster dataset bottlenecks its own file the
    same way any single-file format would, and should use the
    .fgb/GeoParquet sinks instead.
    """
    from geohub_data_pipeline_spark.session import ship_package
    ship_package(features.sparkSession)
    has_props = "properties" in features.columns

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        dataset = str(pdf["dataset"].iloc[0])
        from urllib.parse import quote
        os.makedirs(dst_dir, exist_ok=True)
        # percent-encode so a dataset name carrying '/' or '..'
        # can't escape dst_dir (the artifact_stem convention)
        path = os.path.join(dst_dir, quote(dataset, safe="") + ".gpkg")
        if os.path.exists(path):
            os.unlink(path)                # write_gpkg creates it
        layers: dict[str, list[tuple]] = {}
        layer_srids: dict[str, set] = {}
        pdf = pdf.sort_values(["layer", "fid"])
        for row in pdf.itertuples(index=False):
            if row.geometry is None:
                continue
            fid = None if pd.isna(row.fid) else int(row.fid)
            props = (row.properties
                     if has_props and isinstance(row.properties, str)
                     else None)
            lyr = str(row.layer)
            layers.setdefault(lyr, []).append(
                (fid, bytes(row.geometry), props))
            if not pd.isna(row.srid):
                layer_srids.setdefault(lyr, set()).add(int(row.srid))
        # per-LAYER srid: mixed srids within one layer are malformed
        # input — refuse loudly, never silently re-tag geometry
        for lyr, sids in layer_srids.items():
            if len(sids) > 1:
                raise ValueError(
                    f"layer {lyr!r} of dataset {dataset!r} mixes "
                    f"srids {sorted(sids)}: normalize before writing")
        per_layer = {lyr: next(iter(sids))
                     for lyr, sids in layer_srids.items()}
        srid = min(per_layer.values(), default=4326)
        wkts = [w for w in pdf.get("crs_wkt", pd.Series(dtype=object))
                .dropna().unique() if w] if "crs_wkt" in pdf else []
        write_gpkg(path, layers, srid=srid,
                   srs_definition=(wkts[0] if wkts else None),
                   layer_srids=per_layer)
        n = sum(len(v) for v in layers.values())
        return pd.DataFrame([{
            "dataset": dataset, "path": path,
            "n_layers": len(layers), "n_features": n,
            "file_bytes": os.path.getsize(path)}])

    return features.groupBy("dataset").applyInPandas(
        write_group, "dataset string, path string, n_layers long, "
                     "n_features long, file_bytes long")
