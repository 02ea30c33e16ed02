"""Pipeline dataflow operators (SURVEY.md §2.1-§2.3).

The reference's ETL operators re-expressed relationally.  The harness
tables carry no blob URLs, so each query first *derives* a
deterministic ingest workload from ``documents`` (same construction in
the oracle): user/folder/extension from doc_id arithmetic — then
applies the real operator columns from functions/paths.py.

Covered here: S2 message parse, T1-T3 path algebra, S10 VSI wrapping,
T4 raw filter, T5/T12/T13 dispatch routing, T15 progress
partitioning, T16 count audit, T18/T21 user hashing/distinct, T20
backfill anti-join, plus the tiling/raster analogs (T8 tile keys, T8
-zg zoom heuristic, T11 overview downsample) and multimodal metadata
plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geohub_data_pipeline_spark.plans.registry import query
from geohub_data_pipeline_spark.localdata import local_df
from geohub_data_pipeline_spark.plans._util import davg, davg_sql, dsum, dsum_sql, load_tables
from geohub_data_pipeline_spark.functions import paths as P
from geohub_data_pipeline_spark.functions import tiles as TL

# ---------------------------------------------------------------------------
# Deterministic ingest workload derived from documents (shared Spark/SQL)
# ---------------------------------------------------------------------------

_EXTS = (".gpkg", ".zip", ".tif", ".pmtiles", ".geojson")

_URL_SQL = f"""uploads AS (
  SELECT doc_id,
         'user' || CAST(doc_id % 10 AS VARCHAR) AS u,
         CASE WHEN doc_id % 7 = 0 THEN '/staging/' ELSE '/raw/' END AS folder,
         CASE doc_id % 5
           {' '.join(f"WHEN {i} THEN '{e}'" for i, e in enumerate(_EXTS))}
         END AS ext
  FROM documents
),
msgs AS (
  SELECT doc_id,
         'https://acct.blob.core.windows.net/userdata/' || u || folder
           || 'doc_' || CAST(doc_id AS VARCHAR) || ext AS blob_url,
         u, ext,
         md5('tok' || CAST(doc_id AS VARCHAR)) AS token,
         doc_id % 2 = 0 AS join_vector_tiles
  FROM uploads
)"""


def _uploads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the ``msgs`` CTE above."""
    t = load_tables(spark, sf_dir)
    d = F.col("doc_id")
    u = F.concat(F.lit("user"), (d % 10).cast("string"))
    folder = F.when(d % 7 == 0, "/staging/").otherwise("/raw/")
    ext = F.col("ext")
    df = t.documents.select(
        "doc_id", u.alias("u"), folder.alias("folder"),
        F.element_at(
            F.array(*[F.lit(e) for e in _EXTS]), (d % 5 + 1).cast("int")
        ).alias("ext"),
    )
    return df.select(
        "doc_id",
        F.concat(
            F.lit("https://acct.blob.core.windows.net/userdata/"),
            F.col("u"), F.col("folder"),
            F.lit("doc_"), F.col("doc_id").cast("string"), ext,
        ).alias("blob_url"),
        "u", "ext",
        F.md5(F.concat(F.lit("tok"), F.col("doc_id").cast("string")))
        .alias("token"),
        (d % 2 == 0).alias("join_vector_tiles"),
    )


# ---------------------------------------------------------------------------
# S2 — message parse / project
# ---------------------------------------------------------------------------

_MSG_PARSE_SQL = f"""
WITH {_URL_SQL},
raw_msgs AS (
  SELECT doc_id,
         blob_url || ';' || token || ';join_vector_tiles='
           || CASE WHEN join_vector_tiles THEN 'true' ELSE 'false' END AS msg
  FROM msgs
)
SELECT doc_id,
       string_split(msg, ';')[1] AS blob_url,
       string_split(msg, ';')[2] AS token,
       string_split(msg, ';')[3] = 'join_vector_tiles=true' AS join_vector_tiles
FROM raw_msgs
ORDER BY doc_id
"""


@query("msg_parse_project", "pipeline",
       "§2.1 S2 message parse (ref ingest/ingest.py:62-66)", _MSG_PARSE_SQL)
def msg_parse_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the semicolon work-item message into typed columns —
    the streaming source projection of the service loop."""
    msgs = _uploads(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            ";", F.col("blob_url"), F.col("token"),
            F.concat(F.lit("join_vector_tiles="),
                     F.when(F.col("join_vector_tiles"), "true")
                     .otherwise("false")),
        ).alias("msg"),
    )
    parts = F.split(F.col("msg"), ";")
    return msgs.select(
        "doc_id",
        parts.getItem(0).alias("blob_url"),
        parts.getItem(1).alias("token"),
        (parts.getItem(2) == "join_vector_tiles=true")
        .alias("join_vector_tiles"),
    )


# ---------------------------------------------------------------------------
# T1-T3 + S10 — path algebra
# ---------------------------------------------------------------------------

_PATH_SQL = f"""
WITH {_URL_SQL}
SELECT doc_id,
       blob_url,
       regexp_replace(blob_url, '^[a-z][a-z0-9+.-]*://[^/]+/', '') AS blob_path,
       regexp_replace(
         regexp_replace(blob_url, '^[a-z][a-z0-9+.-]*://[^/]+/', ''),
         '/raw/', '/datasets/') AS dst_blob_path,
       CASE WHEN ext = '.zip'
            THEN '/vsizip/' || regexp_replace(blob_url, '^[a-z][a-z0-9+.-]*://[^/]+/', '')
            ELSE regexp_replace(blob_url, '^[a-z][a-z0-9+.-]*://[^/]+/', '')
       END AS vsi_path,
       'out/cog/doc_' || CAST(doc_id AS VARCHAR) || '_band'
         || CAST(doc_id % 3 + 1 AS VARCHAR) || '.tif' AS cog_path
FROM msgs
ORDER BY doc_id
"""


@query("path_rewrite", "pipeline",
       "§2.2 T1-T3 path algebra + §2.1 S10 VSI wrap "
       "(ref ingest/utils.py:15-77, ingest/config.py:32-38)", _PATH_SQL)
def path_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL -> blob path -> raw->datasets rewrite -> VSI/COG output
    paths — the reference's entire path algebra as codegen strings."""
    up = _uploads(spark, sf_dir)
    blob_path = P.chop_blob_url(F.col("blob_url"))
    return up.select(
        "doc_id",
        "blob_url",
        blob_path.alias("blob_path"),
        P.dst_blob_path(blob_path).alias("dst_blob_path"),
        P.vsi_path(blob_path).alias("vsi_path"),
        P.local_cog_path(blob_path, "out/cog",
                         (F.col("doc_id") % 3 + 1)).alias("cog_path"),
    )


# ---------------------------------------------------------------------------
# T4 — raw-folder filter
# ---------------------------------------------------------------------------

_RAW_FILTER_SQL = f"""
WITH {_URL_SQL}
SELECT u AS user, count(*) AS n_raw_uploads
FROM msgs
WHERE blob_url LIKE '%/raw/%'
GROUP BY u
ORDER BY u
"""


@query("raw_folder_filter", "pipeline",
       "§2.2 T4 raw filter (ref ingest/ingest.py:76,190-195)",
       _RAW_FILTER_SQL)
def raw_folder_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Only /raw/ uploads are processed; everything else completes
    untouched — the one true row filter of the service path."""
    up = _uploads(spark, sf_dir)
    return (
        up.filter(P.is_raw(F.col("blob_url")))
        .groupBy(F.col("u").alias("user"))
        .agg(F.count(F.lit(1)).alias("n_raw_uploads"))
    )


# ---------------------------------------------------------------------------
# T5/T12/T13 — dispatch routing
# ---------------------------------------------------------------------------

_DISPATCH_SQL = f"""
WITH {_URL_SQL}
SELECT CASE
         WHEN ext = '.pmtiles' THEN 'passthrough'
         WHEN ext = '.tif' THEN 'raster'
         WHEN ext = '.zip' THEN 'vector_archive'
         ELSE 'vector'
       END AS route,
       count(*) AS n_files,
       count(DISTINCT u) AS n_users
FROM msgs
WHERE blob_url LIKE '%/raw/%'
GROUP BY 1
ORDER BY route
"""


@query("dispatch_route", "pipeline",
       "§2.2 T5 passthrough + T12/T13 dispatch tree "
       "(ref ingest/ingest.py:246-247, ingest/processing.py:555-826)",
       _DISPATCH_SQL)
def dispatch_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dispatch tree as a routing column: pmtiles passthrough /
    raster / archived vector / vector."""
    up = _uploads(spark, sf_dir).filter(P.is_raw(F.col("blob_url")))
    route = (
        F.when(F.col("ext") == ".pmtiles", "passthrough")
        .when(F.col("ext") == ".tif", "raster")
        .when(F.col("ext") == ".zip", "vector_archive")
        .otherwise("vector")
    )
    return (
        up.groupBy(route.alias("route"))
        .agg(F.count(F.lit(1)).alias("n_files"),
             F.countDistinct("u").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# T18/T21 — user distinct + md5 id
# ---------------------------------------------------------------------------

_USERS_SQL = f"""
WITH {_URL_SQL}
SELECT DISTINCT u AS user, md5(u) AS user_hash
FROM msgs
WHERE u <> 'user0'
ORDER BY user
"""


@query("user_hash_distinct", "pipeline",
       "§2.2 T18 md5 user-id + T21 distinct users "
       "(ref ingest/fgb_upload/main.py:36-41,224-227)", _USERS_SQL)
def user_hash_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users (minus the excluded one) with their md5 ids."""
    up = _uploads(spark, sf_dir)
    return (
        up.filter(F.col("u") != "user0")
        .select(F.col("u").alias("user"),
                P.user_id_hash(F.col("u")).alias("user_hash"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# T20 — backfill anti-join
# ---------------------------------------------------------------------------

_BACKFILL_SQL = f"""
WITH {_URL_SQL},
raw_uploads AS (
  SELECT doc_id, blob_url,
         regexp_replace(
           regexp_replace(blob_url, '^[a-z][a-z0-9+.-]*://[^/]+/', ''),
           '/raw/', '/datasets/') AS dst
  FROM msgs WHERE blob_url LIKE '%/raw/%'
),
existing AS (
  SELECT regexp_replace(
           regexp_replace(blob_url, '^[a-z][a-z0-9+.-]*://[^/]+/', ''),
           '/raw/', '/datasets/') AS dst
  FROM msgs WHERE blob_url LIKE '%/raw/%' AND doc_id % 3 = 0
)
SELECT r.doc_id, r.dst
FROM raw_uploads r
WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.dst = r.dst)
ORDER BY r.doc_id
"""


@query("backfill_anti_join", "pipeline",
       "§2.2 T20 backfill skip logic "
       "(ref ingest/fgb_upload/main.py:117-138)", _BACKFILL_SQL)
def backfill_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regenerate-missing-outputs scan: raw uploads anti-joined against
    already-produced datasets (simulated: every 3rd exists).

    Scale: Catalyst picks broadcast-anti when the existing-outputs
    listing is small; with both sides huge it degrades gracefully to
    shuffled hash anti-join on the dst key.
    """
    up = _uploads(spark, sf_dir).filter(P.is_raw(F.col("blob_url")))
    dst = P.dst_blob_path(P.chop_blob_url(F.col("blob_url")))
    raw_uploads = up.select("doc_id", dst.alias("dst"))
    existing = up.filter(F.col("doc_id") % 3 == 0).select(dst.alias("dst"))
    return (
        raw_uploads.join(existing, "dst", "left_anti")
        .select("doc_id", "dst")
    )


# ---------------------------------------------------------------------------
# T15 — progress partitioning
# ---------------------------------------------------------------------------

_PROGRESS_SQL = """
WITH chunks AS (
  SELECT source AS dataset, doc_id,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
              AS INTEGER) AS chunk_index,
         count(*) OVER (PARTITION BY source) AS nchunks
  FROM documents
)
SELECT dataset, doc_id, chunk_index,
       CAST(30 + (70 * chunk_index) // nchunks AS INTEGER) AS progress
FROM chunks
ORDER BY dataset, chunk_index
"""


@query("progress_partition", "pipeline",
       "§2.2 T15 progress model (ref ingest/utils.py:79-123: 30% "
       "download offset + per-chunk percentage)", _PROGRESS_SQL)
def progress_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's chunk-progress model as a window: progress =
    30 + 70 * chunk_index / nchunks (integer arithmetic)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("doc_id")
    wall = Window.partitionBy("source")
    return (
        t.documents.select(
            F.col("source").alias("dataset"),
            "doc_id",
            F.row_number().over(w).cast("int").alias("chunk_index"),
            F.count(F.lit(1)).over(wall).alias("nchunks"),
        )
        .select(
            "dataset", "doc_id", "chunk_index",
            (F.lit(30) + F.expr("(70 * chunk_index) div nchunks"))
            .cast("int").alias("progress"),
        )
    )


# ---------------------------------------------------------------------------
# T16 — feature-count audit
# ---------------------------------------------------------------------------

_AUDIT_SQL = """
SELECT source AS dataset,
       count(*) AS original_count,
       count(CASE WHEN doc_id % 11 <> 0 THEN 1 END) AS converted_count,
       CASE WHEN count(CASE WHEN doc_id % 11 <> 0 THEN 1 END) = 0 THEN 'error'
            WHEN count(CASE WHEN doc_id % 11 <> 0 THEN 1 END) < count(*)
              THEN 'warning'
            ELSE 'ok' END AS audit_status
FROM documents
GROUP BY source
ORDER BY dataset
"""


@query("feature_count_audit", "pipeline",
       "§2.2 T16 feature-count audit (ref ingest/processing.py:160-181: "
       "converted==0 or != original => error blob)", _AUDIT_SQL)
def feature_count_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Original-vs-converted reconciliation per dataset (every 11th row
    simulates a dropped invalid feature — '-skipfailures')."""
    t = load_tables(spark, sf_dir)
    converted = F.count(F.when(F.col("doc_id") % 11 != 0, F.lit(1)))
    original = F.count(F.lit(1))
    return (
        t.documents.groupBy(F.col("source").alias("dataset"))
        .agg(
            original.alias("original_count"),
            converted.alias("converted_count"),
            F.when(converted == 0, "error")
            .when(converted < original, "warning")
            .otherwise("ok").alias("audit_status"),
        )
    )


# ---------------------------------------------------------------------------
# T8 — tile key assignment + tile aggregation
# ---------------------------------------------------------------------------

_TILE_MATH_SQL = """
  SELECT event_id, value,
         CAST(2 + event_id % 5 AS INTEGER) AS z,
         (CAST(event_id % 360 AS DOUBLE) - 180.0) + 0.25 AS lon,
         (CAST((user_id * 11) % 160 AS DOUBLE) - 80.0) + 0.5 AS lat
  FROM events
"""

_TILE_XY_SQL = """
  SELECT event_id, value, z,
         CAST(least(greatest(floor((1 << z) * (lon + 180.0) / 360.0), 0),
                    (1 << z) - 1) AS BIGINT) AS x,
         CAST(least(greatest(floor((1 << z) * (1.0 - ln(tan(radians(lat))
                    + 1.0 / cos(radians(lat))) / pi()) / 2.0), 0),
                    (1 << z) - 1) AS BIGINT) AS y
  FROM pts
"""

_TILE_ASSIGN_SQL = f"""
WITH pts AS ({_TILE_MATH_SQL})
{_TILE_XY_SQL.replace("SELECT event_id, value, z,", "SELECT event_id, z,", 1)}
ORDER BY event_id
"""


@query("tile_assignment", "pipeline",
       "§2.2 T8 tile-key assignment (tiling = groupBy(z,x,y); "
       "ref ingest/processing.py:228-311 tippecanoe path)",
       _TILE_ASSIGN_SQL)
def tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebMercator z/x/y tile key per point (points derived
    deterministically from events) — the map-side half of tiling."""
    t = load_tables(spark, sf_dir)
    pts = t.events.select(
        "event_id",
        (F.lit(2) + F.col("event_id") % 5).cast("int").alias("z"),
        ((F.col("event_id") % 360).cast("double") - 180.0 + 0.25).alias("lon"),
        (((F.col("user_id") * 11) % 160).cast("double") - 80.0 + 0.5)
        .alias("lat"),
    )
    return pts.select(
        "event_id",
        *TL.tile_cols(F.col("lon"), F.col("lat"), F.col("z")),
    )


_TILE_AGG_SQL = f"""
WITH pts AS ({_TILE_MATH_SQL}),
keyed AS ({_TILE_XY_SQL})
SELECT z, x, y, count(*) AS n_features, {dsum_sql('value')} AS total_value
FROM keyed
GROUP BY z, x, y
ORDER BY z, x, y
"""


@query("tile_aggregation", "pipeline",
       "§2.2 T8/T9 tile build = shuffle on (z,x,y) "
       "(ref ingest/processing.py:228-402)", _TILE_AGG_SQL)
def tile_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tiling shuffle: features grouped into (z,x,y) tiles.

    Scale: hash shuffle on the tile key with map-side partial agg;
    low-zoom skew (z0 = one tile) is handled by the partial+final agg
    pattern — heavy per-tile payload encoding would use the two-phase
    variant in operators/tiling.py.
    """
    t = load_tables(spark, sf_dir)
    pts = t.events.select(
        "event_id", "value",
        (F.lit(2) + F.col("event_id") % 5).cast("int").alias("z"),
        ((F.col("event_id") % 360).cast("double") - 180.0 + 0.25).alias("lon"),
        (((F.col("user_id") * 11) % 160).cast("double") - 80.0 + 0.5)
        .alias("lat"),
    )
    keyed = pts.select(
        "value", *TL.tile_cols(F.col("lon"), F.col("lat"), F.col("z")))
    return (
        keyed.groupBy("z", "x", "y")
        .agg(F.count(F.lit(1)).alias("n_features"),
             dsum(F.col("value")).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# T8 -zg — data-driven max-zoom heuristic
# ---------------------------------------------------------------------------

_ZOOM_LADDER = [(1, 0), (4, 1), (16, 2), (64, 3), (256, 4), (1024, 5),
                (4096, 6), (16384, 7), (65536, 8), (262144, 9)]

_ZOOM_CASE = "CASE " + " ".join(
    f"WHEN n_features <= {n} THEN {z}" for n, z in _ZOOM_LADDER
) + " ELSE 10 END"

_ZOOM_SQL = f"""
WITH d AS (
  SELECT source AS dataset, count(*) AS n_features FROM documents GROUP BY source
)
SELECT dataset, n_features, CAST({_ZOOM_CASE} AS INTEGER) AS maxzoom
FROM d
ORDER BY dataset
"""


@query("zoom_heuristic", "pipeline",
       "§2.2 T8 '-zg' data-driven max-zoom "
       "(ref ingest/processing.py:237-255 tippecanoe -zg flag)", _ZOOM_SQL)
def zoom_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choose maxzoom so tile capacity (4^z) covers feature density —
    the -zg analog as an exact integer CASE ladder."""
    t = load_tables(spark, sf_dir)
    zoom = F.lit(10)
    for n, z in reversed(_ZOOM_LADDER):
        zoom = F.when(F.col("n_features") <= n, z).otherwise(zoom)
    return (
        t.documents.groupBy(F.col("source").alias("dataset"))
        .agg(F.count(F.lit(1)).alias("n_features"))
        .select("dataset", "n_features", zoom.cast("int").alias("maxzoom"))
    )


# ---------------------------------------------------------------------------
# T8 --detect-shared-borders — polygon shared-edge census
# ---------------------------------------------------------------------------

_SHARED_BORDER_SQL = """
WITH cells AS (
  SELECT DISTINCT CAST(event_id % 360 - 180 AS BIGINT) AS cx,
                  CAST((user_id * 11) % 160 - 80 AS BIGINT) AS cy
  FROM events
),
feats AS (
  SELECT (cx + 180) * 400 + (cy + 80) AS feature_id, cx, cy FROM cells
),
segs AS (
  SELECT feature_id, cx AS ax, cy AS ay, cx + 1 AS bx, cy AS by_ FROM feats
  UNION ALL SELECT feature_id, cx + 1, cy, cx + 1, cy + 1 FROM feats
  UNION ALL SELECT feature_id, cx, cy + 1, cx + 1, cy + 1 FROM feats
  UNION ALL SELECT feature_id, cx, cy, cx, cy + 1 FROM feats
),
census AS (
  SELECT ax, ay, bx, by_, count(*) AS owners
  FROM segs GROUP BY ax, ay, bx, by_
)
SELECT s.feature_id,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(CASE WHEN c.owners >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(sum(CASE WHEN c.owners >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS shared_fraction
FROM segs s JOIN census c USING (ax, ay, bx, by_)
GROUP BY s.feature_id
ORDER BY s.feature_id
"""


@query("tile_shared_borders", "pipeline",
       "§2.2 T8 --detect-shared-borders: distributed polygon "
       "shared-edge census (ref tippecanoe flag in the tile build)",
       _SHARED_BORDER_SQL)
def tile_shared_borders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection half of tippecanoe's ``--detect-shared-borders``:
    every polygon ring explodes into canonical undirected segments,
    one census shuffle counts owners per segment, and each feature
    reports how much of its boundary is shared (operators/tiling.py
    ``shared_border_stats``).  Workload: the occupied 1-degree grid
    cells derived from events — neighbors share full edges.

    The joint simplification that uses this census needs shared-arc
    topology (GEOS); the census is the distributed-scale part.
    """
    from geohub_data_pipeline_spark.operators.tiling import (
        shared_border_stats)

    t = load_tables(spark, sf_dir)
    cells = t.events.select(
        (F.col("event_id") % 360 - 180).cast("long").alias("cx"),
        ((F.col("user_id") * 11) % 160 - 80).cast("long").alias("cy"),
    ).distinct()

    def pt(x: Column, y: Column) -> Column:
        return F.struct(x.alias("x"), y.alias("y"))

    cx, cy = F.col("cx"), F.col("cy")
    ring = F.array(
        pt(cx, cy), pt(cx + 1, cy), pt(cx + 1, cy + 1),
        pt(cx, cy + 1), pt(cx, cy))
    feats = cells.select(
        ((cx + 180) * 400 + (cy + 80)).alias("feature_id"),
        ring.alias("ring"))
    return shared_border_stats(feats)


_JOINT_SIMPLIFY_SQL = """
WITH cells AS (
  SELECT DISTINCT CAST(event_id % 360 - 180 AS BIGINT) AS cx,
                  CAST((user_id * 11) % 160 - 80 AS BIGINT) AS cy
  FROM events
),
pairs AS (
  SELECT 1 AS one FROM cells a JOIN cells b
  ON (b.cx = a.cx + 1 AND b.cy = a.cy)
  OR (b.cx = a.cx AND b.cy = a.cy + 1)
)
SELECT CAST(count(*) AS BIGINT) AS n_shared_chains,
       CAST(count(*) AS BIGINT) AS n_crack_free,
       TRUE AS all_crack_free
FROM pairs
"""


@query("tile_joint_simplify", "pipeline",
       "§2.2 T8 --detect-shared-borders JOINT simplification: shared "
       "chains simplified once, identically for both owners "
       "(ref tippecanoe flag in the tile build)", _JOINT_SIMPLIFY_SQL)
def tile_joint_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simplification half of ``--detect-shared-borders``
    (operators/simplify.py ``joint_chain_hashes``): each polygon ring
    splits into chains at ownership transitions, every chain
    simplifies as a canonical pure function of its vertex sequence,
    and a direction-invariant fingerprint of the simplified chain is
    emitted per owner.

    Workload: the occupied 1-degree grid from events, each cell a
    ring with jittered edge midpoints — the jitter derives from the
    canonical edge endpoints, so neighbors carry identical border
    vertices (the well-noded-input contract).  The ORACLE counts
    adjacent cell pairs independently in SQL: joint simplification is
    correct iff every adjacent pair yields exactly one shared chain
    whose two owner fingerprints agree (``all_crack_free``).

    Scale: one census shuffle on the segment key + the key join-back;
    simplification itself is map-side.
    """
    from geohub_data_pipeline_spark.operators.simplify import (
        joint_chain_hashes, zoom_tolerance)

    t = load_tables(spark, sf_dir)
    cells = t.events.select(
        (F.col("event_id") % 360 - 180).cast("long").alias("cx"),
        ((F.col("user_id") * 11) % 160 - 80).cast("long").alias("cy"),
    ).distinct()

    def pt(x: Column, y: Column) -> Column:
        return F.struct(x.cast("double").alias("x"),
                        y.cast("double").alias("y"))

    def mid(ax: Column, ay: Column, bx: Column, by: Column) -> Column:
        # deterministic jitter from the CANONICAL edge endpoints:
        # both owners of an edge compute the identical midpoint
        j = (F.xxhash64(F.least(ax, bx), F.greatest(ax, bx),
                        F.least(ay, by), F.greatest(ay, by))
             % 100).cast("double") / F.lit(1000.0)
        return F.struct(
            ((ax + bx).cast("double") / 2 + j).alias("x"),
            ((ay + by).cast("double") / 2 + j).alias("y"))

    cx, cy = F.col("cx"), F.col("cy")
    ring = F.array(
        pt(cx, cy), mid(cx, cy, cx + 1, cy),
        pt(cx + 1, cy), mid(cx + 1, cy, cx + 1, cy + 1),
        pt(cx + 1, cy + 1), mid(cx + 1, cy + 1, cx, cy + 1),
        pt(cx, cy + 1), mid(cx, cy + 1, cx, cy),
        pt(cx, cy))
    rings = cells.select(
        ((cx + 180) * 400 + (cy + 80)).alias("rid"), ring.alias("ring"))

    chains = joint_chain_hashes(rings, zoom_tolerance(4))
    per_key = chains.groupBy("chain_key").agg(
        F.count(F.lit(1)).alias("__owners"),
        F.countDistinct("chain_hash").alias("__hashes"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_shared_chains"),
        F.sum(((F.col("__owners") == 2) & (F.col("__hashes") == 1))
              .cast("long")).alias("n_crack_free"),
        F.every((F.col("__owners") == 2) & (F.col("__hashes") == 1))
        .alias("all_crack_free"),
    )


# ---------------------------------------------------------------------------
# T11 — overview (pyramid) downsample
# ---------------------------------------------------------------------------

_OVERVIEW_SQL = f"""
WITH blocks AS (
  SELECT CAST(p_partkey % 24 AS INTEGER) AS x,
         CAST((p_partkey // 24) % 24 AS INTEGER) AS y,
         p_retailprice AS val
  FROM part
)
SELECT CAST(x // 2 AS INTEGER) AS x1, CAST(y // 2 AS INTEGER) AS y1,
       count(*) AS n_cells,
       {davg_sql('val')} AS mean_val,
       CAST(max(val) AS DOUBLE) AS max_val
FROM blocks
GROUP BY x // 2, y // 2
ORDER BY x1, y1
"""


@query("overview_downsample", "pipeline",
       "§2.2 T11 COG overview cascade: level k+1 = groupBy(x//2, y//2) "
       "(ref ingest/processing.py:496-509 overview resampling)",
       _OVERVIEW_SQL)
def overview_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One overview-pyramid round: 2x2 block aggregation (the rollup
    that materializes raster overviews; cascade = log2(maxdim) rounds,
    each 4x smaller — see operators/raster.py)."""
    t = load_tables(spark, sf_dir)
    blocks = t.part.select(
        (F.col("p_partkey") % 24).cast("int").alias("x"),
        (F.expr("p_partkey div 24") % 24).cast("int").alias("y"),
        F.col("p_retailprice").alias("val"),
    )
    return (
        blocks.groupBy(
            F.expr("x div 2").cast("int").alias("x1"),
            F.expr("y div 2").cast("int").alias("y1"),
        )
        .agg(F.count(F.lit(1)).alias("n_cells"),
             davg(F.col("val")).alias("mean_val"),
             F.max("val").cast("double").alias("max_val"))
    )


# ---------------------------------------------------------------------------
# Multimodal metadata plumbing
# ---------------------------------------------------------------------------

_MULTIMODAL_SQL = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS media_type,
       TRUE AS ok,
       CASE WHEN doc_id % 3 = 0 THEN CAST(4 + doc_id % 8 AS INTEGER)
            WHEN doc_id % 3 = 2 THEN 320 END AS width,
       CASE WHEN doc_id % 3 = 0 THEN CAST(2 + doc_id % 4 AS INTEGER)
            WHEN doc_id % 3 = 2 THEN 240 END AS height,
       CASE WHEN doc_id % 3 <> 2
            THEN CAST(1 AS INTEGER) END AS n_channels,
       CASE WHEN doc_id % 3 <> 0
            THEN CAST(n_chars // 10 AS BIGINT) END AS n_samples,
       CASE WHEN doc_id % 3 = 1 THEN CAST(16000 AS INTEGER)
            WHEN doc_id % 3 = 2 THEN CAST(10 AS INTEGER)
            END AS sample_rate
FROM documents
ORDER BY doc_id
"""


@query("multimodal_metadata", "pipeline",
       "north star: multimodal columns — REAL media bytes generated "
       "per row (stdlib PNG/WAV encoders) and decoded back by the "
       "real stdlib codecs in operators/multimodal.py",
       _MULTIMODAL_SQL)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal decode on GENUINE media bytes: every
    document becomes a payload — images are real PNGs (zlib+IHDR),
    audio real PCM16 WAVs, video real ISO-BMFF (ftyp/moov/mvhd/tkhd)
    — and ``decode_media`` recovers the typed metadata from the bytes
    alone.  The oracle recomputes the expected dimensions from the
    same deterministic doc_id/n_chars formulas, so a broken encoder
    OR decoder fails the compare."""
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import multimodal as MM
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id", "n_chars")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
                did, nch = int(did), int(nch)
                if did % 3 == 0:
                    mt, payload = "image", MM.encode_png_gray(
                        4 + did % 8, 2 + did % 4)
                elif did % 3 == 1:
                    mt, payload = "audio", MM.encode_wav_pcm16(
                        nch // 10, 16000)
                else:
                    mt, payload = "video", MM.encode_mp4_probe(
                        320, 240, nch // 10, timescale=10)
                rows.append((did, mt, payload, "docs"))
            yield pd.DataFrame(rows, columns=[
                "media_id", "media_type", "payload", "source"])

    media = base.mapInPandas(gen, MM.MEDIA_SCHEMA)
    return MM.decode_media(media).select(
        F.col("media_id").alias("doc_id"),
        "media_type", "ok", "width", "height",
        "n_channels", "n_samples", "sample_rate",
    )


_GEO_TILE_SQL = """
WITH pts AS (
  SELECT source AS dataset, lang AS layer, doc_id AS fid,
         (CAST(doc_id % 360 AS DOUBLE) - 180.0) + 0.125 AS lon,
         (CAST((doc_id * 7) % 160 AS DOUBLE) - 80.0) + 0.25 AS lat
  FROM documents
),
zooms AS (
  SELECT dataset,
         CAST(CASE WHEN n <= 1 THEN 0 WHEN n <= 4 THEN 1 WHEN n <= 16 THEN 2
              WHEN n <= 64 THEN 3 WHEN n <= 256 THEN 4 WHEN n <= 1024 THEN 5
              WHEN n <= 4096 THEN 6 WHEN n <= 16384 THEN 7
              WHEN n <= 65536 THEN 8 WHEN n <= 262144 THEN 9
              WHEN n <= 1048576 THEN 10 WHEN n <= 4194304 THEN 11
              WHEN n <= 16777216 THEN 12 WHEN n <= 67108864 THEN 13
              ELSE 14 END AS INTEGER) AS maxzoom
  FROM (SELECT dataset, count(*) AS n FROM pts GROUP BY dataset)
),
exploded AS (
  SELECT p.layer, p.lon, p.lat,
         unnest(generate_series(0, zz.maxzoom)) AS z
  FROM pts p JOIN zooms zz USING (dataset)
),
keyed AS (
  SELECT layer, z,
         CAST(least(greatest(floor((1 << z) * (lon + 180.0) / 360.0), 0),
                    (1 << z) - 1) AS BIGINT) AS x,
         CAST(least(greatest(floor((1 << z) * (1.0 - ln(tan(radians(lat))
                    + 1.0 / cos(radians(lat))) / pi()) / 2.0), 0),
                    (1 << z) - 1) AS BIGINT) AS y
  FROM exploded
),
tiles AS (
  SELECT layer, z, x, y, count(*) AS n_features
  FROM keyed GROUP BY layer, z, x, y
)
SELECT layer, CAST(z AS INTEGER) AS z,
       count(*) AS n_tiles,
       CAST(sum(n_features) AS BIGINT) AS n_features,
       CAST(min(n_features) AS BIGINT) AS min_features_per_tile
FROM tiles GROUP BY layer, z ORDER BY layer, z
"""


@query("geo_tile_pipeline", "pipeline",
       "§2.2 T7+T8 end-to-end: WKB normalize -> tile pyramid -> audit "
       "(tile-key math mirrored as slippy SQL; the WKB geometry kernels "
       "keep their golden checks in tests/test_tiling.py, "
       "test_fixtures_golden.py)", _GEO_TILE_SQL)
def geo_tile_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full vector path on real WKB: deterministic point features
    derived from `documents` -> normalize (promote-to-multi, bbox) ->
    -zg tile pyramid -> tilestats audit rows.

    Oracle: the tile keys derive from the same deterministic lon/lat,
    so DuckDB recomputes the (z, x, y) pyramid with the identical
    slippy-map formula (floor/ln/tan) and the -zg CASE ladder, then
    mirrors the per-(layer, z) audit — the non-SQL part (WKB encode /
    normalize) only carries geometry through and cannot change counts
    for valid point inputs."""
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import tiling as TLG
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    pts = t.documents.select(
        F.col("source").alias("dataset"),
        F.col("lang").alias("layer"),
        F.col("doc_id").alias("fid"),
        ((F.col("doc_id") % 360).cast("double") - 180.0 + 0.125).alias("lon"),
        (((F.col("doc_id") * 7) % 160).cast("double") - 80.0 + 0.25)
        .alias("lat"),
    )

    def to_wkb(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame({
                "dataset": pdf["dataset"],
                "layer": pdf["layer"],
                "fid": pdf["fid"],
                "geometry": [G.wkb_point(lo, la)
                             for lo, la in zip(pdf["lon"], pdf["lat"])],
                "srid": 4326,
            })

    feats = pts.mapInPandas(
        to_wkb, "dataset string, layer string, fid long, geometry binary, "
                "srid int")
    # -zg counts from the PRE-normalize columns (r12): to_wkb and
    # normalize_features are 1:1 for these synthesized points (every
    # geometry is a valid WKB point with srid 4326, so the normalize
    # kernel drops nothing at any SF), which makes
    # pts.groupBy(dataset).count() provably equal to counting the
    # normalized output — without re-evaluating the two Python
    # kernels a second time per action for the count branch
    # (oracle-verified at sf0.001/0.01/0.1; the payload path is
    # unchanged).
    counts = pts.groupBy("dataset").agg(F.count(F.lit(1)).alias("__n"))
    tiles = TLG.build_tiles(G.normalize_features(feats), maxzoom=None,
                            dataset_counts=counts)
    return TLG.tile_audit(tiles)


# ---------------------------------------------------------------------------
# T7 CRS stack under the gate: forward+inverse (incl. OSGB Helmert)
# ---------------------------------------------------------------------------

_CRS_RT_SQL = """
SELECT doc_id,
       CAST(CASE doc_id % 4 WHEN 0 THEN 27700 WHEN 1 THEN 5070
            WHEN 2 THEN 2154 ELSE 3035 END AS INTEGER) AS srid,
       round(-1.0 + (doc_id % 80) * 0.1, 4) AS lon_rt,
       round(42.0 + ((doc_id * 3) % 80) * 0.1, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""


@query("crs_roundtrip", "pipeline",
       "§2.2 T7 reprojection: forward+inverse through the closed-form "
       "CRS table (TM/LCC/LAEA/Albers + OSGB Helmert datum path; "
       "absolute control points in tests/test_crs.py)", _CRS_RT_SQL)
def crs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project deterministic lon/lat through a rotating projected CRS
    (27700 incl. 7-param Helmert, 5070 Albers, 2154 LCC, 3035 LAEA)
    and invert back — the oracle is the input formula, so a broken
    forward, inverse, dispatch, or datum path all surface as value
    mismatches.  Absolute (one-sided) correctness is pinned by the
    published control points in tests/test_crs.py.

    Scale: stateless per-row math in an Arrow-batched kernel — a scan,
    no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        (-1.0 + (F.col("doc_id") % 80).cast("double") * 0.1).alias("lon"),
        (42.0 + ((F.col("doc_id") * 3) % 80).cast("double") * 0.1)
        .alias("lat"),
    )
    srids = [27700, 5070, 2154, 3035]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = {s: (C.from_lonlat(s), C.to_lonlat(s)) for s in srids}
        for pdf in it:
            rows = []
            for did, lon, lat in zip(pdf["doc_id"], pdf["lon"], pdf["lat"]):
                srid = srids[int(did) % 4]
                fwd, inv = pairs[srid]
                lon2, lat2 = inv(*fwd(float(lon), float(lat)))
                # + 0.0 canonicalizes -0.0 (a -1e-9 residual rounds to
                # negative zero, which hash-compares unequal to 0.0)
                rows.append((int(did), srid,
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "srid", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, srid int, lon_rt double, lat_rt double")


_CRS_EA_SQL = """
SELECT doc_id,
       CAST(CASE doc_id % 4 WHEN 0 THEN 6933 WHEN 1 THEN 3410
            WHEN 2 THEN 54034 ELSE 54009 END AS INTEGER) AS srid,
       round(-170.0 + (doc_id % 340), 4) AS lon_rt,
       round(-80.0 + ((doc_id * 7) % 160), 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""


@query("crs_roundtrip_equalarea", "pipeline",
       "§2.2 T7 reprojection round 5: the global equal-area family — "
       "EASE-Grid 2.0/1.0 cylindrical equal area (EPSG 9835) and "
       "Mollweide (ref reprojects any SRS via PROJ, "
       "ingest/processing.py:142-150)", _CRS_EA_SQL)
def crs_roundtrip_equalarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward+inverse through the round-5 equal-area CRS table
    entries — EPSG:6933 (EASE-Grid 2.0, ellipsoidal CEA via authalic
    latitude), EPSG:3410 (EASE-Grid 1.0 sphere), ESRI:54034 (World
    CEA), ESRI:54009 (World Mollweide, Newton auxiliary angle) — the
    oracle is the input formula, so a broken forward, inverse,
    authalic series, or Newton solve all surface as mismatches.
    Absolute correctness pinned in tests/test_crs.py (EASE-Grid
    documented extent, Snyder §31 worked example).

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    srids = [6933, 3410, 54034, 54009]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = {s: (C.from_lonlat(s), C.to_lonlat(s)) for s in srids}
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                srid = srids[did % 4]
                lon = -170.0 + (did % 340)
                lat = -80.0 + ((did * 7) % 160)
                fwd, inv = pairs[srid]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, srid,
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "srid", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, srid int, lon_rt double, lat_rt double")


# ---------------------------------------------------------------------------
# T7 -makevalid under the gate: repair classes as a hard oracle
# ---------------------------------------------------------------------------

_MAKEVALID_SQL = """
SELECT doc_id,
       CASE doc_id % 7 WHEN 0 THEN 'ok' WHEN 1 THEN 'repaired'
            WHEN 2 THEN 'repaired' WHEN 3 THEN 'ok'
            WHEN 4 THEN 'repaired' WHEN 5 THEN 'repaired'
            ELSE 'flagged' END AS status,
       CAST(CASE doc_id % 7 WHEN 0 THEN 1 WHEN 1 THEN 2
            WHEN 2 THEN 1 WHEN 3 THEN 2 WHEN 4 THEN 2
            WHEN 5 THEN 1 ELSE 2 END AS INTEGER) AS n_rings
FROM documents
ORDER BY doc_id
"""


@query("makevalid_audit", "pipeline",
       "§2.2 T7 -makevalid: deterministic invalidity classes -> "
       "repair outcome audit (ref ingest/processing.py:142-144; "
       "geometry goldens in tests/test_geometry.py)", _MAKEVALID_SQL)
def makevalid_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document becomes a polygon in a rotating invalidity
    class and ``make_valid_wkb``'s verdict per class is
    oracle-checked: 0 valid square passes through untouched (1
    ring); 1 bowtie splits into 2 simple rings; 2 crossing hole is
    consumed by noded subtraction (1 ring); 3 POINT-tangent hole is
    recognized as VALID OGC geometry and kept untouched (2 rings —
    r11: previously flagged); 4 self-tangent figure-eight is
    node-split at the pinch into 2 shells (r11); 5 nested shells are
    absorbed to 1 ring (GEOS structure mode); 6 LINE-tangent hole
    (collinear overlap) stays flagged with its original 2 rings —
    noding a shared segment is ambiguous.

    Scale: per-feature map-side kernel — a scan, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select(
        "doc_id",
        (-170.0 + (F.col("doc_id") % 340).cast("double")).alias("cx"),
        (-80.0 + ((F.col("doc_id") * 7) % 159).cast("double")).alias("cy"),
    )

    def audit(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did, cx, cy in zip(pdf["doc_id"], pdf["cx"], pdf["cy"]):
                did, x, y = int(did), float(cx), float(cy)
                sq = [(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1),
                      (x, y)]
                cls = did % 7
                if cls == 0:
                    buf = G.wkb_polygon([sq])
                elif cls == 1:
                    buf = G.wkb_polygon([[(x, y), (x + 1, y + 1),
                                          (x + 1, y), (x, y + 1), (x, y)]])
                elif cls == 2:
                    hole = [(x + 0.75, y + 0.25), (x + 1.25, y + 0.25),
                            (x + 1.25, y + 0.75), (x + 0.75, y + 0.75),
                            (x + 0.75, y + 0.25)]
                    buf = G.wkb_polygon([sq, hole[::-1]])
                elif cls == 3:
                    tang = [(x + 0.5, y), (x + 0.75, y + 0.25),
                            (x + 0.25, y + 0.25), (x + 0.5, y)]
                    buf = G.wkb_polygon([sq, tang[::-1]])
                elif cls == 4:
                    fe = [(x, y), (x + 1, y), (x + 0.5, y + 0.5),
                          (x + 1, y + 1), (x, y + 1),
                          (x + 0.5, y + 0.5), (x, y)]
                    buf = G.wkb_polygon([fe])
                elif cls == 5:
                    inner = [(x + 0.25, y + 0.25), (x + 0.75, y + 0.25),
                             (x + 0.75, y + 0.75), (x + 0.25, y + 0.75),
                             (x + 0.25, y + 0.25)]
                    buf = G.wkb_multipolygon([[sq], [inner]])
                else:
                    lt = [(x + 0.25, y), (x + 0.75, y),
                          (x + 0.5, y + 0.25), (x + 0.25, y)]
                    buf = G.wkb_polygon([sq, lt[::-1]])
                out, invalid = G.make_valid_wkb(buf)
                status = ("flagged" if invalid
                          else "repaired" if out != buf else "ok")
                n_rings = len(G.parse_wkb(out)["parts"])
                rows.append((did, status, n_rings))
            yield pd.DataFrame(rows, columns=["doc_id", "status",
                                              "n_rings"])

    return base.mapInPandas(
        audit, "doc_id long, status string, n_rings int")


# ---------------------------------------------------------------------------
# S5/S6 raster probe under the gate: real GeoTIFF bytes round-trip
# ---------------------------------------------------------------------------

_RASTER_PROBE_SQL = """
SELECT doc_id,
       TRUE AS ok,
       CAST(64 + (doc_id % 4) * 32 AS INTEGER) AS width,
       CAST(64 + ((doc_id * 3) % 3) * 32 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_bands,
       TRUE AS tiled,
       CAST(doc_id % 2 AS INTEGER) AS n_overviews,
       CAST(CASE doc_id % 3 WHEN 0 THEN 3857 WHEN 1 THEN 32633
            ELSE 3035 END AS INTEGER) AS epsg,
       'none' AS compression
FROM documents
ORDER BY doc_id
"""


@query("raster_probe", "pipeline",
       "§2.1 S5/S6 raster probe: real GeoTIFF container bytes written "
       "(operators/cogwriter.py) and probed back "
       "(operators/rasterprobe.py) — the gdalinfo analog "
       "(ref ingest/processing.py:443-520)", _RASTER_PROBE_SQL)
def raster_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a real tiled GeoTIFF per document (deterministic size /
    EPSG / overview count from doc_id) and probe the BYTES back with
    the independent header reader — a broken writer or probe both
    fail the oracle compare.

    Scale: generate + probe are one map-side Arrow kernel each; no
    shuffle, no driver round-trip.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.operators import cogwriter as W
    from geohub_data_pipeline_spark.operators import rasterprobe as RP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 64 + (did % 4) * 32
                h = 64 + ((did * 3) % 3) * 32
                epsg = [3857, 32633, 3035][did % 3]
                levels = [W._Level(width=w, height=h, tiles={
                    (0, 0): np.zeros((W.TILE, W.TILE),
                                     dtype=np.float64)})]
                if did % 2:
                    levels.append(W._Level(
                        width=max(1, w // 2), height=max(1, h // 2),
                        tiles={}))
                rows.append((did, W.geotiff_bytes(
                    levels, epsg=epsg, compress=False)))
            yield pd.DataFrame(rows, columns=["path", "content"])

    blobs = base.mapInPandas(gen, "path long, content binary")
    return RP.probe_rasters(blobs).select(
        F.col("path").cast("long").alias("doc_id"),
        "ok", "width", "height", "n_bands", "tiled",
        "n_overviews", "epsg", "compression",
    )


# ---------------------------------------------------------------------------
# S5 vector source under the gate: real GeoPackage bytes round-trip
# ---------------------------------------------------------------------------

_GPKG_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 3 AS BIGINT) AS n_features,
       CAST(CASE doc_id % 2 WHEN 0 THEN 4326 ELSE 3857 END
            AS INTEGER) AS srid,
       round(CAST(doc_id % 90 AS DOUBLE) + 0.5, 3) AS first_x
FROM documents
ORDER BY doc_id
"""


@query("gpkg_source", "pipeline",
       "§2.1 S5 vector probe/source: real GeoPackage (SQLite) files "
       "written and read back stdlib-only (sources/geopackage.py; "
       "ref ingest/processing.py:100-213 ogr2ogr path)", _GPKG_SQL)
def gpkg_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a real GeoPackage per document (deterministic layer of
    1-3 points, rotating srid) and read it back through the sqlite3
    source — writer, GPKG blob codec, and reader all sit under the
    oracle compare.

    Scale: each .gpkg is built and read inside one Arrow kernel on
    executor-local scratch; no shuffle.
    """
    import os
    import tempfile
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import geopackage as GP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                srid = 4326 if did % 2 == 0 else 3857
                n = 1 + did % 3
                x0 = float(did % 90) + 0.5
                feats = [(i + 1, G.wkb_point(x0 + i, 0.25))
                         for i in range(n)]
                fd, tmp = tempfile.mkstemp(suffix=".gpkg")
                os.close(fd)
                try:
                    os.unlink(tmp)         # write_gpkg creates it
                    GP.write_gpkg(tmp, {"pts": feats}, srid=srid)
                    with open(tmp, "rb") as f:
                        content = f.read()
                finally:
                    if os.path.exists(tmp):
                        os.unlink(tmp)
                got = list(GP.read_gpkg_bytes(content, f"d{did}"))
                first = G.parse_wkb(got[0][3])["coords"][0] if got else None
                rows.append((did, len(got), got[0][4] if got else None,
                             round(first, 3)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_features", "srid", "first_x"])

    return base.mapInPandas(
        rt, "doc_id long, n_features long, srid int, first_x double")


# ---------------------------------------------------------------------------
# S5 vector source under the gate: real OpenFileGDB bytes round-trip
# ---------------------------------------------------------------------------

_GDB_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 3 + doc_id % 2 AS BIGINT) AS n_features,
       CAST(1 + doc_id % 2 AS BIGINT) AS n_layers,
       CAST(4326 AS INTEGER) AS srid,
       round(CAST(doc_id % 90 AS DOUBLE) + 0.5, 3) AS first_x
FROM documents
ORDER BY doc_id
"""


@query("gdb_source", "pipeline",
       "§2.1 S5 vector probe/source: real OpenFileGDB (.gdb) directories "
       "written and read back stdlib-only (sources/filegdb.py; ref "
       "ingest/config.py:59-62 OpenFileGDB allowlist)", _GDB_SQL)
def gdb_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a real FileGDB per document (deterministic point layer,
    plus a line layer for odd ids) and read it back through the
    catalog-walking source — writer, varint/shape codecs, and reader
    all sit under the oracle compare.

    Scale: each .gdb is built and read inside one Arrow kernel on
    executor-local scratch; no shuffle.
    """
    import shutil
    import tempfile
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import filegdb as FG
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 1 + did % 3
                x0 = float(did % 90) + 0.5
                layers = {"pts": [(i + 1, G.wkb_point(x0 + i, 0.25))
                                  for i in range(n)]}
                if did % 2:
                    layers["ln"] = [(1, G.wkb_linestring(
                        [(x0, 0.0), (x0 + 1.0, 1.0)]))]
                tmp = tempfile.mkdtemp()
                gdb = _os.path.join(tmp, f"d{did}.gdb")
                try:
                    FG.write_filegdb(gdb, layers)
                    files = {fn: open(_os.path.join(gdb, fn), "rb").read()
                             for fn in _os.listdir(gdb)}
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
                got = list(FG.read_filegdb(files, f"d{did}.gdb"))
                pts = [r for r in got if r[1] == "pts"]
                first = G.parse_wkb(pts[0][3])["coords"][0] if pts else None
                rows.append((did, len(got), len({r[1] for r in got}),
                             got[0][4] if got else None,
                             round(first, 3)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_features", "n_layers", "srid", "first_x"])

    return base.mapInPandas(
        rt, "doc_id long, n_features long, n_layers long, srid int, "
            "first_x double")


# ---------------------------------------------------------------------------
# S6/S8 raster source under the gate: real NetCDF-4/HDF5 round-trip
# ---------------------------------------------------------------------------

_NC4_SQL = """
SELECT doc_id,
       CAST(1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
           AS n_subdatasets,
       CAST((4 + doc_id % 5) * (6 + doc_id % 7)
            + CASE WHEN doc_id % 3 = 0 THEN 12 ELSE 0 END AS BIGINT)
           AS total_px,
       round(0.25 * ((4 + doc_id % 5) * (6 + doc_id % 7))
             * ((4 + doc_id % 5) * (6 + doc_id % 7) - 1)
             + CASE WHEN doc_id % 3 = 0 THEN doc_id * 12.0 ELSE 0 END,
             3) AS sum_px
FROM documents
ORDER BY doc_id
"""


@query("nc4_probe", "pipeline",
       "§2.1 S6/S8 raster probe/source: real NetCDF-4 (HDF5) files "
       "written and read back stdlib-only — superblock, object headers, "
       "symbol tables, contiguous AND chunked+deflate+shuffle layouts "
       "(sources/hdf5.py; ref ingest/config.py:73 '.nc4' allowlist)",
       _NC4_SQL)
def nc4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a real HDF5/NetCDF-4 file per document (deterministic
    grids; odd ids chunked+deflate+shuffle, multiples of 3 get a
    second subdataset) and read it back through the raster source —
    writer, B-tree/heap walkers, and filter pipeline all sit under
    the oracle compare.

    Scale: each .nc4 is built and read inside one Arrow kernel on
    executor-local scratch; no shuffle.
    """
    import os as _os
    import tempfile
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.sources import hdf5 as H5
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                h, w = 4 + did % 5, 6 + did % 7
                dsets = {"temp": (np.arange(h * w, dtype="<f8")
                                  .reshape(h, w) * 0.5)}
                if did % 3 == 0:
                    dsets["b2"] = np.full((3, 4), float(did),
                                          dtype="<f8")
                fd, tmp = tempfile.mkstemp(suffix=".nc4")
                _os.close(fd)
                try:
                    H5.write_hdf5(tmp, dsets,
                                  chunked={"temp"} if did % 2 else
                                  frozenset())
                    with open(tmp, "rb") as f:
                        payload = f.read()
                finally:
                    _os.unlink(tmp)
                got = H5.read_hdf5_datasets(payload)
                total = sum(int(np.prod(d.shape)) for d in got)
                s = sum(float(d.data.sum()) for d in got)
                rows.append((did, len(got), total, round(s, 3)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_subdatasets", "total_px", "sum_px"])

    return base.mapInPandas(
        rt, "doc_id long, n_subdatasets long, total_px long, "
            "sum_px double")


# ---------------------------------------------------------------------------
# T7 CRS stack round 4: the widened table under the gate
# ---------------------------------------------------------------------------

_CRS_RT2_SQL = """
SELECT doc_id,
       CAST(CASE doc_id % 6 WHEN 0 THEN 29902 WHEN 1 THEN 3413
            WHEN 2 THEN 3031 WHEN 3 THEN 5514 WHEN 4 THEN 26985
            ELSE 3577 END AS INTEGER) AS srid,
       round(CASE doc_id % 6
             WHEN 0 THEN -8.0 + (doc_id % 30) * 0.05
             WHEN 1 THEN -45.0 + (doc_id % 120) * 1.5
             WHEN 2 THEN -180.0 + (doc_id % 120) * 3.0
             WHEN 3 THEN 13.0 + (doc_id % 50) * 0.1
             WHEN 4 THEN -79.0 + (doc_id % 30) * 0.1
             ELSE 115.0 + (doc_id % 35) * 1.0 END, 4) AS lon_rt,
       round(CASE doc_id % 6
             WHEN 0 THEN 51.5 + ((doc_id * 3) % 40) * 0.1
             WHEN 1 THEN 62.0 + ((doc_id * 3) % 25) * 1.0
             WHEN 2 THEN -88.0 + ((doc_id * 3) % 25) * 1.0
             WHEN 3 THEN 48.5 + ((doc_id * 3) % 25) * 0.1
             WHEN 4 THEN 38.0 + ((doc_id * 3) % 20) * 0.1
             ELSE -43.0 + ((doc_id * 3) % 33) * 1.0 END, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""


@query("crs_roundtrip_extended", "pipeline",
       "§2.2 T7 reprojection, round-4 table widening: Irish Grid TM "
       "(+TM75 Helmert), polar stereographic N/S, Krovak, state-plane "
       "LCC, Australian Albers (operators/crs.py; absolute control "
       "points in tests/test_crs.py)", _CRS_RT2_SQL)
def crs_roundtrip_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward+inverse through the round-4 CRS additions (29902
    Irish Grid incl. datum path, 3413/3031 polar stereographic,
    5514 Krovak incl. S-JTSK shift, 26985 Maryland LCC, 3577
    Australian Albers), each over its realistic lon/lat window.  The
    oracle is the input formula — any broken forward, inverse,
    dispatch, or Helmert path surfaces as a value mismatch.

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    srids = [29902, 3413, 3031, 5514, 26985, 3577]
    lon_of = [
        lambda d: -8.0 + (d % 30) * 0.05,
        lambda d: -45.0 + (d % 120) * 1.5,
        lambda d: -180.0 + (d % 120) * 3.0,
        lambda d: 13.0 + (d % 50) * 0.1,
        lambda d: -79.0 + (d % 30) * 0.1,
        lambda d: 115.0 + (d % 35) * 1.0,
    ]
    lat_of = [
        lambda d: 51.5 + ((d * 3) % 40) * 0.1,
        lambda d: 62.0 + ((d * 3) % 25) * 1.0,
        lambda d: -88.0 + ((d * 3) % 25) * 1.0,
        lambda d: 48.5 + ((d * 3) % 25) * 0.1,
        lambda d: 38.0 + ((d * 3) % 20) * 0.1,
        lambda d: -43.0 + ((d * 3) % 33) * 1.0,
    ]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = {s: (C.from_lonlat(s), C.to_lonlat(s)) for s in srids}
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % 6
                srid = srids[k]
                lon, lat = lon_of[k](did), lat_of[k](did)
                fwd, inv = pairs[srid]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, srid,
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "srid", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, srid int, lon_rt double, lat_rt double")


# ---------------------------------------------------------------------------
# T7 CRS stack round 5b: EPSG-code-only national grids under the gate
# ---------------------------------------------------------------------------

_CRS_CODES = [28992, 2056, 31370, 31467, 23031, 26714, 27572, 6931,
              32661, 2180, 6339, 2229, 2277]
_CRS_CODES_SQL = """
SELECT doc_id,
       CAST(CASE doc_id % 13
            WHEN 0 THEN 28992 WHEN 1 THEN 2056 WHEN 2 THEN 31370
            WHEN 3 THEN 31467 WHEN 4 THEN 23031 WHEN 5 THEN 26714
            WHEN 6 THEN 27572 WHEN 7 THEN 6931 WHEN 8 THEN 32661
            WHEN 9 THEN 2180 WHEN 10 THEN 6339 WHEN 11 THEN 2229
            ELSE 2277 END AS INTEGER) AS srid,
       round(CASE doc_id % 13
             WHEN 0 THEN 3.5 + (doc_id % 30) * 0.1
             WHEN 1 THEN 6.0 + (doc_id % 35) * 0.1
             WHEN 2 THEN 2.6 + (doc_id % 35) * 0.1
             WHEN 3 THEN 7.6 + (doc_id % 28) * 0.1
             WHEN 4 THEN 0.0 + (doc_id % 60) * 0.1
             WHEN 5 THEN -102.0 + (doc_id % 55) * 0.1
             WHEN 6 THEN -4.0 + (doc_id % 110) * 0.1
             WHEN 7 THEN -180.0 + (doc_id % 120) * 3.0
             WHEN 8 THEN -180.0 + (doc_id % 120) * 3.0
             WHEN 9 THEN 14.2 + (doc_id % 95) * 0.1
             WHEN 10 THEN -126.0 + (doc_id % 60) * 0.1
             WHEN 11 THEN -119.8 + (doc_id % 45) * 0.1
             ELSE -103.5 + (doc_id % 90) * 0.1 END, 4) AS lon_rt,
       round(CASE doc_id % 13
             WHEN 0 THEN 50.8 + ((doc_id * 3) % 25) * 0.1
             WHEN 1 THEN 46.0 + ((doc_id * 3) % 18) * 0.1
             WHEN 2 THEN 49.6 + ((doc_id * 3) % 19) * 0.1
             WHEN 3 THEN 47.5 + ((doc_id * 3) % 65) * 0.1
             WHEN 4 THEN 38.0 + ((doc_id * 3) % 140) * 0.1
             WHEN 5 THEN 26.0 + ((doc_id * 3) % 200) * 0.1
             WHEN 6 THEN 42.5 + ((doc_id * 3) % 85) * 0.1
             WHEN 7 THEN 25.0 + ((doc_id * 3) % 60) * 1.0
             WHEN 8 THEN 60.0 + ((doc_id * 3) % 30) * 1.0
             WHEN 9 THEN 49.1 + ((doc_id * 3) % 55) * 0.1
             WHEN 10 THEN 32.0 + ((doc_id * 3) % 160) * 0.1
             WHEN 11 THEN 33.0 + ((doc_id * 3) % 30) * 0.1
             ELSE 29.0 + ((doc_id * 3) % 30) * 0.1 END, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""


@query("crs_roundtrip_codes", "pipeline",
       "§2.2 T7 reprojection, round-5b (+r8): EPSG-code-only "
       "national grids — RD New, Swiss LV95, Belgian L72, DHDN GK3, "
       "ED50/NAD27 UTM, NTF Lambert II, EASE-Grid 2.0 N, UPS N, "
       "Poland CS92, and the r8 US families NAD83(2011) UTM + SPCS83 "
       "State Plane m/ftUS (ref reprojects any SRS via PROJ, "
       "ingest/processing.py:142-150)", _CRS_CODES_SQL)
def crs_roundtrip_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward+inverse through the round-5b ``_CRS_TABLE`` additions
    — uploads that carry a bare srid and no WKT (VERDICT r4 missing
    item 3).  Covers every new machinery piece: oblique
    stereographic + 7-param Helmert (28992), Swiss HOM-B + 3-param
    (2056), pole-origin LCC-2SP (31370), Bessel Gauss-Krueger
    (31467), legacy ED50/NAD27 UTM datum shifts (23031/26714),
    Paris-meridian LCC-1SP (27572), polar-aspect equal-area (6931),
    UPS variant A (32661), and a negative-false-northing TM (2180).
    The oracle is the input formula — a broken forward, inverse,
    parameter, or datum path surfaces as a value mismatch; absolute
    control points live in tests/test_crs_codes.py.

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    lon_of = [
        lambda d: 3.5 + (d % 30) * 0.1,
        lambda d: 6.0 + (d % 35) * 0.1,
        lambda d: 2.6 + (d % 35) * 0.1,
        lambda d: 7.6 + (d % 28) * 0.1,
        lambda d: 0.0 + (d % 60) * 0.1,
        lambda d: -102.0 + (d % 55) * 0.1,
        lambda d: -4.0 + (d % 110) * 0.1,
        lambda d: -180.0 + (d % 120) * 3.0,
        lambda d: -180.0 + (d % 120) * 3.0,
        lambda d: 14.2 + (d % 95) * 0.1,
        lambda d: -126.0 + (d % 60) * 0.1,
        lambda d: -119.8 + (d % 45) * 0.1,
        lambda d: -103.5 + (d % 90) * 0.1,
    ]
    lat_of = [
        lambda d: 50.8 + ((d * 3) % 25) * 0.1,
        lambda d: 46.0 + ((d * 3) % 18) * 0.1,
        lambda d: 49.6 + ((d * 3) % 19) * 0.1,
        lambda d: 47.5 + ((d * 3) % 65) * 0.1,
        lambda d: 38.0 + ((d * 3) % 140) * 0.1,
        lambda d: 26.0 + ((d * 3) % 200) * 0.1,
        lambda d: 42.5 + ((d * 3) % 85) * 0.1,
        lambda d: 25.0 + ((d * 3) % 60) * 1.0,
        lambda d: 60.0 + ((d * 3) % 30) * 1.0,
        lambda d: 49.1 + ((d * 3) % 55) * 0.1,
        lambda d: 32.0 + ((d * 3) % 160) * 0.1,
        lambda d: 33.0 + ((d * 3) % 30) * 0.1,
        lambda d: 29.0 + ((d * 3) % 30) * 0.1,
    ]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = {s: (C.from_lonlat(s), C.to_lonlat(s))
                 for s in _CRS_CODES}
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % 13
                srid = _CRS_CODES[k]
                lon, lat = lon_of[k](did), lat_of[k](did)
                fwd, inv = pairs[srid]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, srid,
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "srid", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, srid int, lon_rt double, lat_rt double")


# ---------------------------------------------------------------------------
# T7 CRS stack round 9: the JGD / SWEREF99 / TM35FIN / NTM / GDA2020 /
# SIRGAS / PT-TM06 / MGI / LUREF families under the gate
# ---------------------------------------------------------------------------

_CRS_CODES_R9 = [2443, 6677, 3006, 3012, 3067, 5118, 7852, 31983,
                 31971, 3763, 31256, 31258, 2169]
_CRS_R9_LON = [
    "128.8 + (doc_id % 20) * 0.1",
    "138.9 + (doc_id % 25) * 0.1",
    "12.0 + (doc_id % 110) * 0.1",
    "13.6 + (doc_id % 15) * 0.1",
    "21.0 + (doc_id % 90) * 0.1",
    "17.8 + (doc_id % 14) * 0.1",
    "126.2 + (doc_id % 55) * 0.1",
    "-47.8 + (doc_id % 55) * 0.1",
    "-83.8 + (doc_id % 55) * 0.1",
    "-9.4 + (doc_id % 30) * 0.1",
    "14.9 + (doc_id % 22) * 0.1",
    "12.0 + (doc_id % 26) * 0.1",
    "5.7 + (doc_id % 9) * 0.1",
]
_CRS_R9_LAT = [
    "31.5 + ((doc_id * 3) % 40) * 0.1",
    "35.0 + ((doc_id * 3) % 30) * 0.1",
    "55.5 + ((doc_id * 3) % 110) * 0.1",
    "57.0 + ((doc_id * 3) % 60) * 0.1",
    "60.0 + ((doc_id * 3) % 85) * 0.1",
    "58.5 + ((doc_id * 3) % 95) * 0.1",
    "-35.0 + ((doc_id * 3) % 200) * 0.1",
    "-25.0 + ((doc_id * 3) % 45) * 0.1",
    "0.5 + ((doc_id * 3) % 90) * 0.1",
    "37.0 + ((doc_id * 3) % 48) * 0.1",
    "46.4 + ((doc_id * 3) % 26) * 0.1",
    "46.4 + ((doc_id * 3) % 26) * 0.1",
    "49.4 + ((doc_id * 3) % 8) * 0.1",
]


def _crs_r9_sql() -> str:
    srid_branches = " ".join(
        f"WHEN {k} THEN {srid}"
        for k, srid in enumerate(_CRS_CODES_R9[:-1]))
    lon_branches = " ".join(
        f"WHEN {k} THEN {e}" for k, e in enumerate(_CRS_R9_LON[:-1]))
    lat_branches = " ".join(
        f"WHEN {k} THEN {e}" for k, e in enumerate(_CRS_R9_LAT[:-1]))
    return f"""
SELECT doc_id,
       CAST(CASE doc_id % 13 {srid_branches}
            ELSE {_CRS_CODES_R9[-1]} END AS INTEGER) AS srid,
       round(CASE doc_id % 13 {lon_branches}
             ELSE {_CRS_R9_LON[-1]} END, 4) AS lon_rt,
       round(CASE doc_id % 13 {lat_branches}
             ELSE {_CRS_R9_LAT[-1]} END, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""


@query("crs_roundtrip_codes_r9", "pipeline",
       "§2.2 T7 reprojection, round-9: EPSG-code-only national grids "
       "— JGD2000/JGD2011 Japan Plane Rectangular CS, SWEREF99 TM + "
       "local zones, ETRS-TM35FIN, Norway NTM, GDA2020 MGA, SIRGAS "
       "2000 UTM N/S, Portugal TM06, MGI Austria GK (Bessel + "
       "Helmert), Luxembourg LUREF (ref reprojects any SRS via PROJ, "
       "ingest/processing.py:142-150)", _crs_r9_sql())
def crs_roundtrip_codes_r9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward+inverse through the round-9 ``_CRS_TABLE`` additions
    (VERDICT r8 next #6) — code-only uploads for the Japanese,
    Nordic, Australian, South-American and Alpine national grids.
    The oracle is the input formula: a broken forward, inverse,
    parameter row, or datum shift surfaces as a value mismatch;
    absolute control points (Stockholm/Helsinki/Sao Paulo/Bogota,
    zone-origin identities, UTM-twin equalities) live in
    tests/test_crs_codes.py.

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    lon_of = [eval(f"lambda doc_id: {e}") for e in _CRS_R9_LON]  # noqa: S307
    lat_of = [eval(f"lambda doc_id: {e}") for e in _CRS_R9_LAT]  # noqa: S307

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = {s: (C.from_lonlat(s), C.to_lonlat(s))
                 for s in _CRS_CODES_R9}
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % 13
                srid = _CRS_CODES_R9[k]
                lon, lat = lon_of[k](did), lat_of[k](did)
                fwd, inv = pairs[srid]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, srid,
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "srid", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, srid int, lon_rt double, lat_rt double")


# ---------------------------------------------------------------------------
# Multimodal round 4: baseline JPEG pixel decode under the gate
# ---------------------------------------------------------------------------

# Constant EVEN 8x8 tiles round-trip bit-exactly through the baseline
# codec (see functions/jpegcodec.py docstring), so the decoded pixel
# statistics have a closed form over the tile-value formula.
_JPEG_SQL = """
SELECT d.doc_id,
       CAST(16 + 8 * (d.doc_id % 3) AS INTEGER) AS width,
       CAST(16 + 8 * (d.doc_id % 2) AS INTEGER) AS height,
       round(s.mean_v, 4) AS px_mean,
       CAST(s.min_v AS INTEGER) AS px_min,
       CAST(s.max_v AS INTEGER) AS px_max
FROM documents d,
LATERAL (
    SELECT avg(((d.doc_id * 7 + t.i * 10) % 128) * 2.0) AS mean_v,
           min(((d.doc_id * 7 + t.i * 10) % 128) * 2) AS min_v,
           max(((d.doc_id * 7 + t.i * 10) % 128) * 2) AS max_v
    FROM range(12) t(i)
    WHERE t.i < (2 + d.doc_id % 3) * (2 + d.doc_id % 2)
) s
ORDER BY d.doc_id
"""


@query("jpeg_pixel_stats", "pipeline",
       "multimodal: baseline JPEG full pixel decode (stdlib "
       "Huffman+IDCT, functions/jpegcodec.py) — encoder and decoder "
       "under a closed-form pixel oracle", _JPEG_SQL)
def jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a deterministic constant-tile grayscale JPEG per
    document (every value even, so DCT+quantization round-trips
    exactly), decode it with the baseline codec, and report pixel
    statistics — Huffman coding, DC prediction, IDCT, and marker
    framing all sit under the oracle compare.

    Scale: per-row encode+decode in an Arrow-batched kernel; no
    shuffle.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.functions import jpegcodec as J
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                ntx, nty = 2 + did % 3, 2 + did % 2
                img = np.zeros((nty * 8, ntx * 8), dtype=np.uint8)
                for ty in range(nty):
                    for tx in range(ntx):
                        i = ty * ntx + tx
                        img[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8] \
                            = ((did * 7 + i * 10) % 128) * 2
                dec = J.decode_baseline_jpeg(J.encode_baseline_jpeg(img))
                rows.append((did, int(dec.shape[1]), int(dec.shape[0]),
                             round(float(dec.mean()), 4),
                             int(dec.min()), int(dec.max())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "px_mean", "px_min",
                "px_max"])

    return base.mapInPandas(
        rt, "doc_id long, width int, height int, px_mean double, "
            "px_min int, px_max int")


# ---------------------------------------------------------------------------
# S6 raster source round 4: Erdas Imagine Raw under the gate
# ---------------------------------------------------------------------------

_ERDAS_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 2 AS BIGINT) AS n_bands,
       CAST((1 + doc_id % 2) * (5 + doc_id % 4) * (7 + doc_id % 3)
            AS BIGINT) AS total_px,
       round(((1 + doc_id % 2) * (5 + doc_id % 4) * (7 + doc_id % 3))
             * ((1 + doc_id % 2) * (5 + doc_id % 4) * (7 + doc_id % 3)
                - 1) / 2.0, 3) AS sum_px
FROM documents
ORDER BY doc_id
"""


@query("erdas_source", "pipeline",
       "§2.1 S6 raster source: Erdas Imagine Raw (.raw/.bl) header + "
       "companion pairs decoded stdlib-only across all FORMAT / "
       "BYTE_ORDER / INTERLEAVING combinations (sources/erdasraw.py; "
       "ref ingest/config.py:50)", _ERDAS_SQL)
def erdas_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write an Erdas raw pair per document (rotating layer count,
    dims, FORMAT, BYTE_ORDER and INTERLEAVING so every decode branch
    runs) and read it back — header parse, dtype/order decode, and
    interleave de-weaving all sit under the closed-form sum oracle.

    Scale: per-row encode+decode in an Arrow-batched kernel; no
    shuffle.
    """
    import os as _os
    import shutil
    import tempfile
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.sources import erdasraw as ER
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    fmts = ["U8", "S16", "F32", "F64"]
    ils = ["BSQ", "BIL", "BIP"]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nl, h, w = 1 + did % 2, 5 + did % 4, 7 + did % 3
                cube = np.arange(nl * h * w, dtype=np.float64) \
                    .reshape(nl, h, w)
                tmp = tempfile.mkdtemp()
                try:
                    ER.write_erdas_raw(
                        tmp, f"d{did}", cube, fmt=fmts[did % 4],
                        byte_order="LSB" if did % 2 else "MSB",
                        interleaving=ils[did % 3])
                    text = open(_os.path.join(tmp, f"d{did}.raw")).read()
                    data = open(_os.path.join(tmp, f"d{did}.bl"),
                                "rb").read()
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
                out = ER.decode_erdas_raw(ER.parse_eir_header(text),
                                          data)
                rows.append((did, int(out.shape[0]), int(out.size),
                             round(float(out.sum()), 3)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_bands", "total_px", "sum_px"])

    return base.mapInPandas(
        rt, "doc_id long, n_bands long, total_px long, sum_px double")


# ---------------------------------------------------------------------------
# T7 round 4: WKT1-resolved reprojection under the gate
# ---------------------------------------------------------------------------

# The reference resolves ANY source SRS from the dataset's embedded
# WKT via GDAL/PROJ (ref ingest/processing.py:142-150); the engine's
# equivalent is operators/crs_wkt.py.  Six WKT-only CRSs (no usable
# EPSG code in the text, as with real ESRI .prj files) rotate by
# doc_id: ESRI TM, LCC-2SP in US survey feet, polar stereographic
# variant A, Hotine oblique Mercator variant B, oblique
# stereographic, Hotine oblique Mercator variant A (natural
# origin, the GDAL 9812 / common ESRI export).  The oracle is the input formula, so a broken parse,
# family dispatch, unit factor, or datum path all surface as value
# mismatches; absolute accuracy is pinned by the IOGP worked
# examples in tests/test_crs_wkt.py.
_CRS_WKT_SQL = """
SELECT doc_id,
       CASE doc_id % 6 WHEN 0 THEN 'tm' WHEN 1 THEN 'lcc_ftus'
            WHEN 2 THEN 'ps_a' WHEN 3 THEN 'homvb'
            WHEN 4 THEN 'sterea' ELSE 'homva' END AS family,
       round(CASE doc_id % 6
            WHEN 0 THEN 9.0 + (doc_id % 60) * 0.2
            WHEN 1 THEN -75.0 + (doc_id % 30) * 0.1
            WHEN 2 THEN -180.0 + (doc_id % 120) * 3.0
            WHEN 3 THEN 6.0 + (doc_id % 44) * 0.1
            WHEN 4 THEN 3.5 + (doc_id % 36) * 0.1
            ELSE -90.0 + (doc_id % 80) * 0.1 END, 4) AS lon_rt,
       round(CASE doc_id % 6
            WHEN 0 THEN 30.0 + ((doc_id * 3) % 80) * 0.5
            WHEN 1 THEN 40.0 + ((doc_id * 3) % 20) * 0.1
            WHEN 2 THEN 75.0 + ((doc_id * 3) % 13) * 1.0
            WHEN 3 THEN 45.9 + ((doc_id * 3) % 19) * 0.1
            WHEN 4 THEN 50.8 + ((doc_id * 3) % 27) * 0.1
            ELSE 42.0 + ((doc_id * 3) % 55) * 0.1 END, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""

_WKT_BANK = [
    # ESRI-style TM, no AUTHORITY (== EPSG:32633)
    'PROJCS["WGS_1984_UTM_Zone_33N",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Transverse_Mercator"],'
    'PARAMETER["False_Easting",500000.0],'
    'PARAMETER["False_Northing",0.0],'
    'PARAMETER["Central_Meridian",15.0],'
    'PARAMETER["Scale_Factor",0.9996],'
    'PARAMETER["Latitude_Of_Origin",0.0],UNIT["Meter",1.0]]',
    # LCC-2SP in US survey feet (== EPSG:2263 sans datum shift)
    'PROJCS["NAD83 / New York Long Island (ftUS)",GEOGCS["NAD83",'
    'DATUM["North_American_Datum_1983",'
    'SPHEROID["GRS 1980",6378137,298.257222101]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Lambert_Conformal_Conic_2SP"],'
    'PARAMETER["standard_parallel_1",41.03333333333333],'
    'PARAMETER["standard_parallel_2",40.66666666666666],'
    'PARAMETER["latitude_of_origin",40.16666666666666],'
    'PARAMETER["central_meridian",-74],'
    'PARAMETER["false_easting",984250.0],'
    'PARAMETER["false_northing",0],'
    'UNIT["US survey foot",0.3048006096012192]]',
    # polar stereographic variant A (UPS North parameters)
    'PROJCS["WGS 84 / UPS North (E,N)",GEOGCS["WGS 84",'
    'DATUM["WGS_1984",SPHEROID["WGS 84",6378137,298.257223563]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Polar_Stereographic"],'
    'PARAMETER["latitude_of_origin",90],'
    'PARAMETER["central_meridian",0],'
    'PARAMETER["scale_factor",0.994],'
    'PARAMETER["false_easting",2000000],'
    'PARAMETER["false_northing",2000000],UNIT["metre",1]]',
    # Hotine oblique Mercator variant B (== EPSG:2056 Swiss LV95)
    'PROJCS["CH1903+ / LV95",GEOGCS["CH1903+",DATUM["CH1903+",'
    'SPHEROID["Bessel 1841",6377397.155,299.1528128],'
    'TOWGS84[674.374,15.056,405.346,0,0,0,0]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Hotine_Oblique_Mercator_Azimuth_Center"],'
    'PARAMETER["latitude_of_center",46.95240555555556],'
    'PARAMETER["longitude_of_center",7.439583333333333],'
    'PARAMETER["azimuth",90],PARAMETER["rectified_grid_angle",90],'
    'PARAMETER["scale_factor",1],'
    'PARAMETER["false_easting",2600000],'
    'PARAMETER["false_northing",1200000],UNIT["metre",1]]',
    # oblique stereographic (== EPSG:28992 Dutch RD New)
    'PROJCS["Amersfoort / RD New",GEOGCS["Amersfoort",'
    'DATUM["Amersfoort",'
    'SPHEROID["Bessel 1841",6377397.155,299.1528128],'
    'TOWGS84[565.417,50.3319,465.552,-0.398957,0.343988,'
    '-1.8774,4.0725]],'
    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]],'
    'PROJECTION["Oblique_Stereographic"],'
    'PARAMETER["latitude_of_origin",52.15616055555555],'
    'PARAMETER["central_meridian",5.38763888888889],'
    'PARAMETER["scale_factor",0.9999079],'
    'PARAMETER["false_easting",155000],'
    'PARAMETER["false_northing",463000],UNIT["metre",1]]',
    # Hotine oblique Mercator variant A / natural origin
    # (== EPSG:3078 NAD83 Michigan Oblique Mercator; GDAL exports
    # EPSG method 9812 as PROJECTION["Hotine_Oblique_Mercator"])
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
    'PARAMETER["false_northing",-4354009.816],UNIT["metre",1]]',
]

_WKT_FAMILY = ["tm", "lcc_ftus", "ps_a", "homvb", "sterea", "homva"]


@query("crs_wkt_roundtrip", "pipeline",
       "§2.2 T7 reprojection via embedded WKT1 (operators/crs_wkt.py):"
       " any TM/LCC/Albers/LAEA/PS/Mercator/HOM-B/sterea/Krovak CRS "
       "resolves from .prj/gpkg WKT without an EPSG table entry "
       "(ref ingest/processing.py:142-150 resolves any SRS via PROJ)",
       _CRS_WKT_SQL)
def crs_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward+inverse through six WKT-defined CRSs with no usable
    EPSG code (the ESRI .prj situation): TM, ftUS LCC (unit factor
    both ways), UPS-style variant-A polar stereographic, Swiss HOM-B
    (translation datum shift), Dutch RD oblique stereographic
    (7-parameter rotation shift), Michigan HOM variant A
    (natural-origin false offsets).  The oracle is the input
    formula.

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle; the five transform pairs are built once per
    executor batch iterator and cached.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs_wkt as CW
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    lon_of = [
        lambda d: 9.0 + (d % 60) * 0.2,
        lambda d: -75.0 + (d % 30) * 0.1,
        lambda d: -180.0 + (d % 120) * 3.0,
        lambda d: 6.0 + (d % 44) * 0.1,
        lambda d: 3.5 + (d % 36) * 0.1,
        lambda d: -90.0 + (d % 80) * 0.1,
    ]
    lat_of = [
        lambda d: 30.0 + ((d * 3) % 80) * 0.5,
        lambda d: 40.0 + ((d * 3) % 20) * 0.1,
        lambda d: 75.0 + ((d * 3) % 13) * 1.0,
        lambda d: 45.9 + ((d * 3) % 19) * 0.1,
        lambda d: 50.8 + ((d * 3) % 27) * 0.1,
        lambda d: 42.0 + ((d * 3) % 55) * 0.1,
    ]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = [CW.pair_from_wkt(w) for w in _WKT_BANK]
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % 6
                lon, lat = lon_of[k](did), lat_of[k](did)
                fwd, inv = pairs[k]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, _WKT_FAMILY[k],
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "family", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, family string, lon_rt double, lat_rt double")


# ---------------------------------------------------------------------------
# S5/T7 round 4: real FlatGeobuf bytes round-trip under the gate
# ---------------------------------------------------------------------------

_FGB_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 4 AS BIGINT) AS n_features,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 4326 ELSE 3857
            END AS INTEGER) AS srid,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 0
            END AS INTEGER) AS node_size,
       round(CAST(doc_id % 90 AS DOUBLE) + 0.5, 3) AS first_x,
       CAST(1 AS BIGINT) AS props_ok
FROM documents
ORDER BY doc_id
"""


@query("fgb_source", "pipeline",
       "§2.1 S5 + §2.2 T7 artifact: real FlatGeobuf v3 files "
       "(flatbuffers wire format, packed R-tree index, properties "
       "codec) written and read back stdlib-only "
       "(sources/flatgeobuf.py; the reference's primary vector "
       "artifact — ref ingest/processing.py:100-213 dataset2fgb, "
       "fgb_upload/main.py backfill)", _FGB_SQL)
def fgb_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a real .fgb per document (1-4 points, rotating srid,
    every third file with a packed R-tree index, one string + one
    double property per feature) and read it back through the
    flatbuffers codec — builder, header, index skip, geometry and
    properties codecs all sit under the oracle compare.

    Scale: each .fgb is built and parsed inside one Arrow kernel;
    no shuffle.
    """
    import json
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import flatgeobuf as FGB
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    cols = [("name", FGB.CT_STRING), ("v", FGB.CT_DOUBLE)]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                srid = 4326 if did % 2 == 0 else 3857
                node = 16 if did % 3 == 0 else 0
                n = 1 + did % 4
                x0 = float(did % 90) + 0.5
                feats = [(i, G.wkb_point(x0 + i, 0.25),
                          {"name": f"f{i}", "v": x0 + i})
                         for i in range(n)]
                blob = FGB.write_fgb_bytes(
                    feats, name="pts", srid=srid, columns=cols,
                    index_node_size=node)
                hdr = FGB.parse_fgb_header(blob)
                got = list(FGB.read_fgb_bytes(blob, f"d{did}"))
                props_ok = int(all(
                    json.loads(r[6]) == {"name": f"f{r[2]}",
                                         "v": x0 + r[2]}
                    and r[3] == feats[r[2]][1] and r[4] == srid
                    for r in got))
                first = G.parse_wkb(got[0][3])["coords"][0]
                rows.append((did, len(got), srid,
                             hdr["index_node_size"],
                             round(first, 3), props_ok))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_features", "srid", "node_size",
                "first_x", "props_ok"])

    return base.mapInPandas(
        rt, "doc_id long, n_features long, srid int, node_size int, "
            "first_x double, props_ok long")


# ---------------------------------------------------------------------------
# Multimodal round 4b: full GIF LZW pixel decode under the gate
# ---------------------------------------------------------------------------

# The encoder writes a deterministic grayscale-palette frame
# (idx[i,j] = (doc_id + 3i + j) mod ncol, palette value 17k mod 256),
# every third file interlaced; the decoder's pixel stats therefore
# have a closed form the oracle reproduces.
_GIF_SQL = """
SELECT d.doc_id,
       CAST(8 + (d.doc_id % 5) * 4 AS INTEGER) AS width,
       CAST(6 + (d.doc_id % 3) * 4 AS INTEGER) AS height,
       CAST(s.sum_v AS BIGINT) AS px_sum,
       CAST(s.min_v AS INTEGER) AS px_min,
       CAST(s.max_v AS INTEGER) AS px_max
FROM documents d,
LATERAL (
    SELECT sum(v) AS sum_v, min(v) AS min_v, max(v) AS max_v
    FROM (
        SELECT (((d.doc_id + 3 * (t.i // (8 + (d.doc_id % 5) * 4))
                  + (t.i % (8 + (d.doc_id % 5) * 4)))
                 % (4 + d.doc_id % 4)) * 17) % 256 AS v
        FROM range(336) t(i)
        WHERE t.i < (8 + (d.doc_id % 5) * 4)
                    * (6 + (d.doc_id % 3) * 4)
    )
) s
ORDER BY d.doc_id
"""


@query("gif_pixel_stats", "pipeline",
       "multimodal: full GIF87a/89a LZW pixel decode "
       "(functions/gifcodec.py — variable-width LZW, interlace, "
       "palettes); encoder->decoder->stats under a closed-form "
       "oracle", _GIF_SQL)
def gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a deterministic palette frame per document (rotating
    size/palette, every third interlaced), decode it through the LZW
    codec, and report exact pixel statistics (integer sum/min/max, no
    float rounding edge) — bit-exact against the closed-form oracle, so the LZW bit reader, table growth,
    interlace schedule, and palette mapping all sit under the gate.

    Scale: per-row codec work in an Arrow-batched kernel; no shuffle.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.functions.gifcodec import (
        decode_gif_rgb,
        encode_gif,
    )
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 8 + (did % 5) * 4
                h = 6 + (did % 3) * 4
                ncol = 4 + did % 4
                i = np.arange(h)[:, None]
                j = np.arange(w)[None, :]
                idx = ((did + 3 * i + j) % ncol).astype(np.uint8)
                pal = np.stack([(np.arange(ncol) * 17 % 256)
                                .astype(np.uint8)] * 3, axis=1)
                blob = encode_gif(idx, pal, interlace=(did % 3 == 0))
                arr = decode_gif_rgb(blob)[:, :, 0].astype(np.int64)
                rows.append((did, int(arr.shape[1]), int(arr.shape[0]),
                             int(arr.sum()),
                             int(arr.min()), int(arr.max())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "px_sum", "px_min",
                "px_max"])

    return base.mapInPandas(
        rt, "doc_id long, width int, height int, px_sum long, "
            "px_min int, px_max int")


# ---------------------------------------------------------------------------
# T11 round 4b: WebMercatorQuad warp under the gate
# ---------------------------------------------------------------------------

# Per document: a 64x64 EPSG:4326 grid (value = row*64+col, 0.05 deg
# pixels, rotating origin), warped by the shared per-tile kernel
# (operators/warp.py warp_tile_array — the exact code the Spark
# operator runs per target tile).  Eight target pixels around the
# grid center are sampled; the oracle reproduces the zoom rule, the
# mercator pixel-center math, and the nearest lookup in closed-form
# SQL.  Values are exact integers (-1 = nodata).
_WARP_SQL = """
WITH geo AS (
    SELECT doc_id,
           -30.0 + (doc_id % 7) * 10 AS ox,
           60.0 - (doc_id % 5) * 5.0 AS oy,
           CAST(ceil(log2(156543.03392804097
                / (0.05 * 111319.49079327358
                   * cos(radians(60.0 - (doc_id % 5) * 5.0)))) - 1e-9)
                AS INTEGER) AS z
    FROM documents
),
g2 AS (
    SELECT *, 156543.03392804097 / power(2, z) AS p,
           6378137.0 * radians(ox + 1.6) AS xc,
           6378137.0 * ln(tan(pi() / 4 + radians(oy - 1.6) / 2)) AS yc
    FROM geo
)
SELECT g.doc_id, t.i AS k, g.z AS zoom,
       CAST(CASE WHEN rc.col BETWEEN 0 AND 63
                  AND rc.row BETWEEN 0 AND 63
                 THEN rc.row * 64 + rc.col ELSE -1 END AS BIGINT) AS val
FROM g2 g,
LATERAL (SELECT i FROM range(8) r(i)) t,
LATERAL (SELECT
    floor((g.xc + 20037508.342789244) / g.p) + (t.i * 5 - 18) AS gx,
    floor((20037508.342789244 - g.yc) / g.p)
        + ((t.i * 3) % 7 - 3) AS gy) q,
LATERAL (SELECT
    -20037508.342789244 + (q.gx + 0.5) * g.p AS mx,
     20037508.342789244 - (q.gy + 0.5) * g.p AS my) m,
LATERAL (SELECT
    CAST(floor((degrees(m.mx / 6378137.0) - g.ox) / 0.05)
         AS BIGINT) AS col,
    CAST(floor((g.oy - degrees(2 * atan(exp(my / 6378137.0))
                               - pi() / 2)) / 0.05)
         AS BIGINT) AS row) rc
ORDER BY g.doc_id, k
"""


@query("raster_warp", "pipeline",
       "§2.2 T11 warp: nearest-resample onto the WebMercatorQuad "
       "grid (operators/warp.py; ref ingest/processing.py:497-506 "
       "cog_translate tms=WebMercatorQuad) — zoom rule, mercator "
       "pixel-center math, and nearest lookup under a closed-form "
       "oracle", _WARP_SQL)
def raster_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warp a deterministic 64x64 geographic grid per document with
    the shared per-tile kernel and sample eight output pixels around
    the grid center.  Plan-level wiring (fan-out shuffle, rebase,
    georef) is pinned by tests/test_warp.py; this gates the math.

    Scale: per-row numpy in an Arrow kernel; no shuffle.
    """
    import math
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.operators import warp as WP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        src = (np.arange(64)[:, None] * 64
               + np.arange(64)[None, :]).astype(np.float64)
        blocks = [(0, 0, 64, 64, src.ravel())]
        # warp_tile_array is a pure function of (tile key, z, georef);
        # memoize it across the whole task (guide §4.5: amortize
        # heavyweight per-task work) — the fixture georef repeats
        # every 35 doc_ids, so without this the kernel re-warps the
        # identical 256x256 tile thousands of times (measured: the
        # memo takes the geo-suite raster_warp from ~4.6 s to
        # sub-second at the gate SF with byte-identical output).
        tiles: dict[tuple, np.ndarray] = {}
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                ox = -30.0 + (did % 7) * 10
                oy = 60.0 - (did % 5) * 5.0
                z = WP.zoom_for_res(WP._res_m(0.05, oy, 4326))
                p = WP.BASE_RES / (1 << z)
                xc, yc = WP._merc_xy_from_lonlat(ox + 1.6, oy - 1.6)
                gx0 = math.floor((xc + WP.ORIGIN) / p)
                gy0 = math.floor((WP.ORIGIN - yc) / p)
                for k in range(8):
                    gx = gx0 + (k * 5 - 18)
                    gy = gy0 + ((k * 3) % 7 - 3)
                    key = (gx // 256, gy // 256, z, ox, oy)
                    if key not in tiles:
                        if len(tiles) >= 512:   # bound task memory
                            tiles.clear()
                        tiles[key] = WP.warp_tile_array(
                            key[0], key[1], z, 4326, ox, oy,
                            0.05, 0.05, blocks, -1.0)
                    val = tiles[key][gy % 256, gx % 256]
                    rows.append((did, k, z, int(val)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "k", "zoom", "val"])

    return base.mapInPandas(
        rt, "doc_id long, k long, zoom int, val long")


# ---------------------------------------------------------------------------
# S6/T11 round 4b: GeoTIFF pixel reader under the gate
# ---------------------------------------------------------------------------

_GEOTIFF_SQL = """
SELECT d.doc_id,
       CAST(96 + (d.doc_id % 3) * 64 AS INTEGER) AS width,
       CAST(64 + (d.doc_id % 2) * 64 AS INTEGER) AS height,
       CAST(CASE WHEN d.doc_id % 2 = 0 THEN 32633 ELSE 4326
            END AS INTEGER) AS srid,
       CAST(s.sum_v AS BIGINT) AS px_sum
FROM documents d,
LATERAL (
    SELECT sum((t.i * 7 + d.doc_id) % 251) AS sum_v
    FROM range(28672) t(i)
    WHERE t.i < (96 + (d.doc_id % 3) * 64)
                * (64 + (d.doc_id % 2) * 64)
) s
ORDER BY d.doc_id
"""


@query("geotiff_source", "pipeline",
       "§2.1 S6 + §2.2 T11: GeoTIFF PIXEL decode "
       "(sources/geotiff.py — tiled+stripped, LZW early-change/"
       "deflate/zstd/packbits, predictor, GeoKeys) via a "
       "writer->reader byte round-trip (ref ingest/config.py "
       "ALLOWED_GDAL_FORMATS leads with .tif)", _GEOTIFF_SQL)
def geotiff_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a real georeferenced GeoTIFF per document (rotating
    dims/CRS, deterministic pixels) through the COG writer and read
    it back through the independent pixel reader — container, codec,
    GeoKey, and pixel paths all sit under the oracle's closed-form
    pixel sum.

    Scale: per-row codec work in an Arrow kernel; no shuffle.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.operators.cogwriter import (
        _Level,
        geotiff_bytes,
    )
    from geohub_data_pipeline_spark.sources.geotiff import read_geotiff
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 96 + (did % 3) * 64
                h = 64 + (did % 2) * 64
                srid = 32633 if did % 2 == 0 else 4326
                vals = ((np.arange(h * w, dtype=np.float64) * 7 + did)
                        % 251).reshape(h, w)
                tiles = {}
                for ty in range((h + 255) // 256):
                    for tx in range((w + 255) // 256):
                        tile = np.zeros((256, 256))
                        sub = vals[ty * 256:(ty + 1) * 256,
                                   tx * 256:(tx + 1) * 256]
                        tile[:sub.shape[0], :sub.shape[1]] = sub
                        tiles[(tx, ty)] = tile
                blob = geotiff_bytes([_Level(w, h, tiles)], epsg=srid)
                d = read_geotiff(blob)
                rows.append((did, d["width"], d["height"], d["srid"],
                             int(d["bands"][0][:h, :w].sum())))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "srid", "px_sum"])

    return base.mapInPandas(
        rt, "doc_id long, width int, height int, srid int, "
            "px_sum long")


# ---------------------------------------------------------------------------
# S5 round-5c: KML/KMZ, GPX, CSV-points sources + SRTM .hgt probe
# under the gate
# ---------------------------------------------------------------------------

_KML_SRC_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 3 + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0
            END AS BIGINT) AS n_features,
       (doc_id % 3 = 0) AS is_kmz,
       round(CAST(doc_id % 90 AS DOUBLE) + 0.5, 3) AS first_lon,
       CAST(1 AS BIGINT) AS props_ok
FROM documents
ORDER BY doc_id
"""


@query("kml_source", "pipeline",
       "§2.1 S5: KML/KMZ documents (OGC 07-147r2 Placemark/Folder/"
       "ExtendedData, KMZ zip wrapper) parsed stdlib-only "
       "(sources/kml.py; ref ingests them via GDAL LIBKML, "
       "ingest/processing.py:100-213)", _KML_SRC_SQL)
def kml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a KML document per doc_id (1-3 point Placemarks inside a
    Folder, every 4th doc plus a holed Polygon outside it, an
    ExtendedData property per point; every 3rd doc zipped into a KMZ)
    and read it back through ``read_kml_bytes`` — container walk,
    coordinates parse, MultiGeometry flattening, property extraction
    and the KMZ unwrap all sit under the oracle compare.

    Scale: each document is built and parsed inside one Arrow
    kernel; no shuffle.
    """
    import io
    import json
    import zipfile
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import kml as KML
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 1 + did % 3
                x0 = float(did % 90) + 0.5
                pms = "".join(
                    f'<Placemark><name>p{i}</name><ExtendedData>'
                    f'<Data name="pop"><value>{i * 10}</value></Data>'
                    f'</ExtendedData><Point><coordinates>'
                    f'{x0 + i},0.25,0</coordinates></Point></Placemark>'
                    for i in range(n))
                poly = ""
                if did % 4 == 0:
                    poly = ('<Placemark><Polygon><outerBoundaryIs>'
                            '<LinearRing><coordinates>'
                            '0,0 2,0 2,2 0,2 0,0'
                            '</coordinates></LinearRing>'
                            '</outerBoundaryIs></Polygon></Placemark>')
                doc = (f'<?xml version="1.0"?>'
                       f'<kml xmlns="http://www.opengis.net/kml/2.2">'
                       f'<Document><name>d{did}</name>'
                       f'<Folder><name>pts</name>{pms}</Folder>'
                       f'{poly}</Document></kml>').encode()
                is_kmz = did % 3 == 0
                if is_kmz:
                    buf = io.BytesIO()
                    with zipfile.ZipFile(buf, "w") as z:
                        z.writestr("doc.kml", doc)
                    doc = buf.getvalue()
                got = list(KML.read_kml_bytes(
                    doc, f"d{did}.{'kmz' if is_kmz else 'kml'}"))
                pts = [r for r in got if r[1] == "pts"]
                props_ok = int(
                    all(json.loads(r[6]) == {"name": f"p{i}",
                                             "pop": str(i * 10)}
                        for i, r in enumerate(pts))
                    and all(G.parse_wkb(r[3])["coords"]
                            == [x0 + i, 0.25]
                            for i, r in enumerate(pts))
                    and all(r[4] == 4326 for r in got))
                rows.append((did, len(got), is_kmz,
                             round(G.parse_wkb(pts[0][3])["coords"][0],
                                   3), props_ok))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_features", "is_kmz", "first_lon",
                "props_ok"])

    return base.mapInPandas(
        rt, "doc_id long, n_features long, is_kmz boolean, "
            "first_lon double, props_ok long")


_GPX_SRC_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 3 AS BIGINT) AS n_waypoints,
       CAST(1 + doc_id % 2 AS BIGINT) AS n_track_segs,
       round(45.0 + CAST(doc_id % 40 AS DOUBLE) * 0.1, 3)
         AS first_lat,
       CAST(1 AS BIGINT) AS shapes_ok
FROM documents
ORDER BY doc_id
"""


@query("gpx_source", "pipeline",
       "§2.1 S5: GPX 1.1 documents (wpt/trk/trkseg/rte) parsed "
       "stdlib-only (sources/kml.py; ref ingests them via GDAL's GPX "
       "driver, ingest/processing.py:100-213)", _GPX_SRC_SQL)
def gpx_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a GPX document per doc_id (1-3 waypoints, one track
    with 1-2 segments, one route) and read it back — waypoint
    points, track MultiLineStrings and route LineStrings under the
    oracle compare.

    Scale: one Arrow kernel, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import kml as KML
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nw = 1 + did % 3
                ns = 1 + did % 2
                lat0 = 45.0 + (did % 40) * 0.1
                wpts = "".join(
                    f'<wpt lat="{lat0 + i}" lon="{10 + i}">'
                    f'<name>w{i}</name></wpt>' for i in range(nw))
                segs = "".join(
                    f'<trkseg><trkpt lat="50" lon="{s}"/>'
                    f'<trkpt lat="50.5" lon="{s + 0.5}"/></trkseg>'
                    for s in range(ns))
                doc = (f'<?xml version="1.0"?>'
                       f'<gpx xmlns="http://www.topografix.com/GPX/1/1"'
                       f' version="1.1">{wpts}'
                       f'<trk><name>t</name>{segs}</trk>'
                       f'<rte><rtept lat="40" lon="5"/>'
                       f'<rtept lat="41" lon="6"/></rte></gpx>').encode()
                got = list(KML.read_gpx_bytes(doc, f"d{did}.gpx"))
                by_layer = {}
                for r in got:
                    by_layer.setdefault(r[1], []).append(r)
                trk = G.parse_wkb(by_layer["tracks"][0][3])
                rte = G.parse_wkb(by_layer["routes"][0][3])
                w0 = G.parse_wkb(by_layer["waypoints"][0][3])
                shapes_ok = int(
                    trk["type"] == G.MULTILINESTRING
                    and len(trk["parts"]) == ns
                    and rte["type"] == G.LINESTRING
                    and len(by_layer["waypoints"]) == nw)
                rows.append((did, len(by_layer["waypoints"]),
                             len(trk["parts"]),
                             round(w0["coords"][1], 3), shapes_ok))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_waypoints", "n_track_segs", "first_lat",
                "shapes_ok"])

    return base.mapInPandas(
        rt, "doc_id long, n_waypoints long, n_track_segs long, "
            "first_lat double, shapes_ok long")


_CSV_SRC_SQL = """
SELECT doc_id,
       CAST(1 + doc_id % 5 AS BIGINT) AS n_features,
       round(-170.0 + CAST(doc_id % 340 AS DOUBLE), 3) AS first_lon,
       CAST(1 AS BIGINT) AS props_ok
FROM documents
ORDER BY doc_id
"""


@query("csv_points_source", "pipeline",
       "§2.1 S5: CSV lat/lon point tables (GDAL CSV-driver name "
       "heuristics, bad-row skip) parsed via sources/csvpoints.py "
       "(ref allowlists tabular uploads through ogr2ogr)",
       _CSV_SRC_SQL)
def csv_points_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a CSV per doc_id (1-5 rows with Latitude/Longitude
    columns + a name property + one malformed row) and read it back
    through the bytes form — column detection, float parse, bad-row
    skip and the property bag under the oracle compare (the
    Spark-native ``features_from_csv`` shares the same detection and
    is covered in tests/test_kml_gpx_csv_hgt.py).

    Scale: one Arrow kernel, no shuffle.
    """
    import json
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import csvpoints as CSVP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 1 + did % 5
                lon0 = -170.0 + (did % 340)
                body = "name,Latitude,Longitude\n" + "".join(
                    f"r{i},{0.5 + i},{lon0 + i}\n" for i in range(n)
                ) + "bad,,\n"
                got = list(CSVP.read_csv_bytes(
                    body.encode(), f"d{did}.csv"))
                props_ok = int(all(
                    json.loads(r[6]) == {"name": f"r{i}"}
                    and G.parse_wkb(r[3])["coords"]
                    == [lon0 + i, 0.5 + i]
                    for i, r in enumerate(got)))
                rows.append((did, len(got),
                             round(G.parse_wkb(got[0][3])["coords"][0],
                                   3), props_ok))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_features", "first_lon", "props_ok"])

    return base.mapInPandas(
        rt, "doc_id long, n_features long, first_lon double, "
            "props_ok long")


_HGT_SQL = """
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_blocks,
       CAST(65 AS INTEGER) AS width,
       CAST(1081600 + 4225 * (doc_id % 10) AS BIGINT) AS px_sum,
       round(CAST(doc_id % 100 AS DOUBLE) - 0.0078125, 7)
         AS origin_lon,
       round(CAST(doc_id % 50 AS DOUBLE) + 1.0078125, 7)
         AS origin_lat
FROM documents
ORDER BY doc_id
"""


@query("hgt_probe", "pipeline",
       "§2.1 S6: SRTM .hgt elevation tiles (big-endian int16, "
       "size-derived grid, filename georeferencing with the "
       "pixel-is-point half-sample shift) via sources/srtmhgt.py "
       "(ref converts DEMs through the raster path, "
       "ingest/processing.py:469-552)", _HGT_SQL)
def hgt_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 65x65 SRTM-style tile per doc_id (elevation =
    doc_id%10 + 7*row + col — no int16 wrap at this size) named
    N{doc%50}E{doc%100}.hgt, parse it and derive the georef: block
    splitting, big-endian decode, pixel sum, and the half-sample
    corner shift (s = 1/64) all under the oracle compare.

    Scale: one Arrow kernel, no shuffle.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.sources import srtmhgt as HGT
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 65
                arr = (did % 10
                       + np.add.outer(7 * np.arange(n), np.arange(n))
                       ).astype(">i2")
                name = f"N{did % 50:02d}E{did % 100:03d}.hgt"
                parsed = HGT.parse_hgt(arr.tobytes())
                blocks = HGT._blocks_of(name, parsed)
                px_sum = int(sum(sum(b[8]) for b in blocks))
                sw = HGT.parse_hgt_name(name)
                s = 1.0 / (n - 1)
                rows.append((did, len(blocks), blocks[0][6], px_sum,
                             round(sw[0] - s / 2, 7),
                             round(sw[1] + 1 + s / 2, 7)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_blocks", "width", "px_sum",
                "origin_lon", "origin_lat"])

    return base.mapInPandas(
        rt, "doc_id long, n_blocks long, width int, px_sum long, "
            "origin_lon double, origin_lat double")


_TOPO_SQL = """
SELECT doc_id,
       CAST(2 + doc_id % 3 AS BIGINT) AS n_features,
       round(-170.0 + CAST(doc_id % 340 AS DOUBLE), 3) AS first_x,
       CAST(1 AS BIGINT) AS shared_ok,
       CAST(1 AS BIGINT) AS props_ok
FROM documents
ORDER BY doc_id
"""


@query("topojson_source", "pipeline",
       "§2.1 S5: TopoJSON Topology documents (quantized delta arcs, "
       "negative-index reversed stitching, shared borders) decoded "
       "stdlib-only (sources/topojson.py; ref ingests via GDAL's "
       "TopoJSON driver, ingest/processing.py:100-213)", _TOPO_SQL)
def topojson_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a quantized Topology per doc_id — two polygons sharing
    one arc (the right one referencing it reversed) plus 0-2 extra
    point objects — and decode it: the cumsum transform, arc
    stitching with junction dedup, and the shared-border identity
    (both rings carry bit-equal border vertices) sit under the
    oracle compare.

    Scale: one Arrow kernel, no shuffle.
    """
    import json as _json
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources import topojson as TJ
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                tx = -170.0 + (did % 340)
                n_pts = did % 3
                objects = {
                    "zones": {"type": "GeometryCollection",
                              "geometries": [
                        {"type": "Polygon", "id": 1,
                         "properties": {"n": "L"}, "arcs": [[0, 1]]},
                        {"type": "Polygon", "id": 2,
                         "properties": {"n": "R"}, "arcs": [[-1, 2]]},
                    ]},
                }
                if n_pts:
                    objects["pts"] = {
                        "type": "GeometryCollection", "geometries": [
                            {"type": "Point",
                             "coordinates": [i * 100, i * 100]}
                            for i in range(n_pts)]}
                topo = {
                    "type": "Topology",
                    "transform": {"scale": [0.001, 0.001],
                                  "translate": [tx, 10.0]},
                    "objects": objects,
                    "arcs": [
                        [[1000, 0], [0, 1000]],
                        [[1000, 1000], [-1000, 0], [0, -1000],
                         [1000, 0]],
                        [[1000, 0], [1000, 0], [0, 1000],
                         [-1000, 0]],
                    ],
                }
                got = list(TJ.read_topojson_bytes(
                    _json.dumps(topo).encode(), f"d{did}.topojson"))
                zones = [r for r in got if r[1] == "zones"]
                left = G.parse_wkb(zones[0][3])["coords"]
                right = G.parse_wkb(zones[1][3])["coords"]
                shared_ok = int(
                    left[:4] == [tx + 1.0, 10.0, tx + 1.0, 11.0]
                    and right[:4] == [tx + 1.0, 11.0, tx + 1.0, 10.0])
                props_ok = int(
                    _json.loads(zones[0][6]) == {"n": "L"}
                    and _json.loads(zones[1][6]) == {"n": "R"})
                pts = [r for r in got if r[1] == "pts"]
                first_x = (G.parse_wkb(pts[0][3])["coords"][0]
                           if pts else left[0] - 1.0)
                rows.append((did, len(got), round(first_x, 3),
                             shared_ok, props_ok))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_features", "first_x", "shared_ok",
                "props_ok"])

    return base.mapInPandas(
        rt, "doc_id long, n_features long, first_x double, "
            "shared_ok long, props_ok long")


# ---------------------------------------------------------------------------
# Round-5: grid-partitioned spatial join under the gate
# ---------------------------------------------------------------------------

_PIP_SQL = """
WITH p AS (
  SELECT doc_id,
         -19.95 + CAST((doc_id * 13) % 400 AS DOUBLE) / 10.0 AS lon,
         -19.95 + CAST((doc_id * 7) % 400 AS DOUBLE) / 10.0 AS lat
  FROM documents
),
z AS (
  SELECT CAST(t.i AS BIGINT) AS poly_id,
         -15.0 + t.i * 6.0 AS cx,
         -10.0 + (t.i % 3) * 8.0 AS cy,
         2.47 + t.i * 0.4 AS r
  FROM range(6) t(i)
)
SELECT p.doc_id, z.poly_id
FROM p, z
WHERE abs(p.lon - z.cx) + abs(p.lat - z.cy) < z.r
ORDER BY p.doc_id, z.poly_id
"""


@query("spatial_join_pip", "pipeline",
       "geo analytics: grid-partitioned point-in-polygon spatial "
       "join (polygon bbox -> tile fan-out, ONE tile-hash shuffle, "
       "vectorized PNPOLY ray cast) — the enrichment join the "
       "ingestion reference never needed", _PIP_SQL)
def spatial_join_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points from the documents table against six diamond polygons
    (rotated squares).  The Spark side runs the REAL machinery —
    tile-key join + even-odd ray casting (operators/spatial.py) —
    while the oracle states containment as the L1-ball inequality a
    diamond admits; radii sit 0.02 off the point lattice so no point
    lies on a boundary and both formulations agree exactly.

    Scale: the same plan a planetary PIP join runs — map-side keying
    both sides, one hash shuffle on the tile key, per-(tile,
    polygon) Arrow groups; a mega-polygon splits across its tiles
    (built-in salting).
    """
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    points = t.documents.select(
        F.col("doc_id").alias("point_id"),
        (-19.95 + ((F.col("doc_id") * 13) % 400).cast("double") / 10.0)
        .alias("lon"),
        (-19.95 + ((F.col("doc_id") * 7) % 400).cast("double") / 10.0)
        .alias("lat"),
    )
    polys = []
    for pid in range(6):
        cx, cy = -15.0 + pid * 6.0, -10.0 + (pid % 3) * 8.0
        r = 2.47 + pid * 0.4
        ring = [(cx + r, cy), (cx, cy + r), (cx - r, cy),
                (cx, cy - r), (cx + r, cy)]
        polys.append((pid, G.wkb_polygon([ring])))
    polygons = local_df(spark, 
        polys, "poly_id long, geometry binary")
    out = SP.points_in_polygons(points, polygons, zoom=6)
    return out.select(F.col("point_id").alias("doc_id"), "poly_id")


_ZONAL_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         CAST((7 * r.i + c.i) % 1000 AS DOUBLE) AS v,
         -15.0 + (c.i + 0.5) * 0.1 AS lon,
         15.0 - (r.i + 0.5) * 0.1 AS lat
  FROM range(300) r(i), range(300) c(i)
),
z AS (
  SELECT CAST(t.i AS BIGINT) AS poly_id,
         -15.0 + t.i * 6.0 AS cx,
         -10.0 + (t.i % 3) * 8.0 AS cy,
         2.47 + t.i * 0.4 AS r
  FROM range(6) t(i)
)
SELECT 'dem' AS dataset, CAST(1 AS INTEGER) AS band, z.poly_id,
       CAST(count(*) AS BIGINT) AS n_pixels,
       sum(px.v) AS sum_v, min(px.v) AS min_v, max(px.v) AS max_v,
       round(sum(px.v) / count(*), 6) AS mean_v
FROM px, z
WHERE abs(px.lon - z.cx) + abs(px.lat - z.cy) < z.r
GROUP BY z.poly_id
ORDER BY z.poly_id
"""


@query("zonal_stats", "pipeline",
       "geo analytics: zonal statistics (raster x polygons) — "
       "polygons fan to the BLOCK grid, one hash shuffle, per-block "
       "partial aggregates, no pixel-level shuffle", _ZONAL_SQL)
def zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/sum/min/max elevation per diamond zone over a synthetic
    300x300 single-band raster (pixel value = (7 row + col) % 1000,
    0.1-degree grid) — the Spark side runs the REAL machinery
    (operators/spatial.py zonal_stats over BLOCK rows + georef),
    the oracle states the same sums over the pixel-center lattice
    with the diamond's L1 inequality.

    Scale: partial aggregation happens where the pixels live; only
    (dataset, poly_id, partial) rows cross the wire after the one
    candidate-pair shuffle.
    """
    import numpy as np

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.operators.raster import BLOCK
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # keep the harness contract
    n = 300
    arr = (7 * np.arange(n)[:, None] + np.arange(n)[None, :]) % 1000
    rows = []
    for by in range(0, n, BLOCK):
        for bx in range(0, n, BLOCK):
            tile = arr[by:by + BLOCK, bx:bx + BLOCK]
            rows.append(("dem", None, 1, 0, bx // BLOCK, by // BLOCK,
                         int(tile.shape[1]), int(tile.shape[0]),
                         [float(v) for v in tile.ravel()], None, 4326))
    blocks = local_df(spark, 
        rows, "dataset string, subdataset string, band int, "
              "level int, block_x int, block_y int, width int, "
              "height int, pixels array<double>, nodata double, "
              "srid int")
    georef = local_df(spark, 
        [("dem", -15.0, 15.0, 0.1, 0.1, 4326)],
        "dataset string, origin_x double, origin_y double, "
        "pixel_sx double, pixel_sy double, georef_srid int")
    polys = []
    for pid in range(6):
        cx, cy = -15.0 + pid * 6.0, -10.0 + (pid % 3) * 8.0
        r = 2.47 + pid * 0.4
        ring = [(cx + r, cy), (cx, cy + r), (cx - r, cy),
                (cx, cy - r), (cx + r, cy)]
        polys.append((pid, G.wkb_polygon([ring])))
    polygons = local_df(spark, 
        polys, "poly_id long, geometry binary")
    return SP.zonal_stats(blocks, georef, polygons)


_NDVI_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         CAST((3 * r.i + 2 * c.i) % 100 + 50 AS DOUBLE) AS nir,
         CAST((2 * r.i + c.i) % 80 + 10 AS DOUBLE) AS red
  FROM range(64) r(i), range(64) c(i)
)
SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
       round((nir - red) / (nir + red), 6) AS ndvi
FROM px
ORDER BY row, col
"""


@query("raster_band_math", "pipeline",
       "geo analytics: raster map algebra (NDVI) as pure Catalyst "
       "zip_with over the BLOCK grid — zero Python per pixel, one "
       "block-key equi-join", _NDVI_SQL)
def raster_band_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDVI over a synthetic two-band 64x64 raster: band blocks join
    on the grid key and ``zip_with`` computes (nir-red)/(nir+red)
    element-wise in codegen; the gate flattens the block back to
    (row, col, ndvi) with posexplode for the oracle compare.

    Scale: the whole computation is JVM expressions; at 100 TB the
    bands' block grids co-partition (bucketed write) and the join is
    exchange-free.
    """
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    n = 64
    nir = [float((3 * r + 2 * c) % 100 + 50)
           for r in range(n) for c in range(n)]
    red = [float((2 * r + c) % 80 + 10)
           for r in range(n) for c in range(n)]
    blocks = local_df(spark, 
        [("s2", None, 1, 0, 0, 0, n, n, nir, None, 4326),
         ("s2", None, 2, 0, 0, 0, n, n, red, None, 4326)],
        "dataset string, subdataset string, band int, level int, "
        "block_x int, block_y int, width int, height int, "
        "pixels array<double>, nodata double, srid int")
    ndvi = R.band_math(
        blocks, lambda a, b: F.try_divide(a - b, a + b))
    return (
        ndvi.select("width", F.posexplode("pixels")
                    .alias("pos", "v"))
        .select((F.col("pos") / F.col("width")).cast("int")
                .alias("row"),
                (F.col("pos") % F.col("width")).cast("int")
                .alias("col"),
                F.round("v", 6).alias("ndvi"))
    )


_HORN_CTE = """px AS (
  SELECT r.i AS row, c.i AS col,
         CAST(5 * r.i + 3 * c.i + (r.i * c.i) % 7 AS DOUBLE) AS v
  FROM range(128) r(i), range(128) c(i)
),
g AS (
  SELECT a.row, a.col,
         ((ne.v + 2 * e.v + se.v) - (nw.v + 2 * w.v + sw.v)) / 8.0
           AS dzdx,
         ((sw.v + 2 * s.v + se.v) - (nw.v + 2 * n.v + ne.v)) / 8.0
           AS dzdy
  FROM px a
  JOIN px nw ON nw.row = a.row - 1 AND nw.col = a.col - 1
  JOIN px n  ON n.row  = a.row - 1 AND n.col  = a.col
  JOIN px ne ON ne.row = a.row - 1 AND ne.col = a.col + 1
  JOIN px w  ON w.row  = a.row     AND w.col  = a.col - 1
  JOIN px e  ON e.row  = a.row     AND e.col  = a.col + 1
  JOIN px sw ON sw.row = a.row + 1 AND sw.col = a.col - 1
  JOIN px s  ON s.row  = a.row + 1 AND s.col  = a.col
  JOIN px se ON se.row = a.row + 1 AND se.col = a.col + 1
)"""


def _demo_dem_blocks(spark: SparkSession):
    """The shared synthetic 128x128 / 2x2-block DEM the three Horn
    terrain gates run on (value = 5 row + 3 col + (row*col)%7)."""
    import numpy as np

    n, b = 128, 64
    arr = (5.0 * np.arange(n)[:, None] + 3.0 * np.arange(n)[None, :]
           + (np.arange(n)[:, None] * np.arange(n)[None, :]) % 7)
    rows = []
    for by in range(0, n, b):
        for bx in range(0, n, b):
            tile = arr[by:by + b, bx:bx + b]
            rows.append(("dem", None, 1, 0, bx // b, by // b, b, b,
                         tile.ravel().tolist(), None, 4326))
    return local_df(spark, 
        rows, "dataset string, subdataset string, band int, "
              "level int, block_x int, block_y int, width int, "
              "height int, pixels array<double>, nodata double, "
              "srid int"), b


def _flatten_pixels(df: DataFrame, b: int, alias: str) -> DataFrame:
    """Block rows -> (row, col, <alias>) with NaN/NULL (border or
    flat cells) dropped — the gate-comparable flat form."""
    flat = df.select(
        "block_x", "block_y", "width",
        F.posexplode("pixels").alias("pos", "v"))
    return (flat.select(
        (F.col("block_y") * b
         + (F.col("pos") / F.col("width")).cast("int")).cast("int")
        .alias("row"),
        (F.col("block_x") * b
         + (F.col("pos") % F.col("width"))).cast("int").alias("col"),
        F.round("v", 4).alias(alias))
        .filter(F.col(alias).isNotNull() & ~F.isnan(alias)))


_HILLSHADE_SQL = f"""
WITH {_HORN_CTE}
SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
       round(greatest(
         255.0 * (cos(pi() / 4) * cos(atan(sqrt(
                    dzdx * dzdx + dzdy * dzdy)))
                  + sin(pi() / 4) * sin(atan(sqrt(
                    dzdx * dzdx + dzdy * dzdy)))
                  * cos(radians(135.0) - atan2(dzdy, -dzdx))),
         0.0), 4) AS shade
FROM g
ORDER BY row, col
"""


@query("raster_hillshade", "pipeline",
       "geo analytics: Horn hillshade — a 3x3 FOCAL stencil with a "
       "1-pixel halo exchange between blocks (edge strips only, "
       "~1.5% of pixel volume), one grid-key shuffle",
       _HILLSHADE_SQL)
def raster_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade of a synthetic 128x128 DEM split into 2x2 blocks —
    pixels beside the block seams only come out right if the halo
    exchange delivered every neighbor strip, which is exactly what
    the oracle's whole-raster 8-way self-join checks.  Border pixels
    (no neighbors) emit NaN and are excluded on both sides.

    Scale: stencil ops are THE case for halo exchange — shipping
    1-pixel strips beats regrouping 3x3 whole-block neighborhoods
    9-fold; the one shuffle rides the raster's existing grid key.
    """
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, b = _demo_dem_blocks(spark)
    return _flatten_pixels(
        R.hillshade(blocks, azimuth=315.0, altitude=45.0,
                    cellsize=1.0), b, "shade")


_SLOPE_SQL = f"""
WITH {_HORN_CTE}
SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
       round(degrees(atan(sqrt(dzdx * dzdx + dzdy * dzdy))), 4)
         AS slope_deg
FROM g
ORDER BY row, col
"""


@query("raster_slope", "pipeline",
       "geo analytics: Horn slope (degrees) — the terrain-derivative "
       "twin of the hillshade stencil, same 1-px halo exchange",
       _SLOPE_SQL)
def raster_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope in degrees over the same synthetic 2x2-block DEM as the
    hillshade gate; shares ``_focal_horn``'s halo machinery, so the
    seam pixels again prove the exchange."""
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, b = _demo_dem_blocks(spark)
    return _flatten_pixels(R.slope(blocks, cellsize=1.0), b,
                           "slope_deg")


_ASPECT_SQL = f"""
WITH {_HORN_CTE}
SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
       round(((90.0 - degrees(atan2(dzdy, -dzdx))) % 360.0 + 360.0)
             % 360.0, 4) AS aspect_deg
FROM g
WHERE NOT (dzdx = 0 AND dzdy = 0)
ORDER BY row, col
"""


@query("raster_aspect", "pipeline",
       "geo analytics: Horn aspect (compass degrees, flat cells "
       "dropped) — third terrain derivative on the shared focal "
       "stencil", _ASPECT_SQL)
def raster_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect over the shared synthetic DEM; flat cells and the
    border drop on both sides."""
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, b = _demo_dem_blocks(spark)
    return _flatten_pixels(R.aspect(blocks, cellsize=1.0), b,
                           "aspect_deg")


_GEOLEN_SQL = """
WITH seg AS (
  SELECT d.doc_id, t.i AS seg,
         -30.0 + (d.doc_id % 60) + t.i * 0.2 AS lon1,
         -50.0 + ((d.doc_id * 3) % 100) + t.i * 0.1 AS lat1,
         -30.0 + (d.doc_id % 60) + (t.i + 1) * 0.2 AS lon2,
         -50.0 + ((d.doc_id * 3) % 100) + (t.i + 1) * 0.1 AS lat2
  FROM documents d, range(4) t(i)
)
SELECT doc_id,
       round(sum(2.0 * 6371008.8 * asin(sqrt(
           sin(radians(lat2 - lat1) / 2.0)
             * sin(radians(lat2 - lat1) / 2.0)
           + cos(radians(lat1)) * cos(radians(lat2))
             * sin(radians(lon2 - lon1) / 2.0)
             * sin(radians(lon2 - lon1) / 2.0)))), 2) AS length_m
FROM seg
GROUP BY doc_id
ORDER BY doc_id
"""


@query("vector_geodesic_length", "pipeline",
       "geo analytics: great-circle length per feature (haversine, "
       "IUGG sphere) — map-side Arrow kernel over WKB lines",
       _GEOLEN_SQL)
def vector_geodesic_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document becomes a 5-vertex polyline (0.2 x 0.1 degree
    steps from a doc-dependent anchor); the REAL operator parses the
    WKB and sums vectorized haversine segments, the oracle states the
    identical formula over the generated segment table.  Rounded to
    centimeters — libm trig ulp differences sit ~5 orders below.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                lon0 = -30.0 + (did % 60)
                lat0 = -50.0 + ((did * 3) % 100)
                pts = [(lon0 + i * 0.2, lat0 + i * 0.1)
                       for i in range(5)]
                rows.append(("docs", "lines", did,
                             G.wkb_linestring(pts)))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry"])

    feats = base.mapInPandas(
        build, "dataset string, layer string, fid long, "
               "geometry binary")
    return (SP.geodesic_length(feats)
            .select(F.col("fid").alias("doc_id"),
                    F.round("length_m", 2).alias("length_m")))


_GEOAREA_SQL = """
WITH seg AS (
  SELECT d.doc_id, t.i AS i,
         -- unit square anchored per doc, vertices CCW
         CASE t.i WHEN 0 THEN 0.0 WHEN 1 THEN 1.0 WHEN 2 THEN 1.0
              WHEN 3 THEN 0.0 ELSE 0.0 END
           + (-60.0 + (d.doc_id % 120)) AS lon1,
         CASE t.i WHEN 0 THEN 0.0 WHEN 1 THEN 0.0 WHEN 2 THEN 1.0
              WHEN 3 THEN 1.0 ELSE 0.0 END
           + (-45.0 + ((d.doc_id * 7) % 90)) AS lat1,
         CASE t.i WHEN 0 THEN 1.0 WHEN 1 THEN 1.0 WHEN 2 THEN 0.0
              WHEN 3 THEN 0.0 ELSE 1.0 END
           + (-60.0 + (d.doc_id % 120)) AS lon2,
         CASE t.i WHEN 0 THEN 0.0 WHEN 1 THEN 1.0 WHEN 2 THEN 1.0
              WHEN 3 THEN 0.0 ELSE 0.0 END
           + (-45.0 + ((d.doc_id * 7) % 90)) AS lat2
  FROM documents d, range(4) t(i)
)
SELECT doc_id,
       round(abs(sum(radians(lon2 - lon1)
                     * (2.0 + sin(radians(lat1))
                        + sin(radians(lat2)))))
             * 6371008.8 * 6371008.8 / 2.0, 2) AS area_m2
FROM seg
GROUP BY doc_id
ORDER BY doc_id
"""


@query("vector_geodesic_area", "pipeline",
       "geo analytics: spherical polygon area (discrete spherical "
       "shoelace, turf-style) — map-side Arrow kernel over WKB",
       _GEOAREA_SQL)
def vector_geodesic_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document becomes a 1x1-degree CCW square at a
    doc-dependent anchor; the REAL operator parses the WKB and sums
    the spherical shoelace, the oracle states the identical
    segment-sum over the generated vertex table.  Centimeter^2-class
    rounding keeps libm trig ulp noise five orders below."""
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                x0 = -60.0 + (did % 120)
                y0 = -45.0 + ((did * 7) % 90)
                ring = [(x0, y0), (x0 + 1, y0), (x0 + 1, y0 + 1),
                        (x0, y0 + 1), (x0, y0)]
                rows.append(("docs", "zones", did,
                             G.wkb_polygon([ring])))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry"])

    feats = base.mapInPandas(
        build, "dataset string, layer string, fid long, "
               "geometry binary")
    return (SP.geodesic_area(feats)
            .select(F.col("fid").alias("doc_id"),
                    F.round("area_m2", 2).alias("area_m2")))


# ---------------------------------------------------------------------------
# Round-6: polygon overlay — dissolve + buffer under the gate
# ---------------------------------------------------------------------------

_DISSOLVE_SQL = """
WITH k AS (SELECT CAST(t.i AS BIGINT) AS key FROM range(12) t(i))
SELECT key,
       CAST(1 + CASE WHEN key % 2 = 0 THEN 1 ELSE 0 END AS INT)
         AS n_rings,
       round((100 - CASE WHEN key % 2 = 0 THEN 1 ELSE 0 END
                  - CASE WHEN key % 3 = 0 THEN 1 ELSE 0 END) * 0.01, 6)
         AS area,
       round(4.0 + CASE WHEN key % 2 = 0 THEN 0.4 ELSE 0 END, 6)
         AS perimeter
FROM k ORDER BY key
"""


@query("geo_dissolve", "pipeline",
       "geo analytics: distributed dissolve (merge-by-key, interior "
       "boundaries removed) via edge-cancellation — shared borders "
       "net to zero in a partial-aggregated groupBy, surviving "
       "boundary edges stitch to rings per key; holes and concave "
       "notches exercised", _DISSOLVE_SQL)
def geo_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 40x30 grid of 0.1-degree cells partitioned into twelve
    10x10-cell blocks (key = block).  Even keys drop one INTERIOR
    cell (the dissolve must emit a hole ring); keys divisible by 3
    drop their CORNER cell (a concave notch).  The REAL operator
    (operators/overlay.dissolve) cancels shared edges and stitches
    the outline; the audited area / perimeter / ring count have the
    closed forms the oracle states: area = live cells x 0.01,
    perimeter = 4.0 (+0.4 hole ring), rings = 1 (+1 hole).

    Scale: the same plan a continental admin dissolve runs — edge
    explosion map-side, ONE partial-aggregated edge shuffle (interior
    borders cancel map-side), then a stitch shuffle carrying ONLY
    surviving boundary edges.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    cells = spark.range(1200).select(
        (F.col("id") % 40).alias("gx"), (F.col("id") / 40)
        .cast("long").alias("gy"))
    cells = cells.select(
        "gx", "gy",
        ((F.col("gx") / 10).cast("long")
         + 4 * (F.col("gy") / 10).cast("long")).alias("key"),
        (F.col("gx") % 10).alias("lx"), (F.col("gy") % 10).alias("ly"),
    ).filter(
        ~((F.col("key") % 2 == 0) & (F.col("lx") == 4)
          & (F.col("ly") == 5))
        & ~((F.col("key") % 3 == 0) & (F.col("lx") == 0)
            & (F.col("ly") == 0)))

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for k, gx, gy in zip(pdf["key"], pdf["gx"], pdf["gy"]):
                # corners from the GLOBAL grid index so adjacent
                # cells share bit-identical doubles — the coverage
                # contract edge-cancellation requires (x0 + 0.1
                # differs from the neighbor's -20.0 + (gx+1)*0.1 in
                # the last ulp and would cancel nothing)
                def cx(i: int) -> float:
                    return -20.0 + i * 0.1

                def cy(j: int) -> float:
                    return -15.0 + j * 0.1

                gx, gy = int(gx), int(gy)
                ring = [(cx(gx), cy(gy)), (cx(gx + 1), cy(gy)),
                        (cx(gx + 1), cy(gy + 1)),
                        (cx(gx), cy(gy + 1)), (cx(gx), cy(gy))]
                rows.append((int(k), G.wkb_polygon([ring])))
            yield pd.DataFrame(rows, columns=["key", "geometry"])

    polys = cells.mapInPandas(build, "key long, geometry binary")
    return (OV.geometry_audit(OV.dissolve(polys))
            .orderBy("key"))


_BUFFERED_JOIN_SQL = """
WITH p AS (
  SELECT doc_id,
         -19.95 + CAST((doc_id * 13) % 400 AS DOUBLE) / 10.0 AS lon,
         -19.95 + CAST((doc_id * 7) % 400 AS DOUBLE) / 10.0 AS lat
  FROM documents
),
z AS (
  SELECT CAST(t.i AS BIGINT) AS poly_id,
         -15.0 + t.i * 6.0 AS cx,
         -10.0 + (t.i % 3) * 8.0 AS cy
  FROM range(6) t(i)
)
SELECT p.doc_id, z.poly_id
FROM p, z
WHERE greatest(
        abs(p.lon - z.cx) * cos(pi()/8) + abs(p.lat - z.cy) * sin(pi()/8),
        abs(p.lon - z.cx) * sin(pi()/8) + abs(p.lat - z.cy) * cos(pi()/8))
      < 2.47 * cos(pi()/8)
ORDER BY p.doc_id, z.poly_id
"""


@query("spatial_join_buffered", "pipeline",
       "geo analytics: buffer-then-join — point sites buffered to "
       "regular octagons (operators/overlay.buffer_points), then the "
       "grid-partitioned PIP join; oracle states octagon containment "
       "as its two-half-plane closed form", _BUFFERED_JOIN_SQL)
def spatial_join_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six site points buffered to octagons of circumradius 2.47
    (vertex at angle 0), joined against the documents point lattice
    with the REAL machinery — k-gon construction + tile-key join +
    ray cast — while the oracle uses the octagon's half-plane form
    max(|dx|c+|dy|s, |dx|s+|dy|c) < R*cos(pi/8).  Lattice points sit
    >= 1e-3 off every octagon edge, so both formulations agree
    exactly.

    Scale: buffering is map-side; the join is the one-tile-hash-
    shuffle spatial join (spatial_join_pip's plan) — buffer-then-join
    never materializes a cartesian.
    """
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    points = t.documents.select(
        F.col("doc_id").alias("point_id"),
        (-19.95 + ((F.col("doc_id") * 13) % 400).cast("double") / 10.0)
        .alias("lon"),
        (-19.95 + ((F.col("doc_id") * 7) % 400).cast("double") / 10.0)
        .alias("lat"),
    )
    sites = spark.range(6).select(
        F.col("id").alias("point_id"),
        (-15.0 + F.col("id") * 6.0).alias("lon"),
        (-10.0 + (F.col("id") % 3) * 8.0).alias("lat"),
    )
    octagons = OV.buffer_points(sites, 2.47, segments=8)
    out = SP.points_in_polygons(points, octagons, zoom=6)
    return out.select(F.col("point_id").alias("doc_id"), "poly_id")


# ---------------------------------------------------------------------------
# Round-6: PMTiles re-ingest fragment merge under the gate
# ---------------------------------------------------------------------------

_MVT_MERGE_SQL = """
WITH d AS (
  SELECT doc_id,
         1 + (doc_id * 577) % 24000 AS px0,
         1 + (doc_id * 577) % 24000 + 2001 + (doc_id % 7) * 800 AS px1
  FROM documents
)
SELECT doc_id,
       CAST((px1 // 4096) - (px0 // 4096) + 1 AS BIGINT) AS n_copies,
       CAST(1 AS BIGINT) AS n_merged,
       CAST(px0 AS DOUBLE) / 32768 * 360 - 180 AS lon_min,
       CAST(px1 AS DOUBLE) / 32768 * 360 - 180 AS lon_max,
       TRUE AS lat_ok
FROM d ORDER BY doc_id
"""


@query("mvt_fragment_merge", "pipeline",
       "PMTiles re-ingest round trip: features -> z3 MVT tiles -> "
       "decode -> merge_tile_fragments; per-tile full-geometry "
       "copies collapse to ONE row per feature with bit-exact "
       "coordinates (aligned global pixel grid)", _MVT_MERGE_SQL)
def mvt_fragment_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document becomes a rectangle whose corners sit EXACTLY on
    the zoom-3 global pixel grid (x spans 1-2 tiles plus a fixed
    one-y-tile band), so encode quantization is exact and the decoded
    lon values are bit-identical to the closed form the oracle
    computes (px/2^15 is a power-of-two division; the subsequent
    *360-180 rounds identically in both engines — no round() needed).
    The pipeline under test is the REAL one: normalize -> build_tiles
    (MVT) -> features_from_tiles -> merge_tile_fragments.  n_copies
    is the covering-tile count (the encoder ships the full geometry
    to every covering tile), n_merged must be 1, and lat_ok pins the
    y-axis round trip bit-exactly against the same inverse-Mercator
    expression the decoder uses.
    """
    from collections.abc import Iterator

    import math as _m

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import mvt as MVT
    from geohub_data_pipeline_spark.operators import tiling as TLG
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def lon_of(px: int) -> float:
        return px / 32768 * 360 - 180

    def lat_of(wypx: int) -> float:
        wy = wypx / 4096
        return _m.degrees(_m.atan(_m.sinh(_m.pi * (1 - 2 * wy / 8))))

    def bounds(did: int):
        px0 = 1 + (did * 577) % 24000
        px1 = px0 + 2001 + (did % 7) * 800
        wy0 = 16501 + (did * 91) % 3000
        wy1 = wy0 + 501
        return px0, px1, wy0, wy1

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                px0, px1, wy0, wy1 = bounds(did)
                x0, x1 = lon_of(px0), lon_of(px1)
                yN, yS = lat_of(wy0), lat_of(wy1)
                ring = [(x0, yS), (x1, yS), (x1, yN), (x0, yN),
                        (x0, yS)]
                # fid = doc_id + 1: MVT Feature.id is optional and 0
                # reads as absent (features_from_tiles synthesizes a
                # per-tile id for it, which would defeat the merge)
                rows.append(("docs", "zones", did + 1,
                             G.wkb_polygon([ring]), 4326))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry", "srid"])

    feats = base.mapInPandas(
        build, "dataset string, layer string, fid long, "
               "geometry binary, srid int")
    tiles = (TLG.build_tiles(G.normalize_features(feats), maxzoom=3,
                             encode="mvt")
             .filter(F.col("z") == 3)
             .withColumn("dataset", F.lit("docs")))
    frags = MVT.features_from_tiles(tiles)
    n_copies = frags.groupBy("fid").agg(
        F.count(F.lit(1)).alias("n_copies"))
    merged = MVT.merge_tile_fragments(frags)
    n_merged = merged.groupBy("fid").agg(
        F.count(F.lit(1)).alias("n_merged"))

    def audit(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for fid, wkb in zip(pdf["fid"], pdf["geometry"]):
                did = int(fid) - 1
                p = G.parse_wkb(bytes(wkb))
                xs = [c for part in p["parts"] for c in part[0::2]]
                ys = [c for part in p["parts"] for c in part[1::2]]
                px0, px1, wy0, wy1 = bounds(did)
                lat_ok = (min(ys) == lat_of(wy1)
                          and max(ys) == lat_of(wy0))
                rows.append((did, min(xs), max(xs), bool(lat_ok)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "lon_min", "lon_max", "lat_ok"])

    measured = merged.select("fid", "geometry").mapInPandas(
        audit, "doc_id long, lon_min double, lon_max double, "
               "lat_ok boolean")
    return (measured
            .join(n_copies.select((F.col("fid") - 1).alias("doc_id"),
                                  "n_copies"), "doc_id")
            .join(n_merged.select((F.col("fid") - 1).alias("doc_id"),
                                  "n_merged"), "doc_id")
            .select("doc_id", F.col("n_copies").cast("long"),
                    F.col("n_merged").cast("long"),
                    "lon_min", "lon_max", "lat_ok"))


# ---------------------------------------------------------------------------
# Round-6: Erdas Imagine HFA (.img) source under the gate
# ---------------------------------------------------------------------------

_HFA_SQL = """
SELECT doc_id,
       CAST(1 AS INT) AS n_layers,
       CAST(9 AS INT) AS width, CAST(5 AS INT) AS height,
       CAST(45 * (doc_id % 10) + 810 AS BIGINT) AS px_sum,
       10.05 - 0.1 / 2 AS origin_lon,
       49.95 + 0.1 / 2 AS origin_lat,
       CAST(4326 AS INT) AS srid
FROM documents ORDER BY doc_id
"""


@query("hfa_source", "pipeline",
       "source: Erdas Imagine HFA (.img) — MIF-dictionary-driven "
       "parse (entry tree, Eimg_Layer, Edms_State block table, ESRI "
       "GRID RLE, Eprj_MapInfo center->corner shift); bytes built "
       "in-job by the spec-conformant fixture writer", _HFA_SQL)
def hfa_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: build a one-band 9x5 HFA file (pixel v(r,c) =
    doc_id%10 + 7r + c; 3x5 blocks so the block-row-major assembly is
    exercised; EVEN doc_ids write ESRI-GRID-RLE u8 blocks, odd write
    raw f32), parse it with the REAL reader (sources/hfa.py), and
    emit the probe numbers whose closed forms the oracle states —
    px_sum = 45*(doc%10) + 7*10*9 + 36*5 = 45*(doc%10) + 810, origin
    at the pixel-center-to-corner shift.

    Scale: one Arrow kernel, no shuffle (the file-backed path fans
    binaryFile rows across the cluster identically).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.sources import hfa as HFA
    from geohub_data_pipeline_spark.sources.fixtures import (
        hfa_file_bytes,
    )
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                arr = (did % 10
                       + 7 * np.arange(5)[:, None]
                       + np.arange(9)[None, :]).astype(np.float64)
                if did % 2 == 0:
                    buf = hfa_file_bytes(
                        [("Layer_1", arr.astype(np.uint8), 3, 5,
                          "u8")], compress=True)
                else:
                    buf = hfa_file_bytes(
                        [("Layer_1", arr.astype(np.float32), 3, 5,
                          "f32")])
                parsed = HFA.parse_hfa(buf)
                layers = parsed["layers"]
                full = HFA._layer_array(parsed, layers[0])
                g = HFA._layer_mapinfo(parsed, layers[0])
                rows.append((did, len(layers), full.shape[1],
                             full.shape[0], int(full.sum()),
                             g[0], g[1], g[4]))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_layers", "width", "height", "px_sum",
                "origin_lon", "origin_lat", "srid"])

    return base.mapInPandas(
        rt, "doc_id long, n_layers int, width int, height int, "
            "px_sum long, origin_lon double, origin_lat double, "
            "srid int")


# ---------------------------------------------------------------------------
# Round-6: bounded-radius nearest-neighbor spatial join under the gate
# ---------------------------------------------------------------------------

_NEAREST_SQL = """
WITH p AS (
  SELECT doc_id,
         -19.95 + CAST((doc_id * 13) % 400 AS DOUBLE) / 10.0 AS lon,
         -19.95 + CAST((doc_id * 7) % 400 AS DOUBLE) / 10.0 AS lat
  FROM documents
),
z AS (
  SELECT CAST(t.i AS BIGINT) AS site_id,
         -15.0 + t.i * 6.0 AS cx,
         -10.0 + (t.i % 3) * 8.0 AS cy
  FROM range(6) t(i)
),
d AS (
  SELECT p.doc_id, z.site_id,
         (p.lon - z.cx) * (p.lon - z.cx)
         + (p.lat - z.cy) * (p.lat - z.cy) AS d2
  FROM p, z
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY d2, site_id) AS rk
  FROM d WHERE d2 <= 64.0
)
SELECT doc_id, site_id, round(d2, 6) AS d2, CAST(rk AS INT) AS rk
FROM r WHERE rk <= 2
ORDER BY doc_id, rk
"""


@query("spatial_join_nearest", "pipeline",
       "geo analytics: bounded-radius k-nearest-neighbor spatial "
       "join (sites fan to radius-disc tiles, ONE tile-hash shuffle, "
       "per-point top-k) — closest-facility enrichment",
       _NEAREST_SQL)
def spatial_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents point lattice x six sites, k=2 nearest within
    radius 8 (planar degrees).  The REAL operator runs the tile
    machinery (operators/spatial.nearest_sites_join); the oracle
    brute-forces the same argmin — both engines compute d2 with the
    identical expression on identical doubles, and d2 values are
    multiples of 0.0025 so round(6) can't straddle a half-boundary.

    Scale: candidate pairs per tile, never |points| x |sites|; the
    per-point ranking shuffles once on the point key.
    """
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    points = t.documents.select(
        F.col("doc_id").alias("point_id"),
        (-19.95 + ((F.col("doc_id") * 13) % 400).cast("double") / 10.0)
        .alias("lon"),
        (-19.95 + ((F.col("doc_id") * 7) % 400).cast("double") / 10.0)
        .alias("lat"),
    )
    sites = spark.range(6).select(
        F.col("id").alias("site_id"),
        (-15.0 + F.col("id") * 6.0).alias("lon"),
        (-10.0 + (F.col("id") % 3) * 8.0).alias("lat"),
    )
    out = SP.nearest_sites_join(points, sites, k=2, max_radius=8.0,
                                zoom=5)
    return out.select(F.col("point_id").alias("doc_id"), "site_id",
                      F.round("d2", 6).alias("d2"),
                      F.col("rk").cast("int"))


# ---------------------------------------------------------------------------
# Round-6: raster polygonize (gdal_polygonize parity) under the gate
# ---------------------------------------------------------------------------

_POLYGONIZE_SQL = """
SELECT CAST(t.i AS BIGINT) AS value,
       CAST(CASE WHEN t.i = 1 THEN 11 ELSE 12 END AS INT) AS n_rings,
       CAST(0 AS INT) AS n_open,
       CASE WHEN t.i = 1 THEN 11.0 ELSE 12.0 END AS area,
       CASE WHEN t.i = 1 THEN 44.0 ELSE 48.0 END AS perimeter
FROM range(3) t(i) ORDER BY value
"""


@query("raster_polygonize", "pipeline",
       "geo analytics: raster polygonize (gdal_polygonize analog) — "
       "region-boundary edges per block, cross-block stitching via "
       "the dissolve edge-cancellation shuffle, per-value ring "
       "assembly; nodata and pinch corners exercised",
       _POLYGONIZE_SQL)
def raster_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 60x60 categorical raster (value = (r/10 + c/10) mod 3 per
    10px cell) split into 25-px blocks — region boundaries cross
    block borders, so the cross-block cancellation is load-bearing —
    with the center cell of value 1 holed out as nodata.  Same-value
    cells touch only at CORNERS (anti-diagonal layout), so every
    cell is its own ring through a pinch vertex.  Closed forms: 12
    rings / area 12 / perimeter 48 per value (11/11/44 for the holed
    value 1).

    Scale: emitted edges = region-boundary length; one partial-agg
    cancellation shuffle; per-value stitch group = the outline.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    bs = 25
    idx = spark.range(9).select(
        (F.col("id") % 3).cast("int").alias("bx"),
        (F.col("id") / 3).cast("int").alias("by"))

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        h = w = 60
        v = ((np.add.outer(np.arange(h) // 10, np.arange(w) // 10))
             % 3).astype(float)
        v[20:30, 20:30] = np.nan          # value-1 cell -> nodata
        for pdf in it:
            rows = []
            for bx, by in zip(pdf["bx"], pdf["by"]):
                bx, by = int(bx), int(by)
                t = v[by * bs:(by + 1) * bs, bx * bs:(bx + 1) * bs]
                rows.append(("dem", None, 1, 0, bx, by,
                             t.shape[1], t.shape[0],
                             t.ravel().tolist(), None, 4326))
            yield pd.DataFrame(rows, columns=[
                "dataset", "subdataset", "band", "level", "block_x",
                "block_y", "width", "height", "pixels", "nodata",
                "srid"])

    blocks = idx.mapInPandas(
        build, "dataset string, subdataset string, band int, "
               "level int, block_x int, block_y int, width int, "
               "height int, pixels array<double>, nodata double, "
               "srid int")
    georef = local_df(spark, 
        [("dem", -15.0, 15.0, 0.1, 0.1, 4326)],
        "dataset string, origin_x double, origin_y double, "
        "pixel_sx double, pixel_sy double, srid int")
    pg = OV.polygonize_blocks(blocks, georef, block_size=bs)
    aud = OV.geometry_audit(
        pg.selectExpr("cast(value as long) as key", "geometry"))
    return (pg.selectExpr("cast(value as long) as value", "n_open")
            .join(aud.withColumnRenamed("key", "value"), "value")
            .select("value", "n_rings", "n_open", "area", "perimeter")
            .orderBy("value"))


# ---------------------------------------------------------------------------
# Round-6: contour lines (gdal_contour parity) under the gate
# ---------------------------------------------------------------------------

_CONTOUR_SQL = """
SELECT 9.5 + t.i * 10 AS level,
       CAST(59 AS BIGINT) AS n_segments,
       round(15.0 - (9.5 + t.i * 10 + 0.5) * 0.1, 6) AS y,
       round(-15.0 + 0.5 * 0.1, 6) AS x_min,
       round(-15.0 + 59.5 * 0.1, 6) AS x_max
FROM range(4) t(i) ORDER BY level
"""


@query("raster_contour", "pipeline",
       "geo analytics: contour lines (gdal_contour analog) — "
       "marching squares on the pixel-center grid, 3-neighbor halo, "
       "exact edge interpolation; ramp oracle in closed form",
       _CONTOUR_SQL)
def raster_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 60x60 row-ramp DEM (v = row index) in 25-px blocks — every
    contour crosses both block borders, so the halo-owned quads are
    load-bearing.  Levels k+9.5 sit mid-cell: the interpolation
    parameter is exactly 0.5 and each contour is a straight
    horizontal polyline of 59 segments at y = center(r) + 0.5 *
    (center(r+1) - center(r)), whose closed form the oracle states
    with the identical arithmetic.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    bs = 25
    idx = spark.range(9).select(
        (F.col("id") % 3).cast("int").alias("bx"),
        (F.col("id") / 3).cast("int").alias("by"))

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        h = w = 60
        v = np.add.outer(np.arange(h, dtype=float), np.zeros(w))
        for pdf in it:
            rows = []
            for bx, by in zip(pdf["bx"], pdf["by"]):
                bx, by = int(bx), int(by)
                t = v[by * bs:(by + 1) * bs, bx * bs:(bx + 1) * bs]
                rows.append(("dem", None, 1, 0, bx, by,
                             t.shape[1], t.shape[0],
                             t.ravel().tolist(), None, 4326))
            yield pd.DataFrame(rows, columns=[
                "dataset", "subdataset", "band", "level", "block_x",
                "block_y", "width", "height", "pixels", "nodata",
                "srid"])

    blocks = idx.mapInPandas(
        build, "dataset string, subdataset string, band int, "
               "level int, block_x int, block_y int, width int, "
               "height int, pixels array<double>, nodata double, "
               "srid int")
    georef = local_df(spark, 
        [("dem", -15.0, 15.0, 0.1, 0.1, 4326)],
        "dataset string, origin_x double, origin_y double, "
        "pixel_sx double, pixel_sy double, srid int")
    out = R.contour_blocks(blocks, georef,
                           [9.5, 19.5, 29.5, 39.5], block_size=bs)

    def audit(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for lv, wkb, n in zip(pdf["level"], pdf["geometry"],
                                  pdf["n_segments"]):
                p = G.parse_wkb(bytes(wkb))
                xs = p["coords"][0::2]
                ys = p["coords"][1::2]
                assert round(min(ys), 6) == round(max(ys), 6)
                rows.append((float(lv), int(n), round(min(ys), 6),
                             round(min(xs), 6), round(max(xs), 6)))
            yield pd.DataFrame(rows, columns=[
                "level", "n_segments", "y", "x_min", "x_max"])

    return (out.select("level", "geometry", "n_segments")
            .mapInPandas(audit,
                         "level double, n_segments long, y double, "
                         "x_min double, x_max double")
            .orderBy("level"))


# ---------------------------------------------------------------------------
# Round-6: clip-to-AOI under the gate
# ---------------------------------------------------------------------------

_CLIP_SQL = """
WITH s AS (
  SELECT doc_id,
         CAST(-60 + (doc_id * 13) % 120 AS DOUBLE) AS x0,
         CAST(-40 + (doc_id * 7) % 80 AS DOUBLE) AS y0
  FROM documents
),
o AS (
  SELECT doc_id,
         greatest(0.0, least(x0 + 2.0, 9.7) - greatest(x0, -10.3))
           AS wx,
         greatest(0.0, least(y0 + 2.0, 17.9) - greatest(y0, 3.1))
           AS wy
  FROM s
)
SELECT doc_id, round(wx * wy, 6) AS area,
       round(2.0 * (wx + wy), 6) AS perimeter
FROM o WHERE wx > 0 AND wy > 0
ORDER BY doc_id
"""


@query("geo_clip", "pipeline",
       "geo analytics: clip features to a convex AOI (Sutherland-"
       "Hodgman rings, parametric segment clip) — rectangle-window "
       "oracle in closed form (overlap widths product)", _CLIP_SQL)
def geo_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document becomes a 2x2-degree square on the integer
    lattice; clipping to the rectangle [-10.3, 9.7] x [3.1, 17.9]
    (offset 0.1 off the lattice so nothing sits ON the window edge)
    leaves exactly the axis-aligned overlap box, whose area and
    perimeter the oracle states as the clamp-difference closed form.
    Features that clip away entirely DROP (the operator's contract) —
    the kept-row set is part of the check.

    Scale: the clip is a map-side kernel (the classic pre-filter
    before tiling or a spatial join); no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                x0 = float(-60 + (did * 13) % 120)
                y0 = float(-40 + (did * 7) % 80)
                ring = [(x0, y0), (x0 + 2, y0), (x0 + 2, y0 + 2),
                        (x0, y0 + 2), (x0, y0)]
                rows.append(("docs", "squares", did,
                             G.wkb_polygon([ring])))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry"])

    feats = base.mapInPandas(
        build, "dataset string, layer string, fid long, "
               "geometry binary")
    clipped = OV.clip_features(
        feats, [(-10.3, 3.1), (9.7, 3.1), (9.7, 17.9),
                (-10.3, 17.9), (-10.3, 3.1)])
    aud = OV.geometry_audit(
        clipped.withColumnRenamed("fid", "key"))
    return aud.select(F.col("key").alias("doc_id"),
                      F.round("area", 6).alias("area"),
                      F.round("perimeter", 6).alias("perimeter")) \
        .orderBy("doc_id")


# ---------------------------------------------------------------------------
# Round-6: polygon x polygon intersects join under the gate
# ---------------------------------------------------------------------------

_INTERSECTS_SQL = """
WITH p AS (
  SELECT doc_id,
         -19.95 + CAST((doc_id * 13) % 400 AS DOUBLE) / 10.0 AS lon,
         -19.95 + CAST((doc_id * 7) % 400 AS DOUBLE) / 10.0 AS lat
  FROM documents
),
z AS (
  SELECT CAST(t.i AS BIGINT) AS a_id,
         -15.0 + t.i * 6.0 AS cx,
         -10.0 + (t.i % 3) * 8.0 AS cy,
         2.47 + t.i * 0.4 AS r
  FROM range(6) t(i)
)
SELECT z.a_id, p.doc_id AS b_id
FROM z, p
WHERE abs(p.lon - z.cx) + abs(p.lat - z.cy) < z.r + 1.137
ORDER BY a_id, b_id
"""


@query("spatial_join_intersects", "pipeline",
       "geo analytics: polygon x polygon INTERSECTS join — both "
       "sides fan to bbox tiles, one tile-hash shuffle, owner-tile "
       "exactly-once, vertex-containment + edge-crossing exact test; "
       "L1-ball Minkowski closed form as the oracle",
       _INTERSECTS_SQL)
def spatial_join_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six big diamonds x one small diamond per document.  Two L1
    balls intersect exactly when the L1 distance of their centers is
    below the radius sum (Minkowski sum of homothetic convex bodies),
    which the oracle states directly; the Spark side runs the REAL
    polygon machinery — tile fan-out both sides, owner-tile
    exactly-once rule, ray-cast containment + proper edge crossings.
    The 1.137 small radius keeps every radius sum off the
    0.05-quantized center-distance lattice, so no pair merely
    touches (1.13 landed a pair exactly ON the boundary).
    """
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)

    import pandas as pd
    from collections.abc import Iterator

    def build_b(it: "Iterator[pd.DataFrame]"):
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                cx = -19.95 + ((did * 13) % 400) / 10.0
                cy = -19.95 + ((did * 7) % 400) / 10.0
                r = 1.137
                ring = [(cx + r, cy), (cx, cy + r), (cx - r, cy),
                        (cx, cy - r), (cx + r, cy)]
                rows.append((did, G.wkb_polygon([ring])))
            yield pd.DataFrame(rows, columns=["b_id", "geometry"])

    b = t.documents.select("doc_id").mapInPandas(
        build_b, "b_id long, geometry binary")
    polys = []
    for pid in range(6):
        cx, cy = -15.0 + pid * 6.0, -10.0 + (pid % 3) * 8.0
        r = 2.47 + pid * 0.4
        ring = [(cx + r, cy), (cx, cy + r), (cx - r, cy),
                (cx, cy - r), (cx + r, cy)]
        polys.append((pid, G.wkb_polygon([ring])))
    a = local_df(spark, polys, "a_id long, geometry binary")
    return (SP.polygons_intersect_join(a, b, zoom=5)
            .orderBy("a_id", "b_id"))


# ---------------------------------------------------------------------------
# Round-6 continuation: two-layer overlay intersection geometry
# ---------------------------------------------------------------------------

_OVERLAY_SQL = """
WITH a AS (
  SELECT CAST(t.i AS BIGINT) AS a_id,
         -18.0 + (t.i % 4) * 9.0 AS ax0,
         -12.0 + (t.i // 4) * 9.0 AS ay0,
         8.0 AS aw, 8.0 AS ah
  FROM range(12) t(i)
),
b AS (
  SELECT CAST(t.i AS BIGINT) AS b_id,
         -19.75 + t.i * 4.25 AS bx0,
         -14.5 + t.i * 3.75 AS by0,
         CAST(CASE t.i % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 16 END
              AS DOUBLE) AS bw,
         CAST(CASE t.i % 3 WHEN 0 THEN 4 WHEN 1 THEN 16 ELSE 2 END
              AS DOUBLE) AS bh
  FROM range(10) t(i)
)
SELECT a_id, b_id,
       (least(ax0 + aw, bx0 + bw) - greatest(ax0, bx0))
       * (least(ay0 + ah, by0 + bh) - greatest(ay0, by0)) AS area,
       CAST(1 AS BIGINT) AS n_rings
FROM a, b
WHERE least(ax0 + aw, bx0 + bw) > greatest(ax0, bx0)
  AND least(ay0 + ah, by0 + bh) > greatest(ay0, by0)
ORDER BY a_id, b_id
"""


@query("geo_overlay_intersection", "pipeline",
       "geo analytics: two-layer overlay INTERSECTION geometry — "
       "both layers fan to bbox tiles, one tile-hash shuffle, "
       "owner-tile exactly-once, Greiner-Hormann intersect walk + "
       "containment fallback + hole subtraction; interval-overlap "
       "product as the oracle", _OVERLAY_SQL)
def geo_overlay_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twelve 8x8 A-rectangles x ten B-rectangles (2/4/16-degree
    power-of-two sizes on quarter-degree anchors, so every crossing
    coordinate t = (c - x0)/w and every shoelace product is exactly
    representable — the Spark shoelace area and the oracle's
    interval-overlap product are bit-identical).  16 proper-crossing
    pairs (incl. full-span 4-crossing central bands) + 1 containment
    pair; layer constants verified tangency-free (no shared edge
    coordinate between layers).  The REAL operator runs the full
    distributed plan: tile fan-out both sides, owner-tile
    exactly-once clip, node-split intersection walk.

    Scale: candidates are bbox-localized per tile, never |A| x |B|;
    the clip cost is per-pair output complexity.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)

    def build(which: str):
        def k(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "a":
                        x0 = -18.0 + (i % 4) * 9.0
                        y0 = -12.0 + (i // 4) * 9.0
                        w = h = 8.0
                    else:
                        x0 = -19.75 + i * 4.25
                        y0 = -14.5 + i * 3.75
                        w = [2.0, 4.0, 16.0][i % 3]
                        h = [4.0, 16.0, 2.0][i % 3]
                    ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h),
                            (x0, y0 + h), (x0, y0)]
                    rows.append((i, G.wkb_polygon([ring])))
                yield pd.DataFrame(rows, columns=["pid", "geometry"])
        return k

    a = spark.range(12).select(F.col("id")).mapInPandas(
        build("a"), "pid long, geometry binary").select(
        F.col("pid").alias("a_id"), "geometry")
    b = spark.range(10).select(F.col("id")).mapInPandas(
        build("b"), "pid long, geometry binary").select(
        F.col("pid").alias("b_id"), "geometry")
    out = OV.overlay_intersection(a, b, zoom=5)
    return (out.filter(~F.col("degenerate"))
            .select("a_id", "b_id", "area", "n_rings")
            .orderBy("a_id", "b_id"))


_RECLASS_SQL = """
WITH px AS (
  SELECT CAST(5 * r.i + 3 * c.i + (r.i * c.i) % 7 AS DOUBLE) AS v
  FROM range(128) r(i), range(128) c(i)
)
SELECT CASE WHEN v < 100 THEN 0.0 WHEN v < 300 THEN 1.0
            WHEN v < 600 THEN 2.0 WHEN v < 900 THEN 3.0
            ELSE 4.0 END AS cls,
       COUNT(*) AS n_px
FROM px GROUP BY 1 ORDER BY cls
"""


@query("raster_reclassify", "pipeline",
       "geo analytics: raster reclassification — value ranges to "
       "class codes as a pure-Catalyst when-ladder inside "
       "transform() over the pixel arrays (zero Python per pixel, "
       "zero shuffle), audited by per-class pixel counts",
       _RECLASS_SQL)
def raster_reclassify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reclassify the shared 128x128 DEM (integer values 0..1022)
    into five classes with breaks 100/300/600/900, then count pixels
    per class.  The class ladder runs entirely inside whole-stage
    codegen (``F.transform`` + chained ``when``); the only shuffle
    is the audit's 5-group count.

    Scale: reclassification is the map-side-only raster op — at
    100 TB it pipelines with the scan, and the audit aggregate is
    partial (5 groups however many blocks).
    """
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, _ = _demo_dem_blocks(spark)
    out = R.reclassify(blocks, [100.0, 300.0, 600.0, 900.0],
                       [0.0, 1.0, 2.0, 3.0, 4.0])
    return (out.select(F.explode("pixels").alias("cls"))
            .groupBy("cls").agg(F.count("*").alias("n_px"))
            .orderBy("cls"))


_FOCAL_MEAN_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         CAST(5 * r.i + 3 * c.i + (r.i * c.i) % 7 AS DOUBLE) AS v
  FROM range(128) r(i), range(128) c(i)
)
SELECT CAST(a.row AS INTEGER) AS row, CAST(a.col AS INTEGER) AS col,
       round((nw.v + n.v + ne.v + w.v + a.v + e.v + sw.v + s.v
              + se.v) / 9.0, 4) AS fmean
FROM px a
JOIN px nw ON nw.row = a.row - 1 AND nw.col = a.col - 1
JOIN px n  ON n.row  = a.row - 1 AND n.col  = a.col
JOIN px ne ON ne.row = a.row - 1 AND ne.col = a.col + 1
JOIN px w  ON w.row  = a.row     AND w.col  = a.col - 1
JOIN px e  ON e.row  = a.row     AND e.col  = a.col + 1
JOIN px sw ON sw.row = a.row + 1 AND sw.col = a.col - 1
JOIN px s  ON s.row  = a.row + 1 AND s.col  = a.col
JOIN px se ON se.row = a.row + 1 AND se.col = a.col + 1
ORDER BY row, col
"""


@query("raster_focal_mean", "pipeline",
       "geo analytics: generic 3x3 focal statistics (mean) on the "
       "shared halo-exchange stencil — 1-px strips to the 8 "
       "neighbor groups, one grid-key shuffle; whole-raster 8-way "
       "self-join as the oracle", _FOCAL_MEAN_SQL)
def raster_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal mean over the same 2x2-block DEM as the Horn terrain
    gates — seam pixels only come out right if every neighbor strip
    arrived, which the oracle's whole-raster self-join checks.  The
    integer DEM keeps the 9-value sum exact, so Spark's
    sum-of-views / 9.0 and the oracle's quotient are the same double
    before the gate's 4-decimal round.

    Scale: the focal family (mean/sum/min/max/range) shares the
    terrain trio's halo plan — edge strips, never a 9x whole-block
    regroup.
    """
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, b = _demo_dem_blocks(spark)
    return _flatten_pixels(R.focal_stats(blocks, "mean"), b, "fmean")


_PROXIMITY_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         CAST(5 * r.i + 3 * c.i + (r.i * c.i) % 7 AS BIGINT) AS v
  FROM range(128) r(i), range(128) c(i)
),
t AS (SELECT row, col FROM px WHERE v % 97 = 0)
SELECT CAST(a.row AS INTEGER) AS row, CAST(a.col AS INTEGER) AS col,
       round(min(sqrt(CAST((a.row - t.row) * (a.row - t.row)
                           + (a.col - t.col) * (a.col - t.col)
                           AS DOUBLE))), 4) AS dist
FROM px a
JOIN t ON t.row BETWEEN a.row - 4 AND a.row + 4
      AND t.col BETWEEN a.col - 4 AND a.col + 4
WHERE (a.row - t.row) * (a.row - t.row)
      + (a.col - t.col) * (a.col - t.col) <= 16
GROUP BY a.row, a.col
ORDER BY row, col
"""


@query("raster_proximity", "pipeline",
       "geo analytics: bounded-radius proximity (gdal_proximity "
       "analog) — R-wide halo strips to the 8 neighbor groups, one "
       "grid-key shuffle, vectorized offset-min exact Euclidean "
       "distance; bounded self-join min as the oracle",
       _PROXIMITY_SQL)
def raster_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance to the nearest multiple-of-97 DEM cell within 4
    cells, over the shared 2x2-block DEM — seam pixels only come out
    right if the 4-wide halo strips arrived from every neighbor,
    which the oracle's whole-raster bounded join checks.  sqrt of an
    integer is correctly rounded in both engines, so values are
    bit-identical before the gate's 4-decimal round.

    Scale: the bounded radius IS the scale contract — R-wide strips
    (~R/BLOCK of pixel volume) instead of an unbounded multi-round
    transform; see ``operators/raster.proximity``.
    """
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, b = _demo_dem_blocks(spark)
    targets = [float(v) for v in range(0, 1023, 97)]
    return _flatten_pixels(
        R.proximity(blocks, targets, max_dist=4), b, "dist")


_HEXBIN_SQL = """
WITH p AS (
  SELECT doc_id,
         -19.95 + CAST((doc_id * 13) % 400 AS DOUBLE) / 10.0 AS lon,
         -19.95 + CAST((doc_id * 7) % 400 AS DOUBLE) / 10.0 AS lat
  FROM documents
),
h AS (
  SELECT doc_id,
         (2.0 / 3.0) * lon / 3.25 AS qf,
         (-1.0 / 3.0) * lon / 3.25
           + (sqrt(3.0) / 3.0) * lat / 3.25 AS rf
  FROM p
),
c AS (
  SELECT doc_id, qf, rf,
         floor(qf + 0.5) AS rq, floor(rf + 0.5) AS rr,
         floor(-qf - rf + 0.5) AS rs
  FROM h
),
d AS (
  SELECT doc_id, rq, rr, rs,
         abs(rq - qf) AS dq, abs(rr - rf) AS dr,
         abs(rs - (-qf - rf)) AS ds
  FROM c
),
cells AS (
  SELECT doc_id,
         CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - rs
                   ELSE rq END AS BIGINT) AS hex_q,
         CAST(CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds
                   THEN -rq - rs ELSE rr END AS BIGINT) AS hex_r
  FROM d
)
SELECT hex_q, hex_r, count(*) AS n_points,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM cells GROUP BY hex_q, hex_r ORDER BY hex_q, hex_r
"""


@query("tile_hexbin", "pipeline",
       "geo analytics: hexagonal binning — closed-form axial cell "
       "assignment with cube rounding, pure Catalyst, one "
       "partial-aggregated shuffle; the identical arithmetic as the "
       "oracle's SQL", _HEXBIN_SQL)
def tile_hexbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-bin the documents point lattice into flat-top hexagons of
    3.25-degree circumradius (the H3-style density aggregation).
    Cell assignment is ``functions/tiles.hex_cols`` — fractional
    axial coords + cube rounding entirely inside whole-stage
    codegen, mirrored step-for-step by the oracle SQL (floor(v+0.5)
    on both sides, so even boundary points land identically).

    Scale: the same shape as ``tile_aggregation`` — map-side
    assignment, ONE hash shuffle with partial aggregation on the
    (hex_q, hex_r) key.
    """
    from geohub_data_pipeline_spark.functions import tiles as TL

    t = load_tables(spark, sf_dir)
    pts = t.documents.select(
        "doc_id",
        (-19.95 + ((F.col("doc_id") * 13) % 400).cast("double")
         / 10.0).alias("lon"),
        (-19.95 + ((F.col("doc_id") * 7) % 400).cast("double")
         / 10.0).alias("lat"))
    keyed = pts.select(
        "doc_id", *TL.hex_cols(F.col("lon"), F.col("lat"), 3.25))
    return (keyed.groupBy("hex_q", "hex_r")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum("doc_id").alias("sum_ids"))
            .orderBy("hex_q", "hex_r"))


_CLIP_LINES_SQL = """
WITH l AS (
  SELECT CAST(t.i AS BIGINT) AS line_id,
         -19.875 + t.i * 1.75 AS x0,
         -14.125 + t.i * 1.25 AS y0
  FROM range(20) t(i)
),
a AS (
  SELECT CAST(t.i AS BIGINT) AS poly_id,
         -18.0 + (t.i % 4) * 9.0 AS ax0,
         -12.0 + (t.i // 4) * 9.0 AS ay0
  FROM range(12) t(i)
),
c AS (
  SELECT line_id, poly_id, x0, y0,
         greatest((ax0 - x0) / 8.0, (ay0 - y0) / 8.0, 0.0) AS tin,
         least((ax0 + 8.0 - x0) / 8.0, (ay0 + 8.0 - y0) / 8.0,
               1.0) AS tout
  FROM l, a
)
SELECT line_id, poly_id,
       round(sqrt(((x0 + tout * 8.0) - (x0 + tin * 8.0))
                  * ((x0 + tout * 8.0) - (x0 + tin * 8.0))
                  + ((y0 + tout * 8.0) - (y0 + tin * 8.0))
                  * ((y0 + tout * 8.0) - (y0 + tin * 8.0))), 4)
         AS length,
       CAST(1 AS BIGINT) AS n_parts
FROM c WHERE tout > tin
ORDER BY line_id, poly_id
"""


@query("geo_clip_lines_join", "pipeline",
       "geo analytics: line x polygon CLIP join — per-pair clipped "
       "length via crossing-split + even-odd midpoint test, "
       "owner-tile exactly-once; parametric slab clip as the oracle",
       _CLIP_LINES_SQL)
def geo_clip_lines_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twenty diagonal 8x8-degree segments x the twelve 8x8
    A-rectangles (eighth-degree anchors chosen tangency-free; 44
    intersecting pairs).  The REAL operator splits each segment at
    its proper crossings with the polygon linework and keeps
    sub-segments by even-odd midpoint test; the oracle states the
    diagonal-through-rectangle clip as the parametric slab entry/
    exit form.  Crossing coordinates are exact (power-of-two segment
    extent over eighth anchors), so both sides feed sqrt the same
    double.

    Scale: the ``overlay_intersection`` plan — bbox-tile fan both
    sides, one tile-hash shuffle, exactly-once owner tile.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)

    def build_lines(it: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                x0 = -19.875 + i * 1.75
                y0 = -14.125 + i * 1.25
                rows.append((i, G.wkb_linestring(
                    [(x0, y0), (x0 + 8.0, y0 + 8.0)])))
            yield pd.DataFrame(rows, columns=["line_id", "geometry"])

    def build_rects(it: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                x0 = -18.0 + (i % 4) * 9.0
                y0 = -12.0 + (i // 4) * 9.0
                ring = [(x0, y0), (x0 + 8.0, y0), (x0 + 8.0, y0 + 8.0),
                        (x0, y0 + 8.0), (x0, y0)]
                rows.append((i, G.wkb_polygon([ring])))
            yield pd.DataFrame(rows, columns=["poly_id", "geometry"])

    lines = spark.range(20).mapInPandas(
        build_lines, "line_id long, geometry binary")
    rects = spark.range(12).mapInPandas(
        build_rects, "poly_id long, geometry binary")
    out = OV.clip_lines_to_polygons(lines, rects, zoom=5)
    return (out.filter(~F.col("degenerate"))
            .select("line_id", "poly_id",
                    F.round("length", 4).alias("length"), "n_parts")
            .orderBy("line_id", "poly_id"))


_ERASE_SQL = """
WITH a AS (
  SELECT CAST(t.i AS BIGINT) AS a_id,
         -18.0 + (t.i % 4) * 9.0 AS ax0,
         -12.0 + (t.i // 4) * 9.0 AS ay0
  FROM range(12) t(i)
),
b AS (
  SELECT CASE WHEN t.i < 12
              THEN -18.0 + (t.i % 4) * 9.0 + 2.25
              ELSE -16.25 + (t.i - 12) * 9.0 END AS bx0,
         CASE WHEN t.i < 12
              THEN -12.0 + (t.i // 4) * 9.0 + 2.75
              ELSE -4.75 END AS by0,
         CASE WHEN t.i < 12 THEN 4.0 ELSE 2.0 END AS bw,
         CASE WHEN t.i < 12 THEN 2.0 ELSE 4.0 END AS bh
  FROM range(16) t(i)
),
cut AS (
  SELECT a_id,
         sum((least(ax0 + 8.0, bx0 + bw) - greatest(ax0, bx0))
             * (least(ay0 + 8.0, by0 + bh) - greatest(ay0, by0)))
           AS cut
  FROM a, b
  WHERE least(ax0 + 8.0, bx0 + bw) > greatest(ax0, bx0)
    AND least(ay0 + 8.0, by0 + bh) > greatest(ay0, by0)
  GROUP BY a_id
)
SELECT a.a_id, 64.0 - COALESCE(cut.cut, 0.0) AS area,
       CAST(2 AS BIGINT) AS n_rings
FROM a LEFT JOIN cut USING (a_id)
ORDER BY a_id
"""


@query("geo_overlay_erase", "pipeline",
       "geo analytics: two-layer overlay ERASE — each left feature "
       "minus every right feature it meets; bbox-tile candidates, "
       "owner-tile dedup, one groupBy(a_id) sequential G-H "
       "difference; disjoint-B inclusion-exclusion as the oracle",
       _ERASE_SQL)
def geo_overlay_erase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Twelve 8x8 A-rectangles minus sixteen mutually-disjoint B
    rectangles: one fully-enclosed B per A (must survive as a real
    hole ring) plus four B spanning the row gap (each renodes TWO
    A shells as an edge notch), all on quarter anchors verified
    tangency-free — so erased area is exactly 64 minus the summed
    interval-overlap products the oracle states, and every A ends
    with n_rings = 2 (notched shell + hole).

    Scale: candidates are bbox-localized; the per-A subtraction
    group is bounded by the B features actually hitting that A.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)

    def build(which: str):
        def k(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for i in pdf["id"]:
                    i = int(i)
                    if which == "a":
                        x0 = -18.0 + (i % 4) * 9.0
                        y0 = -12.0 + (i // 4) * 9.0
                        w = h = 8.0
                    elif i < 12:
                        x0 = -18.0 + (i % 4) * 9.0 + 2.25
                        y0 = -12.0 + (i // 4) * 9.0 + 2.75
                        w, h = 4.0, 2.0
                    else:
                        x0 = -16.25 + (i - 12) * 9.0
                        y0 = -4.75
                        w, h = 2.0, 4.0
                    ring = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h),
                            (x0, y0 + h), (x0, y0)]
                    rows.append((i, G.wkb_polygon([ring])))
                yield pd.DataFrame(rows, columns=["pid", "geometry"])
        return k

    a = spark.range(12).mapInPandas(
        build("a"), "pid long, geometry binary").select(
        F.col("pid").alias("a_id"), "geometry")
    b = spark.range(16).mapInPandas(
        build("b"), "pid long, geometry binary").select(
        F.col("pid").alias("b_id"), "geometry")
    out = OV.overlay_erase(a, b, zoom=5)
    return (out.filter(~F.col("degenerate"))
            .select("a_id", "area", "n_rings")
            .orderBy("a_id"))


_RESAMPLE_SQL = """
WITH s AS (
  SELECT i_.i AS ii, j_.i AS jj,
         ((2.0625 + (j_.i + 0.5) * 0.375) - 0.0) / 0.25 - 0.5 AS cs,
         (32.0 - (29.9375 - (i_.i + 0.5) * 0.375)) / 0.25 - 0.5
           AS rs
  FROM range(60) i_(i), range(80) j_(i)
)
SELECT CAST(ii AS INTEGER) AS row, CAST(jj AS INTEGER) AS col,
       round(5.0 * rs + 3.0 * cs + rs * cs, 4) AS v
FROM s
WHERE cs >= 0 AND cs < 127 AND rs >= 0 AND rs < 127
ORDER BY row, col
"""


@query("raster_resample_bilinear", "pipeline",
       "geo analytics: bilinear regrid to an arbitrary target grid "
       "(gdalwarp -tr analog) — source blocks fan with a 1-px "
       "stencil margin, one target-block shuffle, vectorized "
       "4-neighbor gather; closed-form bilinear surface as the "
       "oracle", _RESAMPLE_SQL)
def raster_resample_bilinear(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Resample a 128x128 quarter-degree DEM whose values are the
    BILINEAR surface v = 5r + 3c + r*c onto an offset 3/8-degree
    80x60 grid.  Bilinear interpolation reproduces a bilinear
    function exactly, and every sample coordinate/weight here is an
    exact binary fraction, so the distributed 4-neighbor gather and
    the oracle's closed form produce bit-identical doubles.  Target
    pixels whose 2x2 stencil leaves the source emit NaN and drop on
    both sides.  Seam coverage: target blocks needing pixels from
    several source blocks only come out right if the 1-px-margin
    fan delivered every piece.

    Scale: the warp plan — constant fan-out, one shuffle on the
    target block key, numpy gather per block.
    """
    import numpy as np
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract

    n, b = 128, 64
    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rr = np.arange(n)[:, None]
        cc = np.arange(n)[None, :]
        arr = 5.0 * rr + 3.0 * cc + rr * cc
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                by, bx = divmod(i, 2)
                tile = arr[by * b:(by + 1) * b, bx * b:(bx + 1) * b]
                rows.append(("dem", None, 1, 0, bx, by, b, b,
                             tile.ravel().tolist(), None, 4326))
            yield pd.DataFrame(rows, columns=[
                "dataset", "subdataset", "band", "level", "block_x",
                "block_y", "width", "height", "pixels", "nodata",
                "srid"])

    blocks = spark.range(4).mapInPandas(build, R.BLOCK_SCHEMA)
    georef = local_df(spark, 
        [("dem", 0.0, 32.0, 0.25, 0.25, 4326)],
        "dataset string, origin_x double, origin_y double, "
        "pixel_sx double, pixel_sy double, georef_srid int")
    out = R.resample_bilinear(
        blocks, georef, 2.0625, 29.9375, 0.375, 0.375, 80, 60,
        block=64, src_block=64)
    return _flatten_pixels(out, 64, "v")


_ZONAL_HIST_SQL = """
WITH px AS (
  SELECT CAST((7 * r.i + c.i) % 1000 AS DOUBLE) AS v,
         -15.0 + (c.i + 0.5) * 0.1 AS lon,
         15.0 - (r.i + 0.5) * 0.1 AS lat
  FROM range(300) r(i), range(300) c(i)
),
z AS (
  SELECT CAST(t.i AS BIGINT) AS poly_id,
         -15.0 + t.i * 6.0 AS cx,
         -10.0 + (t.i % 3) * 8.0 AS cy,
         2.47 + t.i * 0.4 AS r
  FROM range(6) t(i)
)
SELECT z.poly_id,
       CASE WHEN px.v < 200 THEN 0.0 WHEN px.v < 400 THEN 1.0
            WHEN px.v < 600 THEN 2.0 WHEN px.v < 800 THEN 3.0
            ELSE 4.0 END AS cls,
       CAST(count(*) AS BIGINT) AS n_pixels
FROM px, z
WHERE abs(px.lon - z.cx) + abs(px.lat - z.cy) < z.r
GROUP BY z.poly_id, cls
ORDER BY poly_id, cls
"""


@query("zonal_histogram", "pipeline",
       "geo analytics: zonal histogram / majority — reclassify "
       "composed with per-(polygon, class) partial counts over the "
       "BLOCK grid; one candidate shuffle, per-class partials only",
       _ZONAL_HIST_SQL)
def zonal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land-cover-style class composition per zone: the zonal_stats
    raster reclassified into five 200-wide classes (via the REAL
    ``raster.reclassify`` Catalyst ladder — this gate also pins the
    operator composition), then per-(diamond, class) pixel counts
    through ``spatial.zonal_histogram``.  The majority class is the
    argmax row per polygon; the oracle states the CASE ladder and
    the diamond L1 test over the pixel-center lattice.

    Scale: pixels never shuffle — per-block per-class partial counts
    (bounded by the class count) are all that cross the wire.
    """
    import numpy as np

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.operators.raster import BLOCK
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # keep the harness contract
    n = 300
    arr = (7 * np.arange(n)[:, None] + np.arange(n)[None, :]) % 1000
    rows = []
    for by in range(0, n, BLOCK):
        for bx in range(0, n, BLOCK):
            tile = arr[by:by + BLOCK, bx:bx + BLOCK]
            rows.append(("dem", None, 1, 0, bx // BLOCK, by // BLOCK,
                         int(tile.shape[1]), int(tile.shape[0]),
                         [float(v) for v in tile.ravel()], None,
                         4326))
    blocks = local_df(spark, 
        rows, "dataset string, subdataset string, band int, "
              "level int, block_x int, block_y int, width int, "
              "height int, pixels array<double>, nodata double, "
              "srid int")
    georef = local_df(spark, 
        [("dem", -15.0, 15.0, 0.1, 0.1, 4326)],
        "dataset string, origin_x double, origin_y double, "
        "pixel_sx double, pixel_sy double, georef_srid int")
    polys = []
    for pid in range(6):
        cx, cy = -15.0 + pid * 6.0, -10.0 + (pid % 3) * 8.0
        r = 2.47 + pid * 0.4
        ring = [(cx + r, cy), (cx, cy + r), (cx - r, cy),
                (cx, cy - r), (cx + r, cy)]
        polys.append((pid, G.wkb_polygon([ring])))
    zones = local_df(spark, polys, "poly_id long, "
                                         "geometry binary")
    classed = R.reclassify(
        blocks, [200.0, 400.0, 600.0, 800.0],
        [0.0, 1.0, 2.0, 3.0, 4.0])
    return (SP.zonal_histogram(classed, georef, zones)
            .select("poly_id", F.col("value").alias("cls"),
                    "n_pixels")
            .orderBy("poly_id", "cls"))


_POINT_SAMPLE_SQL = """
WITH pts AS (
  -- every literal cast: DuckDB parses 0.1 as DECIMAL (exact
  -- arithmetic) while Spark computes IEEE doubles
  SELECT c_custkey AS point_id,
         CAST(-15.0 AS DOUBLE)
           + ((c_custkey * 13) % 295) * CAST(0.1 AS DOUBLE)
           + CAST(0.03 AS DOUBLE) AS x,
         CAST(15.0 AS DOUBLE)
           - (((c_custkey * 7) % 293) * CAST(0.1 AS DOUBLE)
              + CAST(0.04 AS DOUBLE)) AS y
  FROM customer
),
c AS (
  SELECT point_id,
         CAST(floor((x - (-15.0)) / 0.1 - 0.5) AS BIGINT) AS c0,
         CAST(floor((15.0 - y) / 0.1 - 0.5) AS BIGINT) AS r0,
         ((x - (-15.0)) / 0.1 - 0.5)
           - floor((x - (-15.0)) / 0.1 - 0.5) AS wx,
         ((15.0 - y) / 0.1 - 0.5)
           - floor((15.0 - y) / 0.1 - 0.5) AS wy
  FROM pts
)
SELECT point_id, CAST(NULL AS VARCHAR) AS subdataset,
       CAST(1 AS INTEGER) AS band,
       CASE WHEN c0 >= 0 AND r0 >= 0 AND c0 + 1 < 300
                 AND r0 + 1 < 300 THEN
         (1.0 - wy) * ((1.0 - wx) * CAST((7*r0 + c0) % 1000 AS DOUBLE)
                   + wx * CAST((7*r0 + c0 + 1) % 1000 AS DOUBLE))
         + wy * ((1.0 - wx) * CAST((7*(r0+1) + c0) % 1000 AS DOUBLE)
                   + wx * CAST((7*(r0+1) + c0 + 1) % 1000 AS DOUBLE))
       END AS value
FROM c
ORDER BY point_id
"""


@query("raster_point_sample", "pipeline",
       "geo analytics: bilinear raster sampling at points — pure "
       "Catalyst (corner explode + one block equi-join + "
       "element_at gather), no Python per point", _POINT_SAMPLE_SQL)
def raster_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elevation-under-every-point over the synthetic 300x300
    formula raster ((7 row + col) % 1000, 0.1-degree grid): points
    derive deterministically from customer keys, the Spark side runs
    the REAL operator (raster.sample_at_points — corner explode,
    one (dataset, block) equi-join, element_at gather, fixed-order
    blend), the oracle states the same bilinear blend in closed
    form over the pixel formula.

    Scale: pixels ship once (the join shuffle); the blend is
    whole-stage codegen; no pixel array ever rides the output.
    """
    import numpy as np

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.operators.raster import BLOCK

    t = load_tables(spark, sf_dir)
    n = 300
    arr = (7 * np.arange(n)[:, None] + np.arange(n)[None, :]) % 1000
    rows = []
    for by in range(0, n, BLOCK):
        for bx in range(0, n, BLOCK):
            tile = arr[by:by + BLOCK, bx:bx + BLOCK]
            rows.append(("dem", None, 1, 0, bx // BLOCK, by // BLOCK,
                         int(tile.shape[1]), int(tile.shape[0]),
                         [float(v) for v in tile.ravel()], None, 4326))
    blocks = local_df(spark, 
        rows, "dataset string, subdataset string, band int, "
              "level int, block_x int, block_y int, width int, "
              "height int, pixels array<double>, nodata double, "
              "srid int")
    georef = local_df(spark, 
        [("dem", -15.0, 15.0, 0.1, 0.1, 4326)],
        "dataset string, origin_x double, origin_y double, "
        "pixel_sx double, pixel_sy double, georef_srid int")
    pts = t.customer.select(
        F.col("c_custkey").alias("point_id"),
        F.lit("dem").alias("dataset"),
        (F.lit(-15.0) + ((F.col("c_custkey") * 13) % 295) * F.lit(0.1)
         + F.lit(0.03)).alias("x"),
        (F.lit(15.0) - (((F.col("c_custkey") * 7) % 293) * F.lit(0.1)
                        + F.lit(0.04))).alias("y"))
    return (R.sample_at_points(blocks, georef, pts)
            .orderBy("point_id"))


_CURV_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         CAST(5 * r.i + 3 * c.i + (r.i * c.i) % 7 AS DOUBLE) AS v
  FROM range(128) r(i), range(128) c(i)
)
SELECT CAST(a.row AS INTEGER) AS row, CAST(a.col AS INTEGER) AS col,
       round(-2.0 * (((w.v + e.v) / 2.0 - a.v)
                     + ((n.v + s.v) / 2.0 - a.v)) * 100.0
             + 0.0, 4) AS curv
FROM px a
JOIN px n ON n.row = a.row - 1 AND n.col = a.col
JOIN px s ON s.row = a.row + 1 AND s.col = a.col
JOIN px w ON w.row = a.row AND w.col = a.col - 1
JOIN px e ON e.row = a.row AND e.col = a.col + 1
WHERE a.row BETWEEN 1 AND 126 AND a.col BETWEEN 1 AND 126
ORDER BY row, col
"""


@query("raster_curvature", "pipeline",
       "geo analytics: Zevenbergen-Thorne standard curvature — "
       "fourth member of the terrain family on the same 1-px halo "
       "exchange; second differences per block, one grid shuffle",
       _CURV_SQL)
def raster_curvature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard (ZT) curvature over the shared synthetic 2x2-block
    DEM: the (row*col)%7 texture makes the second derivative
    nonzero and block-seam pixels prove the halo exchange (the
    standard kernel reads the 4-neighbor cross; the oracle is the
    whole-raster 4-way self-join of the same second difference).
    Interior restricted to the full-3x3 window both sides — the
    operator NaNs any border canvas, the oracle bounds rows/cols."""
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, b = _demo_dem_blocks(spark)
    return _flatten_pixels(R.curvature(blocks, cellsize=1.0), b,
                           "curv")


_RASTERIZE_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         -15.0 + (c.i + 0.5) * 0.1 AS lon,
         15.0 - (r.i + 0.5) * 0.1 AS lat
  FROM range(300) r(i), range(300) c(i)
),
z AS (
  SELECT CAST(t.i AS BIGINT) AS poly_id,
         -10.0 + t.i * 3.0 AS cx,
         -5.0 + (t.i % 2) * 2.0 AS cy,
         2.47 + t.i * 0.4 AS r
  FROM range(5) t(i)
)
SELECT CAST(px.row AS INTEGER) AS row,
       CAST(px.col AS INTEGER) AS col,
       CAST(max(z.poly_id) * 10 + 5 AS DOUBLE) AS burn
FROM px JOIN z
  ON abs(px.lon - z.cx) + abs(px.lat - z.cy) < z.r
GROUP BY px.row, px.col
ORDER BY row, col
"""


@query("vector_rasterize", "pipeline",
       "geo analytics: vector->raster burn (gdal_rasterize analog, "
       "the inverse of polygonize) — polygons fan to their bbox "
       "blocks, one hash shuffle, vectorized per-block paint; "
       "overlaps resolve deterministically (highest id wins)",
       _RASTERIZE_SQL)
def vector_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five OVERLAPPING diamonds burned onto a 300x300 0.1-degree
    grid (burn = poly_id*10+5, so the oracle's max-id rule is
    visible in the value): the Spark side runs the real operator
    (sparse BLOCK_SCHEMA output, highest-id-wins painting), the
    oracle states pixel-center containment with the diamond's L1
    inequality and takes the max id per pixel.  Unpainted pixels
    are absent both sides (sparse raster contract).

    Scale: paint cost is per-(polygon, block) candidate; pixels
    never shuffle — blocks materialize where the paint lands.
    """
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    polys = []
    for pid in range(5):
        cx, cy = -10.0 + pid * 3.0, -5.0 + (pid % 2) * 2.0
        r = 2.47 + pid * 0.4
        ring = [(cx + r, cy), (cx, cy + r), (cx - r, cy),
                (cx, cy - r), (cx + r, cy)]
        polys.append((pid, G.wkb_polygon([ring]),
                      float(pid * 10 + 5)))
    polygons = local_df(spark, 
        polys, "poly_id long, geometry binary, burn double")
    blocks = SP.rasterize(polygons, -15.0, 15.0, 0.1, 0.1,
                          300, 300, burn_col="burn")
    return _flatten_pixels(blocks, 256, "burn")


_COST_DIST_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col
  FROM range(128) r(i), range(128) c(i)
),
s(sr, sc) AS (VALUES (40, 60), (100, 10))
SELECT CAST(px.row AS INTEGER) AS row,
       CAST(px.col AS INTEGER) AS col,
       round(CAST(min(abs(px.row - s.sr) + abs(px.col - s.sc))
                  AS DOUBLE), 4) AS dist
FROM px, s
GROUP BY px.row, px.col
ORDER BY row, col
"""


@query("raster_cost_distance", "pipeline",
       "geo analytics: ITERATIVE cost-distance — block-synchronous "
       "Bellman-Ford, each round ships only the 1-px dist halo and "
       "the driver loops on one aggregated boolean; rounds = path "
       "length in blocks, never O(pixels)", _COST_DIST_SQL)
def raster_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost distance from two sources over a uniform unit-cost
    128x128 / 2x2-block grid, 4-connected — the accumulated cost is
    then exactly the Manhattan distance to the nearest source, which
    the oracle states in closed form (integer-exact doubles).  The
    wavefront must cross every block boundary to fill the far
    corners: the per-round halo exchange and the driver's
    fixpoint loop are precisely what the oracle verifies.  The
    8-connected weighted/obstacle form is pytest-checked against a
    reference Dijkstra (test_cost_distance_vs_dijkstra)."""
    import numpy as np

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    n, b = 128, 64
    rows = []
    for by in range(0, n, b):
        for bx in range(0, n, b):
            rows.append(("d", None, 1, 0, bx // b, by // b, b, b,
                         [1.0] * (b * b), None, 4326))
    blocks = local_df(spark, 
        rows, "dataset string, subdataset string, band int, "
              "level int, block_x int, block_y int, width int, "
              "height int, pixels array<double>, nodata double, "
              "srid int")
    sources = local_df(spark, [(40, 60), (100, 10)],
                                    "row long, col long")
    out = R.cost_distance(blocks, sources, diagonal=False, block=b)
    return _flatten_pixels(out, b, "dist")


_FLOWDIR_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         CAST(5 * r.i + 3 * c.i + (r.i * c.i) % 7 AS DOUBLE) AS v
  FROM range(128) r(i), range(128) c(i)
),
d AS (
  SELECT a.row, a.col,
         (a.v - e.v)  / 1.0       AS de,
         (a.v - se.v) / sqrt(2.0) AS dse,
         (a.v - s.v)  / 1.0       AS ds,
         (a.v - sw.v) / sqrt(2.0) AS dsw,
         (a.v - w.v)  / 1.0       AS dw,
         (a.v - nw.v) / sqrt(2.0) AS dnw,
         (a.v - n.v)  / 1.0       AS dn,
         (a.v - ne.v) / sqrt(2.0) AS dne
  FROM px a
  JOIN px nw ON nw.row = a.row - 1 AND nw.col = a.col - 1
  JOIN px n  ON n.row  = a.row - 1 AND n.col  = a.col
  JOIN px ne ON ne.row = a.row - 1 AND ne.col = a.col + 1
  JOIN px w  ON w.row  = a.row     AND w.col  = a.col - 1
  JOIN px e  ON e.row  = a.row     AND e.col  = a.col + 1
  JOIN px sw ON sw.row = a.row + 1 AND sw.col = a.col - 1
  JOIN px s  ON s.row  = a.row + 1 AND s.col  = a.col
  JOIN px se ON se.row = a.row + 1 AND se.col = a.col + 1
)
SELECT CAST(row AS INTEGER) AS row, CAST(col AS INTEGER) AS col,
       CASE
         WHEN greatest(de, dse, ds, dsw, dw, dnw, dn, dne) <= 0
           THEN 0.0
         WHEN de  = greatest(de, dse, ds, dsw, dw, dnw, dn, dne)
           THEN 1.0
         WHEN dse = greatest(de, dse, ds, dsw, dw, dnw, dn, dne)
           THEN 2.0
         WHEN ds  = greatest(de, dse, ds, dsw, dw, dnw, dn, dne)
           THEN 4.0
         WHEN dsw = greatest(de, dse, ds, dsw, dw, dnw, dn, dne)
           THEN 8.0
         WHEN dw  = greatest(de, dse, ds, dsw, dw, dnw, dn, dne)
           THEN 16.0
         WHEN dnw = greatest(de, dse, ds, dsw, dw, dnw, dn, dne)
           THEN 32.0
         WHEN dn  = greatest(de, dse, ds, dsw, dw, dnw, dn, dne)
           THEN 64.0
         ELSE 128.0
       END AS dir
FROM d
ORDER BY row, col
"""


@query("raster_flow_direction", "pipeline",
       "geo analytics: D8 flow direction — steepest-drop stencil on "
       "the shared 1-px halo exchange; deterministic tie-break in "
       "code order", _FLOWDIR_SQL)
def raster_flow_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 codes over the shared synthetic 2x2-block DEM: the
    (row*col)%7 texture makes every direction appear, block-seam
    cells prove the halo, and the oracle restates steepest-drop with
    the same priority CASE the operator's argmax stack order
    encodes.  Border cells are complete-window NaN both sides."""
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    blocks, b = _demo_dem_blocks(spark)
    return _flatten_pixels(R.flow_direction(blocks, border="nan"),
                           b, "dir")


_FLOWACC_SQL = """
SELECT CAST(r.i AS INTEGER) AS row, CAST(c.i AS INTEGER) AS col,
       CAST(c.i + 1 AS DOUBLE) AS acc
FROM range(128) r(i), range(128) c(i)
ORDER BY row, col
"""


@query("raster_flow_accumulation", "pipeline",
       "geo analytics: ITERATIVE D8 flow accumulation — the "
       "cost-distance pattern on the flow DAG: per-round (dir, acc) "
       "halo strips, in-block fixpoint, driver loops on one boolean",
       _FLOWACC_SQL)
def raster_flow_accumulation(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Accumulation over an east-tilted plane (z = -col): every cell
    flows E, so drainage through (r, c) is exactly c+1 — a closed
    form the 128-cell-long chains must cross BOTH block borders to
    reach, which is what the per-round halo exchange proves.
    Converging/diagonal flow is pytest-checked against a topological
    reference (test_flow_direction_and_accumulation)."""
    import numpy as np

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    n, b = 128, 64
    arr = np.tile(-np.arange(n, dtype=float), (n, 1))
    rows = []
    for by in range(0, n, b):
        for bx in range(0, n, b):
            t = arr[by:by + b, bx:bx + b]
            rows.append(("d", None, 1, 0, bx // b, by // b, b, b,
                         [float(v) for v in t.ravel()], None, 4326))
    blocks = local_df(spark, 
        rows, "dataset string, subdataset string, band int, "
              "level int, block_x int, block_y int, width int, "
              "height int, pixels array<double>, nodata double, "
              "srid int")
    dirs = R.flow_direction(blocks, border="clamp")
    return _flatten_pixels(R.flow_accumulation(dirs, block=b), b,
                           "acc")


_EQUALIZE_SQL = """
WITH px AS (
  SELECT r.i AS row, c.i AS col,
         CAST((7 * r.i + c.i) % 1000 AS DOUBLE) AS v
  FROM range(300) r(i), range(300) c(i)
),
hist AS (
  SELECT v, count(*) AS n FROM px GROUP BY v
),
cdf AS (
  SELECT v,
         CAST(floor(CAST(sum(n) OVER (ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / sum(n) OVER () * 255) AS DOUBLE) AS eq
  FROM hist
)
SELECT CAST(px.row AS INTEGER) AS row, CAST(px.col AS INTEGER) AS col,
       cdf.eq AS eq
FROM px JOIN cdf ON px.v = cdf.v
ORDER BY row, col
"""


@query("raster_equalize", "pipeline",
       "geo analytics: histogram equalization — the global-stats-"
       "then-map-side-apply pattern: per-block np.unique partials, "
       "one (value,count) shuffle, bounded LUT back to every block",
       _EQUALIZE_SQL)
def raster_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrast stretch over the 300x300 formula raster: pixel ->
    floor(global-cdf * 255).  The cdf is a ratio of exact longs so
    the mapping is bit-stable; the oracle restates it as a SQL
    window over the distinct-value histogram.  Pixels never
    shuffle — only (value, count) partials do, and the bounded
    value->level table rides the task closure back."""
    import numpy as np

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.operators.raster import BLOCK
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    n = 300
    arr = (7 * np.arange(n)[:, None] + np.arange(n)[None, :]) % 1000
    rows = []
    for by in range(0, n, BLOCK):
        for bx in range(0, n, BLOCK):
            tile = arr[by:by + BLOCK, bx:bx + BLOCK]
            rows.append(("dem", None, 1, 0, bx // BLOCK, by // BLOCK,
                         int(tile.shape[1]), int(tile.shape[0]),
                         [float(v) for v in tile.ravel()], None,
                         4326))
    blocks = local_df(spark, 
        rows, "dataset string, subdataset string, band int, "
              "level int, block_x int, block_y int, width int, "
              "height int, pixels array<double>, nodata double, "
              "srid int")
    return _flatten_pixels(R.equalize(blocks), BLOCK, "eq")


_TILE_DIFF_SQL = f"""
WITH pts AS ({_TILE_MATH_SQL}),
keyed AS ({_TILE_XY_SQL}),
old AS (
  SELECT z, x, y,
         CAST(count(*) AS BIGINT) AS n,
         md5(string_agg(CAST(event_id AS VARCHAR), ','
                        ORDER BY event_id)) AS sig
  FROM keyed WHERE event_id % 3 <> 0 GROUP BY z, x, y
),
new AS (
  SELECT z, x, y,
         CAST(count(*) AS BIGINT) AS n,
         md5(string_agg(CAST(event_id AS VARCHAR), ','
                        ORDER BY event_id)) AS sig
  FROM keyed WHERE event_id % 2 <> 0 GROUP BY z, x, y
)
SELECT COALESCE(old.z, new.z) AS z,
       COALESCE(old.x, new.x) AS x,
       COALESCE(old.y, new.y) AS y,
       CASE WHEN old.z IS NULL THEN 'added'
            WHEN new.z IS NULL THEN 'removed'
            WHEN old.sig <> new.sig THEN 'changed'
            ELSE 'unchanged' END AS status,
       COALESCE(old.n, 0) AS old_n, COALESCE(new.n, 0) AS new_n
FROM old FULL OUTER JOIN new
  ON old.z = new.z AND old.x = new.x AND old.y = new.y
ORDER BY z, x, y
"""


@query("tile_diff", "pipeline",
       "§2.2 T8/T17 tile-set diff — the incremental re-publish "
       "planner: two snapshot tile aggregations, one full-outer "
       "join on the tile key, content-hash change detection",
       _TILE_DIFF_SQL)
def tile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two tile-set snapshots (deterministic overlapping event
    subsets): which z/x/y tiles a re-publish must add, remove, or
    regenerate — the planning step before an incremental PMTiles
    update, with md5-of-members change detection so a tile only
    regenerates when its content actually moved.

    Scale: each side is one partial-aggregated groupBy on the tile
    key; the diff is one equi-join of TILE summaries (never
    features); AQE handles the skewed-popular-tile case.
    """
    from geohub_data_pipeline_spark.functions import tiles as TL

    t = load_tables(spark, sf_dir)
    pts = t.events.select(
        "event_id",
        (F.lit(2) + F.col("event_id") % 5).cast("int").alias("z"),
        ((F.col("event_id") % 360).cast("double") - 180.0 + 0.25)
        .alias("lon"),
        (((F.col("user_id") * 11) % 160).cast("double") - 80.0 + 0.5)
        .alias("lat"),
    ).select("event_id",
             *TL.tile_cols(F.col("lon"), F.col("lat"), F.col("z")))

    def snap(cond):
        return (pts.filter(cond).groupBy("z", "x", "y").agg(
            F.count("*").cast("long").alias("n"),
            F.md5(F.array_join(
                F.transform(F.sort_array(F.collect_list("event_id")),
                            lambda v: v.cast("string")), ","))
            .alias("sig")))

    old = snap(F.col("event_id") % 3 != 0)
    new = snap(F.col("event_id") % 2 != 0)
    o = old.select(F.col("z").alias("oz"), F.col("x").alias("ox"),
                   F.col("y").alias("oy"), F.col("n").alias("on"),
                   F.col("sig").alias("osig"))
    nw = new.select(F.col("z").alias("nz"), F.col("x").alias("nx"),
                    F.col("y").alias("ny"), F.col("n").alias("nn"),
                    F.col("sig").alias("nsig"))
    j = o.join(nw, (F.col("oz") == F.col("nz"))
               & (F.col("ox") == F.col("nx"))
               & (F.col("oy") == F.col("ny")), "full_outer")
    return (j.select(
        F.coalesce("oz", "nz").alias("z"),
        F.coalesce("ox", "nx").alias("x"),
        F.coalesce("oy", "ny").alias("y"),
        F.when(F.col("oz").isNull(), "added")
        .when(F.col("nz").isNull(), "removed")
        .when(F.col("osig") != F.col("nsig"), "changed")
        .otherwise("unchanged").alias("status"),
        F.coalesce("on", F.lit(0)).alias("old_n"),
        F.coalesce("nn", F.lit(0)).alias("new_n"))
        .orderBy("z", "x", "y"))


_LINE_MERGE_SQL = """
WITH seg AS (
  SELECT event_id,
         CAST(event_id % 40 AS BIGINT) AS chain,
         sqrt(CAST(0.01 AS DOUBLE) * CAST(0.01 AS DOUBLE)
              + CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE))
           AS seg_len
  FROM events WHERE event_id < 2000
)
SELECT chain AS chain_id,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(CAST(seg_len AS DECIMAL(30,12)))
                  AS DOUBLE), 6) AS length,
       false AS branched,
       CAST(0 AS BIGINT) AS n_rejected
FROM seg GROUP BY chain
ORDER BY chain_id
"""


@query("geo_line_merge", "pipeline",
       "geo analytics: line merge (weld touching segments into "
       "chains) — endpoint-keyed groupBy to star edges, hash-to-min "
       "connected components, per-chain DECIMAL-exact aggregation",
       _LINE_MERGE_SQL)
def geo_line_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forty segment chains generated from events (chain = id % 40,
    consecutive positions share an exact endpoint; segments arrive
    shuffled across partitions), welded back by merge_lines.  The
    operator must DISCOVER connectivity from vertex-identical
    endpoints; the oracle knows the generating chain and states the
    closed-form part counts and lengths.  chain_id = min line id of
    the component = the residue itself (ids are dense from 0).

    Scale: one endpoint shuffle bounded by junction degree, CC
    rounds ~ log of chain length, per-chain aggregation only."""
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    ids = t.events.select("event_id").filter(
        F.col("event_id") < 2000).distinct()

    def mk(it):
        import pandas as pd
        for pdf in it:
            rows = []
            for eid in pdf["event_id"]:
                eid = int(eid)
                c = eid % 40
                p = eid // 40
                x0 = c * 2.0 + p * 0.01
                y0 = (c * 7 % 11) * 1.0 + p * 0.02
                x1 = c * 2.0 + (p + 1) * 0.01
                y1 = (c * 7 % 11) * 1.0 + (p + 1) * 0.02
                rows.append((eid, G.wkb_linestring(
                    [(x0, y0), (x1, y1)])))
            yield pd.DataFrame(rows, columns=["line_id", "geometry"])

    lines = ids.mapInPandas(mk, "line_id long, geometry binary")
    out = OV.merge_lines(lines)
    return out.select("chain_id", "n_parts",
                      F.round("length", 6).alias("length"),
                      "branched", "n_rejected").orderBy("chain_id")


_THUMBNAIL_SQL = """
WITH img AS (
  SELECT doc_id,
         CAST(4 + doc_id % 8 AS INTEGER) AS w,
         CAST(2 + doc_id % 4 AS INTEGER) AS h
  FROM documents WHERE doc_id % 3 = 0
),
dims AS (
  SELECT doc_id, w, h, greatest(w, h) AS mx,
         greatest(1, (w * 4) // greatest(w, h)) AS tw,
         greatest(1, (h * 4) // greatest(w, h)) AS th
  FROM img
),
px AS (
  SELECT d.doc_id, d.w, d.h, d.tw, d.th,
         ((((j.i * d.w) // d.tw) * 31
           + ((i.i * d.h) // d.th) * 17) % 251) AS v
  FROM dims d
  CROSS JOIN range(16) i(i) CROSS JOIN range(16) j(i)
  WHERE i.i < d.th AND j.i < d.tw
)
SELECT doc_id, TRUE AS ok,
       CAST(max(w) AS INTEGER) AS width,
       CAST(max(h) AS INTEGER) AS height,
       CAST(max(tw) AS INTEGER) AS thumb_w,
       CAST(max(th) AS INTEGER) AS thumb_h,
       CAST(sum(v) AS DOUBLE) / (max(tw) * max(th)) AS pixel_mean
FROM px GROUP BY doc_id
ORDER BY doc_id
"""


@query("multimodal_thumbnail", "pipeline",
       "north star: multimodal RESIZE — real PNG decode (all five "
       "spec filters), integer nearest resample, real PNG re-encode; "
       "map-side Arrow batches, payload bytes never shuffle",
       _THUMBNAIL_SQL)
def multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail every image document (the multimodal pipeline's
    resize stage): GENUINE PNG bytes per row, decoded by the real
    defilter, nearest-resampled with integer rules the oracle states
    in closed form from the generator formula, re-encoded as real
    PNGs whose exact pixel mean the compare verifies — a broken
    encoder, defilter, resampler, or re-encoder all fail the gate."""
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import multimodal as MM
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id").filter(
        F.col("doc_id") % 3 == 0)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rows.append((did, "image", MM.encode_png_gray(
                    4 + did % 8, 2 + did % 4), "docs"))
            yield pd.DataFrame(rows, columns=[
                "media_id", "media_type", "payload", "source"])

    media = base.mapInPandas(gen, MM.MEDIA_SCHEMA)
    return (MM.thumbnail_media(media, max_side=4)
            .select(F.col("media_id").alias("doc_id"), "ok",
                    "width", "height", "thumb_w", "thumb_h",
                    "pixel_mean")
            .orderBy("doc_id"))


_CENTROID_SQL = """
WITH f AS (
  SELECT c_custkey AS fid,
         CAST((c_custkey * 13) % 200 - 100 AS DOUBLE) + 0.5 AS ox,
         CAST((c_custkey * 7) % 160 - 80 AS DOUBLE) + 0.5 AS oy
  FROM customer
),
u(i, dx, dy) AS (VALUES
  (0, CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)),
  (1, sqrt(2.0) / 2, sqrt(2.0) / 2),
  (2, CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)),
  (3, -sqrt(2.0) / 2, sqrt(2.0) / 2),
  (4, CAST(-1 AS DOUBLE), CAST(0 AS DOUBLE)),
  (5, -sqrt(2.0) / 2, -sqrt(2.0) / 2),
  (6, CAST(0 AS DOUBLE), CAST(-1 AS DOUBLE)),
  (7, sqrt(2.0) / 2, -sqrt(2.0) / 2)),
v AS (
  SELECT f.fid, u.i,
         f.ox + (1.0 + CAST((f.fid + u.i * 3) % 5 AS DOUBLE) * 0.2)
              * u.dx AS x,
         f.oy + (1.0 + CAST((f.fid + u.i * 3) % 5 AS DOUBLE) * 0.2)
              * u.dy AS y
  FROM f CROSS JOIN u
),
e AS (
  SELECT a.fid, a.x AS x0, a.y AS y0, b.x AS x1, b.y AS y1
  FROM v a JOIN v b
    ON a.fid = b.fid AND b.i = (a.i + 1) % 8
)
SELECT fid,
       round(sum((x0 + x1) * (x0 * y1 - x1 * y0))
             / (3.0 * sum(x0 * y1 - x1 * y0)), 6) AS cx,
       round(sum((y0 + y1) * (x0 * y1 - x1 * y0))
             / (3.0 * sum(x0 * y1 - x1 * y0)), 6) AS cy,
       round(sum(x0 * y1 - x1 * y0) / 2.0, 6) AS area
FROM e GROUP BY fid
ORDER BY fid
"""


@query("vector_centroid", "pipeline",
       "geo analytics: planar area-weighted centroid + signed area "
       "per feature — map-side shoelace over WKB, no shuffle",
       _CENTROID_SQL)
def vector_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid/area enrichment over irregular octagons built
    deterministically from customer keys (varying per-vertex radii,
    so centroids are NOT the centers): the Spark side parses real
    WKB and runs the ring shoelace with hole-aware winding; the
    oracle restates the same moments over the generating vertices.
    Rounded to 6 decimals — the aggregation ORDER differs between a
    numpy sequential sum and SQL's unordered SUM."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import spatial as SP
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    s = float(np.sqrt(2.0)) / 2.0
    UNIT = [(1.0, 0.0), (s, s), (0.0, 1.0), (-s, s),
            (-1.0, 0.0), (-s, -s), (0.0, -1.0), (s, -s)]

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for k in pdf["c_custkey"]:
                k = int(k)
                ox = float((k * 13) % 200 - 100) + 0.5
                oy = float((k * 7) % 160 - 80) + 0.5
                ring = []
                for i, (dx, dy) in enumerate(UNIT):
                    r = 1.0 + float((k + i * 3) % 5) * 0.2
                    ring.append((ox + r * dx, oy + r * dy))
                ring.append(ring[0])
                rows.append((k, G.wkb_polygon([ring])))
            yield pd.DataFrame(rows, columns=["fid", "geometry"])

    feats = t.customer.select("c_custkey").mapInPandas(
        gen, "fid long, geometry binary")
    out = SP.centroid_features(feats)
    return (out.select("fid", F.round("cx", 6).alias("cx"),
                       F.round("cy", 6).alias("cy"),
                       F.round("area", 6).alias("area"))
            .orderBy("fid"))


# ---------------------------------------------------------------------------
# §2.3 sinks under the oracle gate (r7 brief #6): write each artifact
# format through its DISTRIBUTED sink, read it back through the
# engine's own reader, and project per-feature values the oracle
# states in closed form — the fgb_source pattern, lifted from
# byte-level codecs to the (dataset, layer)-grouped table sinks.
# ---------------------------------------------------------------------------

def _sink_feature_rows(spark: SparkSession, sf_dir: str,
                       int_props: bool = False) -> DataFrame:
    """Deterministic FEATURE_SCHEMA workload from ``documents``:
    point geometry + properties in closed form of doc_id.
    ``int_props=True`` swaps the double property for an integer one
    (dBASE renders numerics as fixed-width text; integers round-trip
    bit-exactly without depending on its decimal policy)."""
    import json
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                x = float(did % 360) - 180.0 + 0.25
                y = float((did * 7) % 170) - 85.0 + 0.5
                props = {"name": f"d{did}"}
                if int_props:
                    props["pop"] = did * 3
                else:
                    props["v"] = did * 0.5
                rows.append((f"ds{did % 3}", f"l{did % 2}", did,
                             G.wkb_point(x, y), 4326, None,
                             json.dumps(props, sort_keys=True,
                                        separators=(",", ":"))))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry", "srid",
                "crs_wkt", "properties"])

    return t.documents.select("doc_id").mapInPandas(
        gen, "dataset string, layer string, fid long, "
             "geometry binary, srid int, crs_wkt string, "
             "properties string")


def _sink_project(back: DataFrame, fid_from_props: bool = False,
                  split_layer: bool = False,
                  int_props: bool = False) -> DataFrame:
    """Shared read-back projection: parse the point from WKB, the
    properties from JSON, optionally recover the original fid from
    properties (shapefile renumbers records 1..n) and split the
    percent-encoded ``<dataset>_<layer>`` artifact stem."""
    import json
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G

    vcol = "pop" if int_props else "v"

    def proj(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                p = G.parse_wkb(bytes(r.geometry))
                xy = (p.get("coords") or
                      (p.get("parts") or [[None, None]])[0])
                pr = json.loads(r.properties)
                fid = int(pr["fid"]) if fid_from_props else int(r.fid)
                if split_layer:
                    ds, ly = str(r.layer).split("_", 1)
                else:
                    ds = str(r.dataset).rsplit(".", 1)[0]
                    ly = str(r.layer)
                rows.append((fid, ds, ly, float(xy[0]), float(xy[1]),
                             float(pr[vcol]), str(pr["name"])))
            yield pd.DataFrame(rows, columns=[
                "fid", "dataset", "layer", "x", "y", vcol, "name"])

    return back.mapInPandas(
        proj, f"fid long, dataset string, layer string, x double, "
              f"y double, {vcol} double, name string").orderBy("fid")


def _sink_sql(int_props: bool = False) -> str:
    vexpr = ("CAST(doc_id * 3 AS DOUBLE) AS pop" if int_props
             else "CAST(doc_id AS DOUBLE) * 0.5 AS v")
    return f"""
SELECT CAST(doc_id AS BIGINT) AS fid,
       'ds' || CAST(doc_id % 3 AS VARCHAR) AS dataset,
       'l' || CAST(doc_id % 2 AS VARCHAR) AS layer,
       CAST(doc_id % 360 AS DOUBLE) - 180.0 + 0.25 AS x,
       CAST((doc_id * 7) % 170 AS DOUBLE) - 85.0 + 0.5 AS y,
       {vexpr},
       'd' || CAST(doc_id AS VARCHAR) AS name
FROM documents
ORDER BY fid
"""


@query("gpkg_sink", "pipeline",
       "§2.3 sink gate: distributed GeoPackage sink -> engine gpkg "
       "reader round-trip (sources/geopackage.py write_gpkg_tables; "
       "the reference ships artifacts per dataset the same way — "
       "ref ingest/processing.py dataset2fgb analog)", _sink_sql())
def gpkg_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write one .gpkg per dataset (two layers each, typed
    attributes, per-layer srids) with the DISTRIBUTED sink, read the
    directory back through features_from_gpkg, and project fid /
    layer / point coords / attributes — sqlite schema, gpkg blob
    header, and attribute typing all sit under the value hash."""
    import tempfile

    from geohub_data_pipeline_spark.sources.geopackage import (
        features_from_gpkg, write_gpkg_tables)

    feats = _sink_feature_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gpkg_sink_")
    write_gpkg_tables(feats, tmp).collect()       # bounded manifest
    return _sink_project(features_from_gpkg(spark, tmp))


@query("shapefile_sink", "pipeline",
       "§2.3 sink gate: distributed Shapefile sink (.shp/.shx/.dbf/"
       ".prj) -> shapefile_feature_rows round-trip "
       "(sources/shapefile.py)", _sink_sql(int_props=True))
def shapefile_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write one shapefile trio per (dataset, layer), read the loose
    sidecar set back through the archive-member reader (pairing .shp
    with .dbf/.prj), and recover the ORIGINAL fid from the dBASE
    attributes (shapefile records renumber 1..n — the sink stores
    fid as a field for exactly this reason)."""
    import tempfile

    from geohub_data_pipeline_spark.sources.shapefile import (
        shapefile_feature_rows, write_shapefile_tables)

    feats = _sink_feature_rows(spark, sf_dir, int_props=True)
    tmp = tempfile.mkdtemp(prefix="shp_sink_")
    write_shapefile_tables(feats, tmp).collect()  # bounded manifest
    raw = (spark.read.format("binaryFile").load(tmp)
           .select(F.lit(tmp).alias("archive_path"),
                   F.element_at(F.split("path", "/"), -1)
                   .alias("member"), "content"))
    back = shapefile_feature_rows(raw)
    return _sink_project(back, fid_from_props=True, split_layer=True,
                         int_props=True)


@query("geojsonseq_sink", "pipeline",
       "§2.3 sink gate: distributed newline-delimited GeoJSON sink "
       "-> features_from_geojsonseq round-trip "
       "(sources/geojsonseq.py)", _sink_sql())
def geojsonseq_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write one .geojsonl per (dataset, layer), read the directory
    back through the line reader (fid from the Feature id, RFC 7946
    geometry, properties JSON) — double coordinates survive via
    shortest-repr JSON text."""
    import tempfile

    from geohub_data_pipeline_spark.sources.geojsonseq import (
        features_from_geojsonseq, write_geojsonseq_tables)

    feats = _sink_feature_rows(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gjs_sink_")
    write_geojsonseq_tables(feats, tmp).collect()  # bounded manifest
    return _sink_project(features_from_geojsonseq(spark, tmp),
                         split_layer=True)


_MBTILES_SINK_SQL = """
SELECT 'ds' || CAST(doc_id % 3 AS VARCHAR) AS dataset,
       CAST(13 AS INTEGER) AS z,
       CAST(doc_id % 8192 AS INTEGER) AS x,
       CAST((doc_id * 7) % 8192 AS INTEGER) AS y,
       md5('pl' || CAST(doc_id AS VARCHAR)) AS payload_md5
FROM documents
ORDER BY dataset, x, y
"""


@query("mbtiles_sink", "pipeline",
       "§2.3 sink gate: distributed MBTiles sink -> "
       "tiles_from_mbtiles round-trip incl. the XYZ<->TMS row flip "
       "(operators/mbtiles.py; .mbtiles is in the reference's "
       "accepted upload list, ref ingest/config.py registry)",
       _MBTILES_SINK_SQL)
def mbtiles_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write one .mbtiles per dataset from a deterministic tile set,
    read the directory back through the sqlite scan, and hash each
    payload — the unique (z, x, y) index, TMS flip, and metadata
    parse all sit under the value hash."""
    import tempfile
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators.mbtiles import (
        tiles_from_mbtiles, write_mbtiles_tables)
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rows.append((f"ds{did % 3}", 13, did % 8192,
                             (did * 7) % 8192,
                             f"pl{did}".encode("ascii")))
            yield pd.DataFrame(rows, columns=[
                "dataset", "z", "x", "y", "payload"])

    tiles = t.documents.select("doc_id").mapInPandas(
        gen, "dataset string, z int, x int, y int, payload binary")
    tmp = tempfile.mkdtemp(prefix="mbt_sink_")
    write_mbtiles_tables(tiles, tmp).collect()     # bounded manifest
    back = tiles_from_mbtiles(spark, tmp)
    return (back.select(
        F.regexp_replace("dataset", r"\.mbtiles$", "").alias("dataset"),
        "z", "x", "y", F.md5("payload").alias("payload_md5"))
        .orderBy("dataset", "x", "y"))


# ---------------------------------------------------------------------------
# T7 round 7: WKT2 (ISO 19162) + PROJJSON + BOUNDCRS resolution
# ---------------------------------------------------------------------------

_CRS_WKT2_SQL = """
SELECT doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'wkt2_tm' WHEN 1 THEN 'wkt2_lcc2'
            WHEN 2 THEN 'projjson_tm' ELSE 'boundcrs_tm' END AS family,
       round(CASE doc_id % 4
            WHEN 0 THEN 9.0 + (doc_id % 60) * 0.2
            WHEN 1 THEN -4.0 + (doc_id % 80) * 0.1
            WHEN 2 THEN 9.0 + (doc_id % 60) * 0.2
            ELSE -6.0 + (doc_id % 70) * 0.1 END, 4) AS lon_rt,
       round(CASE doc_id % 4
            WHEN 0 THEN 30.0 + ((doc_id * 3) % 80) * 0.5
            WHEN 1 THEN 42.2 + ((doc_id * 3) % 80) * 0.1
            WHEN 2 THEN 30.0 + ((doc_id * 3) % 80) * 0.5
            ELSE 50.0 + ((doc_id * 3) % 90) * 0.1 END, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""

_WKT2_BANK = [
    # WKT2 PROJCRS with a datum ENSEMBLE (== EPSG:32633)
    'PROJCRS["WGS 84 / UTM zone 33N",'
    'BASEGEOGCRS["WGS 84",ENSEMBLE["WGS 84 ensemble",MEMBER["t"],'
    'ELLIPSOID["WGS 84",6378137,298.257223563,LENGTHUNIT["metre",1]],'
    'ENSEMBLEACCURACY[2.0]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],'
    'CONVERSION["UTM zone 33N",'
    'METHOD["Transverse Mercator",ID["EPSG",9807]],'
    'PARAMETER["Latitude of natural origin",0,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Longitude of natural origin",15,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Scale factor at natural origin",0.9996,'
    'SCALEUNIT["unity",1]],'
    'PARAMETER["False easting",500000,LENGTHUNIT["metre",1]],'
    'PARAMETER["False northing",0,LENGTHUNIT["metre",1]]],'
    'CS[Cartesian,2],AXIS["(E)",east,ORDER[1],'
    'LENGTHUNIT["metre",1]],AXIS["(N)",north,ORDER[2],'
    'LENGTHUNIT["metre",1]],ID["EPSG",32633]]',
    # WKT2 LCC 2SP with EPSG spelled-out parameter names (== 2154)
    'PROJCRS["RGF93 v1 / Lambert-93",'
    'BASEGEOGCRS["RGF93 v1",DATUM["Reseau Geodesique Francais 1993",'
    'ELLIPSOID["GRS 1980",6378137,298.257222101,'
    'LENGTHUNIT["metre",1]]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],'
    'CONVERSION["Lambert-93",'
    'METHOD["Lambert Conic Conformal (2SP)",ID["EPSG",9802]],'
    'PARAMETER["Latitude of false origin",46.5,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Longitude of false origin",3,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Latitude of 1st standard parallel",49,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Latitude of 2nd standard parallel",44,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Easting at false origin",700000,'
    'LENGTHUNIT["metre",1]],'
    'PARAMETER["Northing at false origin",6600000,'
    'LENGTHUNIT["metre",1]]],'
    'CS[Cartesian,2],AXIS["(X)",east,ORDER[1],'
    'LENGTHUNIT["metre",1]],AXIS["(Y)",north,ORDER[2],'
    'LENGTHUNIT["metre",1]]]',
    # PROJJSON ProjectedCRS WITHOUT an EPSG id (GeoParquet crs form)
    '{"type":"ProjectedCRS","name":"no-id UTM 33N",'
    '"base_crs":{"type":"GeographicCRS","name":"WGS 84",'
    '"datum_ensemble":{"name":"e","ellipsoid":{"name":"WGS 84",'
    '"semi_major_axis":6378137,'
    '"inverse_flattening":298.257223563}}},'
    '"conversion":{"name":"c",'
    '"method":{"name":"Transverse Mercator"},"parameters":['
    '{"name":"Latitude of natural origin","value":0,'
    '"unit":"degree"},'
    '{"name":"Longitude of natural origin","value":15,'
    '"unit":"degree"},'
    '{"name":"Scale factor at natural origin","value":0.9996,'
    '"unit":"unity"},'
    '{"name":"False easting","value":500000,"unit":"metre"},'
    '{"name":"False northing","value":0,"unit":"metre"}]},'
    '"coordinate_system":{"subtype":"Cartesian","axis":['
    '{"name":"E","direction":"east","unit":"metre"}]}}',
    # BOUNDCRS: OSGB 27700 with an abridged Helmert transformation
    'BOUNDCRS[SOURCECRS[PROJCRS["OSGB36 / British National Grid",'
    'BASEGEOGCRS["OSGB36",'
    'DATUM["Ordnance Survey of Great Britain 1936",'
    'ELLIPSOID["Airy 1830",6377563.396,299.3249646,'
    'LENGTHUNIT["metre",1]]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],'
    'CONVERSION["British National Grid",'
    'METHOD["Transverse Mercator",ID["EPSG",9807]],'
    'PARAMETER["Latitude of natural origin",49,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Longitude of natural origin",-2,'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'PARAMETER["Scale factor at natural origin",0.9996012717,'
    'SCALEUNIT["unity",1]],'
    'PARAMETER["False easting",400000,LENGTHUNIT["metre",1]],'
    'PARAMETER["False northing",-100000,LENGTHUNIT["metre",1]]],'
    'CS[Cartesian,2],AXIS["(E)",east,ORDER[1],'
    'LENGTHUNIT["metre",1]],AXIS["(N)",north,ORDER[2],'
    'LENGTHUNIT["metre",1]]]],'
    'TARGETCRS[GEOGCRS["WGS 84",ENSEMBLE["WGS 84 ensemble",'
    'MEMBER["t"],ELLIPSOID["WGS 84",6378137,298.257223563,'
    'LENGTHUNIT["metre",1]],ENSEMBLEACCURACY[2.0]],'
    'PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]],'
    'CS[ellipsoidal,2],AXIS["latitude",north,ORDER[1],'
    'ANGLEUNIT["degree",0.0174532925199433]],'
    'AXIS["longitude",east,ORDER[2],'
    'ANGLEUNIT["degree",0.0174532925199433]]]],'
    'ABRIDGEDTRANSFORMATION["OSGB36 to WGS 84 (6)",'
    'METHOD["Position Vector transformation (geog2D domain)",'
    'ID["EPSG",9606]],'
    'PARAMETER["X-axis translation",446.448,ID["EPSG",8605]],'
    'PARAMETER["Y-axis translation",-125.157,ID["EPSG",8606]],'
    'PARAMETER["Z-axis translation",542.06,ID["EPSG",8607]],'
    'PARAMETER["X-axis rotation",0.15,ID["EPSG",8608]],'
    'PARAMETER["Y-axis rotation",0.247,ID["EPSG",8609]],'
    'PARAMETER["Z-axis rotation",0.842,ID["EPSG",8610]],'
    'PARAMETER["Scale difference",-20.489,ID["EPSG",8611]]]]',
]

_WKT2_FAMILY = ["wkt2_tm", "wkt2_lcc2", "projjson_tm", "boundcrs_tm"]


@query("crs_wkt2_roundtrip", "pipeline",
       "§2.2 T7 reprojection via embedded WKT2 (ISO 19162) / "
       "PROJJSON / BOUNDCRS (operators/crs_wkt.py r7): modern "
       "GeoPackage definition_12_063 and GeoParquet crs objects "
       "resolve closed-form without an EPSG table entry "
       "(ref resolves any SRS via PROJ, ingest/processing.py:142)",
       _CRS_WKT2_SQL)
def crs_wkt2_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward+inverse through four modern CRS encodings: WKT2
    PROJCRS with a datum ENSEMBLE, WKT2 LCC-2SP with EPSG spelled-out
    parameter names, PROJJSON without an EPSG id (the GeoParquet
    crs), and a BOUNDCRS carrying an abridged Helmert transformation.
    The oracle is the input formula (round-trip identity at 4
    decimals).

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle; the four transform pairs build once per batch
    iterator.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs_wkt as CW
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    lon_of = [
        lambda d: 9.0 + (d % 60) * 0.2,
        lambda d: -4.0 + (d % 80) * 0.1,
        lambda d: 9.0 + (d % 60) * 0.2,
        lambda d: -6.0 + (d % 70) * 0.1,
    ]
    lat_of = [
        lambda d: 30.0 + ((d * 3) % 80) * 0.5,
        lambda d: 42.2 + ((d * 3) % 80) * 0.1,
        lambda d: 30.0 + ((d * 3) % 80) * 0.5,
        lambda d: 50.0 + ((d * 3) % 90) * 0.1,
    ]

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = [CW.pair_from_wkt(w) for w in _WKT2_BANK]
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % 4
                lon, lat = lon_of[k](did), lat_of[k](did)
                fwd, inv = pairs[k]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, _WKT2_FAMILY[k],
                             round(lon2, 4) + 0.0,
                             round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "family", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, family string, lon_rt double, lat_rt double")


# ---------------------------------------------------------------------------
# S5n round 7: geometric border-weld for CLIPPED MVT archives
# ---------------------------------------------------------------------------

_WELD_SQL = """
SELECT CAST(doc_id AS BIGINT) AS fid,
       CAST(FLOOR((-170.2 + (doc_id % 72) * 4.2
                   + 10.5 + (doc_id % 4) * 5.625 + 180.0) / 22.5)
            - FLOOR((-170.2 + (doc_id % 72) * 4.2 + 180.0) / 22.5)
            + 1 AS INTEGER) AS n_fragments,
       CAST(0 AS INTEGER) AS n_open,
       round((10.5 + (doc_id % 4) * 5.625) * 10.25, 6) AS area
FROM documents
ORDER BY fid
"""


@query("mvt_border_weld", "pipeline",
       "§2.1 S5n extension: geometric border-weld re-ingest for "
       "THIRD-PARTY clipped MVT archives (operators/mvt.py "
       "weld_clipped_fragments r7) — border-cell fragment graph -> "
       "connected components -> coverage dissolve; the reference "
       "only passthroughs .pmtiles (ref ingest/ingest.py:246-247)",
       _WELD_SQL)
def mvt_border_weld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: a rectangle spanning 1-3 z=4 tile columns is
    CLIPPED at the vertical tile borders (the tippecanoe archive
    situation), the per-tile fragments run through the weld, and the
    oracle states fragment count (border-crossing arithmetic), a
    closed border audit (n_open = 0) and the EXACT dissolved area
    (dyadic width x height, so the shoelace over the stitched ring
    reproduces the product bit-stably at 6 decimals).
    """
    import json
    import math
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import mvt as MVT
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    z = 4
    n = 1 << z
    ty = 7                                 # lat band 0..21.94 deg

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                lon0 = -170.2 + (did % 72) * 4.2
                lon1 = lon0 + 10.5 + (did % 4) * 5.625
                lat0, lat1 = 5.25, 15.5
                for tx in range(n):
                    w = tx / n * 360.0 - 180.0
                    e = (tx + 1) / n * 360.0 - 180.0
                    cx0, cx1 = max(lon0, w), min(lon1, e)
                    if cx0 >= cx1:
                        continue
                    wkb = G.wkb_polygon([[
                        (cx0, lat0), (cx1, lat0), (cx1, lat1),
                        (cx0, lat1), (cx0, lat0)]])
                    props = json.dumps(
                        {"_z": z, "_x": tx, "_y": ty, "d": did},
                        sort_keys=True)
                    rows.append(("d", "l", did, wkb, 4326, None,
                                 props))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry", "srid",
                "crs_wkt", "properties"])

    frags = t.documents.select("doc_id").mapInPandas(
        gen, "dataset string, layer string, fid long, "
             "geometry binary, srid int, crs_wkt string, "
             "properties string")
    welded = MVT.weld_clipped_fragments(frags)

    def finish(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geohub_data_pipeline_spark.operators import spatial as SP
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                tot = 0.0
                for ring in SP._rings_of_wkb(bytes(r.geometry)):
                    tot += G._ring_area2(
                        [(float(x), float(y)) for x, y in ring]) / 2.0
                rows.append((int(r.fid), int(r.n_fragments),
                             int(r.n_open), round(tot, 6) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "fid", "n_fragments", "n_open", "area"])

    return welded.mapInPandas(
        finish, "fid long, n_fragments int, n_open int, area double"
    ).orderBy("fid")


# ---------------------------------------------------------------------------
# Geo analytics round 7: D8 watershed / basin labeling
# ---------------------------------------------------------------------------

_BASIN_SQL = """
SELECT CAST(r.i AS INTEGER) AS row, CAST(c.i AS INTEGER) AS col,
       CAST(127 * CAST(67108864 AS BIGINT)
            + CASE WHEN c.i >= 64 THEN 127 ELSE 0 END
            AS DOUBLE) AS basin
FROM range(128) r(i), range(128) c(i)
ORDER BY row, col
"""


@query("raster_basin_labels", "pipeline",
       "geo analytics: D8 watershed/basin labeling — pointer-doubling"
       " per block + 1-px label halo on the partitioning-preserving "
       "state store (fixpoint._halo_fixpoint, its third consumer after "
       "cost_distance/flow_accumulation)", _BASIN_SQL)
def raster_basin_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two drainage basins over a 128x128 / 2x2-block D8 field: the
    west half channels to the pit at (127, 0), the east half to
    (127, 127) — every chain crosses both block seams, so labels
    must flow upstream through the halo.  The oracle states the
    closed-form label (row*2^26 + col of the pit).
    """
    import numpy as np

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    n, b = 128, 64
    E, S, W_ = 1.0, 4.0, 16.0
    dirs = np.where(np.arange(n)[None, :] <= 63, W_, E) \
        * np.ones((n, 1))
    dirs[:, 0] = S
    dirs[:, n - 1] = S
    dirs[n - 1, 0] = 0.0
    dirs[n - 1, n - 1] = 0.0
    rows = []
    for by in range(0, n, b):
        for bx in range(0, n, b):
            t = dirs[by:by + b, bx:bx + b]
            rows.append(("d8", None, 1, 0, bx // b, by // b, b, b,
                         t.ravel().tolist(), None, 4326))
    blocks = local_df(spark, rows, R.BLOCK_SCHEMA)
    return _flatten_pixels(R.basin_labels(blocks, block=b), b,
                           "basin").orderBy("row", "col")


_CLUMP_SQL = """
SELECT CAST(r.i AS INTEGER) AS row, CAST(c.i AS INTEGER) AS col,
       CAST(CASE
         WHEN r.i BETWEEN 30 AND 37
           THEN 30 * CAST(67108864 AS BIGINT)
         WHEN r.i < 30 THEN 3 * CAST(FLOOR(c.i / 3) AS BIGINT)
         ELSE 38 * CAST(67108864 AS BIGINT)
              + 3 * CAST(FLOOR(c.i / 3) AS BIGINT)
       END AS DOUBLE) AS clump
FROM range(128) r(i), range(128) c(i)
ORDER BY row, col
"""


@query("raster_clump_labels", "pipeline",
       "geo analytics: clump/region labeling (GRASS r.clump / ESRI "
       "Region Group) — cached in-block union-find + 1-px label halo "
       "on the partitioning-preserving state store "
       "(fixpoint._halo_fixpoint, fourth consumer)", _CLUMP_SQL)
def raster_clump_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-value regions over a 128x128 / 2x2-block raster:
    3-wide alternating vertical stripes cut by a full-width band at
    rows 30-37 — the band merges across the vertical seam, the lower
    stripe halves merge across the horizontal seam, and every label
    is the closed-form minimum global id of its region."""
    import numpy as np

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    n, b = 128, 64
    val = ((np.arange(n)[None, :] // 3) % 2).astype(float) \
        * np.ones((n, 1))
    val[30:38, :] = 99.0
    rows = []
    for by in range(0, n, b):
        for bx in range(0, n, b):
            t = val[by:by + b, bx:bx + b]
            rows.append(("cl", None, 1, 0, bx // b, by // b, b, b,
                         t.ravel().tolist(), None, 4326))
    blocks = local_df(spark, rows, R.BLOCK_SCHEMA)
    return _flatten_pixels(R.clump_labels(blocks, block=b), b,
                           "clump").orderBy("row", "col")


_SIEVE_SQL = """
SELECT CAST(r.i AS INTEGER) AS row, CAST(c.i AS INTEGER) AS col,
       CAST(CASE WHEN r.i BETWEEN 30 AND 37 THEN 99.0
                 ELSE CAST(FLOOR(c.i / 3) AS BIGINT) % 2
            END AS DOUBLE) AS v
FROM range(128) r(i), range(128) c(i)
ORDER BY row, col
"""


@query("raster_sieve", "pipeline",
       "geo analytics: minimum-mapping-unit sieve (gdal_sieve "
       "analog) — clump labeling + per-label sizes + halo adjacency "
       "fan + largest-neighbor absorption, map-side rewrite",
       _SIEVE_SQL)
def raster_sieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three 2-px islands (value 50) planted inside stripes of the
    clump fixture — one straddling the vertical block seam — absorb
    into their surrounding stripe under min_size=5, so the sieved
    raster equals the closed-form base pattern exactly."""
    import numpy as np

    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    load_tables(spark, sf_dir)             # harness contract
    n, b = 128, 64
    val = ((np.arange(n)[None, :] // 3) % 2).astype(float) \
        * np.ones((n, 1))
    val[30:38, :] = 99.0
    for (r0, c0) in ((10, 10), (60, 64), (100, 118)):
        val[r0:r0 + 2, c0] = 50.0
    rows = []
    for by in range(0, n, b):
        for bx in range(0, n, b):
            t = val[by:by + b, bx:bx + b]
            rows.append(("sv", None, 1, 0, bx // b, by // b, b, b,
                         t.ravel().tolist(), None, 4326))
    blocks = local_df(spark, rows, R.BLOCK_SCHEMA)
    return _flatten_pixels(R.sieve_filter(blocks, min_size=5,
                                          block=b), b,
                           "v").orderBy("row", "col")


# ---------------------------------------------------------------------------
# Round 8: Z-order spatial clustering key
# ---------------------------------------------------------------------------

_ZORDER_SQL = """
WITH pts AS (
  SELECT event_id,
         (CAST(event_id % 360 AS DOUBLE) - 180.0) + 0.25 AS lon,
         (CAST((user_id * 11) % 160 AS DOUBLE) - 80.0) + 0.5 AS lat
  FROM events
),
g AS (
  SELECT event_id,
         CAST(least(greatest(floor((lon + 180.0) / 360.0 * 65536),
                             0), 65535) AS BIGINT) AS gx,
         CAST(least(greatest(floor((lat + 90.0) / 180.0 * 65536),
                             0), 65535) AS BIGINT) AS gy
  FROM pts
)
SELECT event_id, gx, gy,
       CAST((SELECT sum((((gx >> CAST(i AS INTEGER)) & 1)
                         << CAST(2 * i AS INTEGER))
                        + (((gy >> CAST(i AS INTEGER)) & 1)
                           << CAST(2 * i + 1 AS INTEGER)))
             FROM range(16) t(i)) AS BIGINT) AS zkey
FROM g
ORDER BY event_id
"""


@query("spatial_zorder_key", "pipeline",
       "data layout: Z-order / Morton spatial clustering key "
       "(the Delta OPTIMIZE ZORDER analog) — grid snap + bit "
       "interleave as pure Catalyst fold, the range-partition key "
       "that co-locates spatial neighbors per file at 100 TB",
       _ZORDER_SQL)
def spatial_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton key per event-derived point: 16-bit grid snap per
    axis, bits interleaved by an aggregate(sequence) fold —
    whole-stage codegen end to end.  The oracle restates the
    interleave as a correlated bit-arithmetic sum, so every bit of
    every key is value-hashed.  The write-side layout operator
    (spatial.zorder_partition) range-partitions on this key; its
    locality property is pinned in tests/test_spatial.py."""
    from geohub_data_pipeline_spark.operators import spatial as SP

    t = load_tables(spark, sf_dir)
    pts = t.events.select(
        "event_id",
        ((F.col("event_id") % 360).cast("double") - 180.0 + 0.25)
        .alias("lon"),
        (((F.col("user_id") * 11) % 160).cast("double") - 80.0 + 0.5)
        .alias("lat"))
    gx, gy, zk = SP.morton_cols(F.col("lon"), F.col("lat"))
    return (pts.withColumn("__gx", gx).withColumn("__gy", gy)
            .withColumn("zkey", zk)
            .select("event_id", F.col("__gx").alias("gx"),
                    F.col("__gy").alias("gy"), "zkey")
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# Round 8: hydrology composite — stream network extraction
# ---------------------------------------------------------------------------

_STREAM_NET_SQL = """
SELECT CAST(r.i * 96 + 24 AS BIGINT) AS chain_id,
       CAST(71 AS BIGINT) AS n_parts,
       CAST(71.0 AS DOUBLE) AS length,
       false AS branched,
       CAST(0 AS BIGINT) AS n_rejected
FROM range(96) r(i)
ORDER BY chain_id
"""


@query("raster_stream_network", "pipeline",
       "hydrology composite: D8 stream-network extraction — "
       "flow_direction -> flow_accumulation (the halo state store) "
       "-> accumulation threshold -> cell-center segment vectorize "
       "-> merge_lines weld; four operators chained, the GRASS "
       "r.stream.extract analog", _STREAM_NET_SQL)
def raster_stream_network(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Streams of a 96x96 east-sloping DEM (3x3 blocks of 32, so
    accumulation crosses two block seams per row): cells with
    accumulation >= 25 are channel cells, each emits a segment from
    its center to its D8 downstream center (map-side — the endpoint
    follows from the direction code alone, and a stream cell's
    downstream is always a stream cell because accumulation is
    monotone along flow), and merge_lines welds each row's segments
    into one chain.  The oracle states the closed form: one
    unbranched chain per row, 71 parts, exact length 71.0, chain id
    = the row's first channel cell (r*96 + 24)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.operators import overlay as OV
    from geohub_data_pipeline_spark.operators import raster as R
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    n, b, thr = 96, 32, 25
    dem = (n - 1 - np.arange(n))[None, :] * np.ones((n, 1))
    rows = []
    for by in range(0, n, b):
        for bx in range(0, n, b):
            t = dem[by:by + b, bx:bx + b]
            rows.append(("dem", None, 1, 0, bx // b, by // b, b, b,
                         t.ravel().tolist(), None, 4326))
    blocks = local_df(spark, rows, R.BLOCK_SCHEMA)
    dirs = R.flow_direction(blocks, border="clamp")
    acc = R.flow_accumulation(dirs, block=b)

    dcode = {code: (dy, dx) for _nm, code, dy, dx, _d in R._D8}

    d2 = dirs.select("block_x", "block_y",
                     F.col("pixels").alias("dirpx"))
    j = acc.join(d2, ["block_x", "block_y"])

    def segs(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out = []
        for pdf in it:
            for r in pdf.itertuples(index=False):
                w, h = int(r.width), int(r.height)
                a = np.asarray(r.pixels, np.float64).reshape(h, w)
                d = np.asarray(r.dirpx, np.float64).reshape(h, w)
                ys, xs = np.where((a >= thr) & (d > 0))
                for yy, xx in zip(ys, xs):
                    gy = int(r.block_y) * b + int(yy)
                    gx = int(r.block_x) * b + int(xx)
                    dy, dx = dcode[int(d[yy, xx])]
                    out.append((gy * n + gx, G.wkb_linestring(
                        [(gx + 0.5, gy + 0.5),
                         (gx + dx + 0.5, gy + dy + 0.5)])))
        yield pd.DataFrame(out, columns=["line_id", "geometry"])

    lines = j.mapInPandas(segs, "line_id long, geometry binary")
    return (OV.merge_lines(lines)
            .select("chain_id", "n_parts",
                    F.round("length", 6).alias("length"),
                    "branched", "n_rejected")
            .orderBy("chain_id"))


# ---------------------------------------------------------------------------
# Multimodal round 9: AVI/MJPEG container + frame sampling under the gate
# ---------------------------------------------------------------------------

# Frames are constant EVEN 8x8 tiles (bit-exact through the baseline
# JPEG codec), so sampled-frame statistics have a closed form over
# the tile-value formula.
_VIDEO_SQL = """
SELECT d.doc_id,
       CAST(f.fi AS INTEGER) AS frame_idx,
       CAST(4 + d.doc_id % 5 AS INTEGER) AS n_frames,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       round(s.mean_v, 4) AS px_mean,
       CAST(s.min_v AS INTEGER) AS px_min,
       CAST(s.max_v AS INTEGER) AS px_max
FROM documents d,
LATERAL (
    SELECT i AS fi FROM range(9) r(i)
    WHERE i < 4 + d.doc_id % 5 AND i % 2 = 0
) f,
LATERAL (
    SELECT avg(((d.doc_id * 7 + f.fi * 13 + t.i * 10) % 128) * 2.0)
             AS mean_v,
           min(((d.doc_id * 7 + f.fi * 13 + t.i * 10) % 128) * 2)
             AS min_v,
           max(((d.doc_id * 7 + f.fi * 13 + t.i * 10) % 128) * 2)
             AS max_v
    FROM range(4) t(i)
) s
ORDER BY d.doc_id, frame_idx
"""


@query("multimodal_video_frames", "pipeline",
       "multimodal: AVI/MJPEG video — real RIFF container walk "
       "(functions/avicodec.py: chunk tree, even-byte padding, "
       "header/frame-count validation) + every-Nth frame sampling, "
       "sampled frames decoded by the baseline JPEG codec under a "
       "closed-form pixel oracle", _VIDEO_SQL)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a deterministic MJPEG AVI per document (4-8 frames of
    16x16 constant-tile JPEGs), then run the frame-sampling operator
    (operators/multimodal.py video_sample_frames): the RIFF walk
    locates '00dc' chunks without decoding, every 2nd frame decodes
    through the baseline JPEG path, and per-frame pixel stats land
    under the oracle.  Container framing (LIST nesting, odd-size
    chunk padding, avih/strf validation) all sit in the checked
    path — a corrupt offset or a padding slip shifts bytes and
    breaks the JPEG decode, which breaks the hash.

    Scale: two stateless Arrow-batched kernels (synthesize, then
    parse+sample) — a scan each, no shuffle; decode cost scales
    with frames SAMPLED, not stored.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from geohub_data_pipeline_spark.functions import avicodec as A
    from geohub_data_pipeline_spark.functions import jpegcodec as J
    from geohub_data_pipeline_spark.operators.multimodal import (
        video_sample_frames,
    )
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = []
                for fi in range(4 + did % 5):
                    img = np.zeros((16, 16), dtype=np.uint8)
                    for ti in range(4):
                        ty, tx = divmod(ti, 2)
                        img[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8] \
                            = ((did * 7 + fi * 13 + ti * 10) % 128) * 2
                    frames.append(J.encode_baseline_jpeg(img))
                rows.append((did, A.encode_mjpeg_avi(frames, 16, 16)))
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    media = base.mapInPandas(synth, "doc_id long, payload binary")
    return (video_sample_frames(media, every_n=2)
            .orderBy("doc_id", "frame_idx"))


# --- round-9b: remaining plain-TM national grids under the gate ----

_CRS_CODES_R9B = [25832, 25835, 2039, 3825, 3826, 5179, 5186, 4544,
                  3346, 3059]
_CRS_R9B_LON = [
    "6.2 + (doc_id % 55) * 0.1",
    "24.2 + (doc_id % 55) * 0.1",
    "34.3 + (doc_id % 18) * 0.1",
    "119.2 + (doc_id % 8) * 0.1",
    "120.1 + (doc_id % 20) * 0.1",
    "124.8 + (doc_id % 55) * 0.1",
    "126.1 + (doc_id % 18) * 0.1",
    "103.6 + (doc_id % 28) * 0.1",
    "21.0 + (doc_id % 40) * 0.1",
    "21.0 + (doc_id % 40) * 0.1",
]
_CRS_R9B_LAT = [
    "47.5 + ((doc_id * 3) % 90) * 0.1",
    "59.0 + ((doc_id * 3) % 90) * 0.1",
    "29.6 + ((doc_id * 3) % 35) * 0.1",
    "23.2 + ((doc_id * 3) % 12) * 0.1",
    "21.9 + ((doc_id * 3) % 35) * 0.1",
    "33.2 + ((doc_id * 3) % 53) * 0.1",
    "33.2 + ((doc_id * 3) % 48) * 0.1",
    "21.0 + ((doc_id * 3) % 120) * 0.1",
    "53.9 + ((doc_id * 3) % 25) * 0.1",
    "55.7 + ((doc_id * 3) % 25) * 0.1",
]


def _crs_r9b_sql() -> str:
    n = len(_CRS_CODES_R9B)
    srid_branches = " ".join(
        f"WHEN {k} THEN {srid}"
        for k, srid in enumerate(_CRS_CODES_R9B[:-1]))
    lon_branches = " ".join(
        f"WHEN {k} THEN {e}" for k, e in enumerate(_CRS_R9B_LON[:-1]))
    lat_branches = " ".join(
        f"WHEN {k} THEN {e}" for k, e in enumerate(_CRS_R9B_LAT[:-1]))
    return f"""
SELECT doc_id,
       CAST(CASE doc_id % {n} {srid_branches}
            ELSE {_CRS_CODES_R9B[-1]} END AS INTEGER) AS srid,
       round(CASE doc_id % {n} {lon_branches}
             ELSE {_CRS_R9B_LON[-1]} END, 4) AS lon_rt,
       round(CASE doc_id % {n} {lat_branches}
             ELSE {_CRS_R9B_LAT[-1]} END, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""


@query("crs_roundtrip_codes_r9b", "pipeline",
       "§2.2 T7 reprojection, round-9b: EPSG-code-only grids — "
       "ETRS89 UTM 28N-38N (the pan-European default), Israeli TM "
       "Grid, TWD97 TM2 Taiwan+Penghu, Korea 2000 Unified + 2010 "
       "belts, CGCS2000 3-degree Gauss-Kruger CM zones, LKS94/LKS92 "
       "Baltic (ref reprojects any SRS via PROJ, "
       "ingest/processing.py:142-150)", _crs_r9b_sql())
def crs_roundtrip_codes_r9b(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Forward+inverse through the round-9b ``_CRS_TABLE``
    additions — code-only uploads for the European UTM family and
    the East-Asian / Levant / Baltic national grids.  The oracle is
    the input formula (roundtrip to 4 decimals); absolute control
    points (Jerusalem ITM, Taipei TWD97, Seoul Korea-2000, and the
    ETRS89-UTM vs WGS84-UTM twin equality) live in
    tests/test_crs_codes.py.

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    n = len(_CRS_CODES_R9B)
    lon_of = [eval(f"lambda doc_id: {e}") for e in _CRS_R9B_LON]  # noqa: S307
    lat_of = [eval(f"lambda doc_id: {e}") for e in _CRS_R9B_LAT]  # noqa: S307

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = {s: (C.from_lonlat(s), C.to_lonlat(s))
                 for s in _CRS_CODES_R9B}
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % n
                srid = _CRS_CODES_R9B[k]
                lon, lat = lon_of[k](did), lat_of[k](did)
                fwd, inv = pairs[srid]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, srid,
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "srid", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, srid int, lon_rt double, lat_rt double")


# ---------------------------------------------------------------------------
# CRS round 10: the remaining big national families + the DECLARED
# coverage boundary (VERDICT r9 next #5)
# ---------------------------------------------------------------------------

_CRS_CODES_R10 = [32181, 32188, 32197, 26929, 26937, 26961, 26971,
                  26996, 32112, 32116, 32145, 32158, 24379]
_CRS_R10_LON = [
    "-53.5 + (doc_id % 12) * 0.05",
    "-74.0 + (doc_id % 15) * 0.05",
    "-96.5 + (doc_id % 15) * 0.05",
    "-86.3 + (doc_id % 16) * 0.05",
    "-163.0 + (doc_id % 32) * 0.05",
    "-156.0 + (doc_id % 18) * 0.05",
    "-88.8 + (doc_id % 16) * 0.05",
    "-91.0 + (doc_id % 16) * 0.05",
    "-104.8 + (doc_id % 14) * 0.05",
    "-77.0 + (doc_id % 14) * 0.05",
    "-73.0 + (doc_id % 16) * 0.05",
    "-110.6 + (doc_id % 16) * 0.05",
    "72.0 + (doc_id % 60) * 0.05",
]
_CRS_R10_LAT = [
    "47.0 + ((doc_id * 3) % 60) * 0.05",
    "45.0 + ((doc_id * 3) % 50) * 0.05",
    "49.0 + ((doc_id * 3) % 60) * 0.05",
    "30.7 + ((doc_id * 3) % 60) * 0.05",
    "55.0 + ((doc_id * 3) % 100) * 0.05",
    "18.9 + ((doc_id * 3) % 30) * 0.05",
    "37.0 + ((doc_id * 3) % 110) * 0.05",
    "36.0 + ((doc_id * 3) % 90) * 0.05",
    "31.5 + ((doc_id * 3) % 110) * 0.05",
    "40.2 + ((doc_id * 3) % 60) * 0.05",
    "42.7 + ((doc_id * 3) % 50) * 0.05",
    "40.7 + ((doc_id * 3) % 60) * 0.05",
    "24.0 + ((doc_id * 3) % 90) * 0.05",
]


def _crs_r10_sql() -> str:
    n = len(_CRS_CODES_R10)
    srid_branches = " ".join(
        f"WHEN {k} THEN {srid}"
        for k, srid in enumerate(_CRS_CODES_R10[:-1]))
    lon_branches = " ".join(
        f"WHEN {k} THEN {e}" for k, e in enumerate(_CRS_R10_LON[:-1]))
    lat_branches = " ".join(
        f"WHEN {k} THEN {e}" for k, e in enumerate(_CRS_R10_LAT[:-1]))
    return f"""
SELECT doc_id,
       CAST(CASE doc_id % {n} {srid_branches}
            ELSE {_CRS_CODES_R10[-1]} END AS INTEGER) AS srid,
       round(CASE doc_id % {n} {lon_branches}
             ELSE {_CRS_R10_LON[-1]} END, 4) AS lon_rt,
       round(CASE doc_id % {n} {lat_branches}
             ELSE {_CRS_R10_LAT[-1]} END, 4) AS lat_rt
FROM documents
ORDER BY doc_id
"""


@query("crs_roundtrip_codes_r10", "pipeline",
       "§2.2 T7 reprojection, round-10: EPSG-code-only North-American "
       "and South-Asian grids — NAD83/MTM zones 1-17 (Canada), the "
       "SPCS83 Transverse-Mercator states (AL AK AZ DE FL GA HI ID IL "
       "IN ME MS MO NV NH NJ NM NY RI VT WY), Kalianpur/India LCC "
       "zones on Everest + Helmert (ref reprojects any SRS via PROJ, "
       "ingest/processing.py:142-150)", _crs_r10_sql())
def crs_roundtrip_codes_r10(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Forward+inverse through the round-10 ``_CRS_TABLE`` additions.
    The oracle is the input formula (roundtrip to 4 decimals); the
    absolute pins — zone-origin identity fwd(lon0,lat0)==(FE,FN) for
    every TM zone and the k0 meridian-arc scaling law — live in
    tests/test_crs_codes.py.

    Scale: stateless per-row math in an Arrow-batched kernel — a
    scan, no shuffle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import crs as C
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    t = load_tables(spark, sf_dir)
    base = t.documents.select("doc_id")
    n = len(_CRS_CODES_R10)
    lon_of = [eval(f"lambda doc_id: {e}") for e in _CRS_R10_LON]  # noqa: S307
    lat_of = [eval(f"lambda doc_id: {e}") for e in _CRS_R10_LAT]  # noqa: S307

    def rt(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pairs = {s: (C.from_lonlat(s), C.to_lonlat(s))
                 for s in _CRS_CODES_R10}
        for pdf in it:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                k = did % n
                srid = _CRS_CODES_R10[k]
                lon, lat = lon_of[k](did), lat_of[k](did)
                fwd, inv = pairs[srid]
                lon2, lat2 = inv(*fwd(lon, lat))
                rows.append((did, srid,
                             round(lon2, 4) + 0.0, round(lat2, 4) + 0.0))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "srid", "lon_rt", "lat_rt"])

    return base.mapInPandas(
        rt, "doc_id long, srid int, lon_rt double, lat_rt double")


def _coverage_probe_codes() -> list[int]:
    """The coverage-boundary probe fixture: every 7th EPSG code in
    [2000, 32800] (a uniform sweep of the projected-CRS code space),
    every DECLARED code (so each is individually certified), a +-1
    halo around every declared range (so an off-by-one range edge is
    caught from both sides), and the ESRI/world specials."""
    from geohub_data_pipeline_spark.operators.crs import (
        DECLARED_SRID_RANGES,
    )
    probes = set(range(2002, 32801, 7))
    for lo, hi in DECLARED_SRID_RANGES:
        probes.update(range(lo, hi + 1))
        probes.update((lo - 1, hi + 1))
    probes.update(range(54005, 54040))
    probes.update(range(102000, 102010))
    return sorted(probes)


def _crs_coverage_sql() -> str:
    from geohub_data_pipeline_spark.operators.crs import (
        DECLARED_SRID_RANGES,
    )
    declared = " OR ".join(
        f"(srid BETWEEN {lo} AND {hi})" for lo, hi in DECLARED_SRID_RANGES)
    extras = sorted(set(_coverage_probe_codes())
                    - set(range(2002, 32801, 7)))
    values = ", ".join(f"({c})" for c in extras)
    return f"""
WITH probes AS (
  SELECT CAST(x.range AS INTEGER) AS srid
  FROM range(2002, 32801) x WHERE (x.range - 2002) % 7 = 0
  UNION
  SELECT srid FROM (VALUES {values}) v(srid)
),
flag AS (
  SELECT srid,
         CASE WHEN {declared} THEN 1 ELSE 0 END AS ok
  FROM probes
)
SELECT CAST((srid // 500) * 500 AS INTEGER) AS band,
       CAST(count(*) AS BIGINT) AS n_probed,
       CAST(sum(ok) AS BIGINT) AS n_resolvable
FROM flag GROUP BY 1 ORDER BY 1
"""


@query("crs_coverage_boundary", "pipeline",
       "§2.2 T7 reprojection, round-10: the DECLARED closed-form CRS "
       "coverage boundary — the LIVE resolver (to_lonlat/from_lonlat "
       "closure construction) probed over ~5k EPSG codes vs the "
       "frozen DECLARED_SRID_RANGES declaration; certifies both that "
       "every declared code resolves AND that nothing outside the "
       "declaration silently resolves (the drop-audit boundary, "
       "ref converts anything GDAL supports, README.md:133-135)",
       _crs_coverage_sql())
def crs_coverage_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the live CRS resolver over the coverage fixture and
    aggregate per 500-code band.  The Spark side asks the ENGINE
    (``crs.srid_resolves`` — table lookup / range branch AND
    projection-constant construction, exceptions = unresolvable);
    the oracle asks the DECLARATION (``DECLARED_SRID_RANGES``
    inlined as SQL BETWEENs over the same fixture).  A green row
    means declaration == implementation across the whole probe
    space; codes outside are the documented pyproj-gated drop-audit
    path (operators/geometry.py).

    Scale: the fixture is the distinct-code DOMAIN (~5k rows —
    metadata-sized, independent of data volume); resolving is a
    stateless Arrow-batched kernel, one tiny band aggregation.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    codes = _coverage_probe_codes()
    base = local_df(spark, 
        [(c,) for c in codes], "srid int").repartition(8)

    def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geohub_data_pipeline_spark.operators.crs import (
            srid_resolves,
        )
        for pdf in it:
            yield pd.DataFrame({
                "srid": pdf["srid"],
                "ok": [int(srid_resolves(int(s))) for s in pdf["srid"]],
            })

    flags = base.mapInPandas(probe, "srid int, ok int")
    return (flags
            .groupBy((F.floor(F.col("srid") / 500) * 500)
                     .cast("int").alias("band"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_probed"),
                 F.sum("ok").cast("long").alias("n_resolvable"))
            .orderBy("band"))


# ---------------------------------------------------------------------------
# Round 10: geodesic buffering (ellipsoidal Vincenty direct/inverse)
# ---------------------------------------------------------------------------

_GEOBUF_RADIUS_M = 100_000.0
_GEOBUF_AZIMUTHS = 16


def _geobuf_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t.documents.select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") % 300).cast("double") * 1.1 - 165.0)
        .alias("lon"),
        (((F.col("doc_id") * 7) % 140).cast("double") - 70.0)
        .alias("lat"))


@query("geodesic_buffer_rings", "pipeline",
       "geo analytics: geodesic buffering — 16-azimuth 100 km buffer "
       "ring per point via Vincenty DIRECT on WGS84 (ref buffers "
       "through OGR/PROJ's geodesic code in its vector path); the "
       "iterative series is not SQL-expressible, so the oracle is "
       "the write->read-back parquet gate; the absolute control "
       "(Vincenty's published Flinders Peak-Buninyong line to the "
       "mm) lives in tests/test_geodesic.py",
       "SELECT * FROM read_parquet('/tmp/geohub_gate_artifacts/"
       "geodesic_rings.parquet/*.parquet') ORDER BY id, k")
def geodesic_buffer_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffer ring vertices for deterministic per-document points —
    one row per (point, azimuth).  Scale: stateless Arrow kernel,
    no shuffle, fan-out fixed at 16."""
    from geohub_data_pipeline_spark.operators import geodesic as GE
    from geohub_data_pipeline_spark.plans.llm import _parquet_roundtrip

    rings = GE.buffer_points(_geobuf_points(spark, sf_dir),
                             _GEOBUF_RADIUS_M, _GEOBUF_AZIMUTHS)
    out = rings.select("id", "k", F.round("vlon", 9).alias("vlon"),
                       F.round("vlat", 9).alias("vlat"))
    return _parquet_roundtrip(out, "geodesic_rings").orderBy("id", "k")


def _geobuf_invariant_sql() -> str:
    return f"""
SELECT CAST(x.range AS INTEGER) AS k,
       TRUE AS within_mm,
       (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_points
FROM range({_GEOBUF_AZIMUTHS}) x ORDER BY k
"""


@query("geodesic_buffer_invariants", "pipeline",
       "geo analytics: geodesic buffer law check — every ring vertex "
       "must sit EXACTLY the buffer radius from its center, measured "
       "by the INDEPENDENT Vincenty inverse iteration (direct and "
       "inverse agreeing to <1 mm over every point x azimuth is a "
       "two-algorithm cross-check, same pattern as the PCA "
       "invariants); the oracle states the 16-row expectation",
       _geobuf_invariant_sql())
def geodesic_buffer_invariants(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per azimuth k: does max |inverse(center, vertex) - R| over all
    points stay under 1 mm?  A broken series term, a flattening typo,
    or a quadrant error in EITHER algorithm breaks the agreement."""
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.operators import geodesic as GE
    from geohub_data_pipeline_spark.session import ship_package

    ship_package(spark)
    pts = _geobuf_points(spark, sf_dir)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for pid, lon, lat in zip(pdf["id"], pdf["lon"], pdf["lat"]):
                # the SAME shared ring kernel buffer_points ships —
                # the cross-check must validate the shipped math, not
                # a re-implementation that could drift from it
                for k, vlon, vlat in GE.ring_vertices(
                        float(lon), float(lat), _GEOBUF_RADIUS_M,
                        _GEOBUF_AZIMUTHS):
                    err = abs(GE.geodesic_inverse(
                        float(lon), float(lat), vlon, vlat)
                        - _GEOBUF_RADIUS_M)
                    rows.append((k, err))
            yield pd.DataFrame(rows, columns=["k", "err_m"])

    errs = pts.mapInPandas(kernel, "k int, err_m double")
    return (errs.groupBy("k")
            .agg((F.max("err_m") < 0.001).alias("within_mm"),
                 F.count(F.lit(1)).cast("long").alias("n_points"))
            .orderBy("k"))


# ---------------------------------------------------------------------------
# S5/S6 round 11: raster-tile MBTiles input (r10 verdict missing #3)
# ---------------------------------------------------------------------------

_MBTILES_RASTER_SQL = """
WITH png AS (
  SELECT * FROM (VALUES (0,0,0),(1,0,0),(1,1,0),(1,0,1),(1,1,1))
       t(z, x, y)
),
png_stats AS (
  SELECT p.z, p.x, p.y,
         sum((p.z*31 + p.x*7 + p.y*11 + i.i + 2*j.i) % 251) AS s,
         min((p.z*31 + p.x*7 + p.y*11 + i.i + 2*j.i) % 251) AS lo,
         max((p.z*31 + p.x*7 + p.y*11 + i.i + 2*j.i) % 251) AS hi
  FROM png p, range(64) i(i), range(64) j(i)
  GROUP BY 1, 2, 3
)
SELECT CAST(z AS INTEGER) AS z, CAST(x AS INTEGER) AS x,
       CAST(y AS INTEGER) AS y,
       CAST(2 - z AS INTEGER) AS level, CAST(1 AS INTEGER) AS band,
       CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
       CAST(4096 AS BIGINT) AS n_px, CAST(s AS BIGINT) AS px_sum,
       CAST(lo AS INTEGER) AS px_min, CAST(hi AS INTEGER) AS px_max
FROM png_stats
UNION ALL
SELECT 2, 0, 0, 0, 1, 64, 64, 4096, 128 * 4096, 128, 128
UNION ALL
SELECT 2, 1, 0, 0, -1, 10, 0, 0, 0, 0, 0
ORDER BY z, x, y
"""


@query("mbtiles_raster_source", "pipeline",
       "§2.1 S5/S6: RASTER-tile MBTiles input — PNG/JPEG tile "
       "payloads decoded into the BLOCK model (GDAL reads such "
       "archives as raster; ref ingest/config.py:42-66 allowlists "
       ".mbtiles)", _MBTILES_RASTER_SQL)
def mbtiles_raster_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a synthetic MBTiles archive of REAL image tiles — five
    8-bit grayscale PNGs (zooms 0-1, closed-form pixel ramp), one
    constant-even baseline JPEG (z2: DCT+quantization round-trips
    bit-exactly), and one corrupt payload — then decode it through
    ``mbtiles_raster_blocks`` into the engine's BLOCK model and
    report per-tile pixel statistics.  The oracle states every PNG
    tile's sum/min/max in closed form from the generator formula, the
    JPEG's from its constant, and the corrupt tile's quarantine row
    (band = -1, payload size as width) — so the SQLite walk, the TMS
    row flip, both stdlib codecs, the level = maxzoom - z convention
    and the quarantine contract all sit under the hash compare.

    Scale: one archive = one task across a binaryFile scan; decode is
    map-side Arrow batches (pixel rows never shuffle here); the
    per-tile aggregation shuffles only file-count-sized stats rows.
    Reference: GDAL's MBTiles raster driver reads the same layout.
    """
    import hashlib
    import os
    import shutil

    import numpy as np

    from geohub_data_pipeline_spark.functions import jpegcodec as J
    from geohub_data_pipeline_spark.operators import mbtiles as MB
    from geohub_data_pipeline_spark.operators.multimodal import (
        encode_png_gray,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/geohub_gate_artifacts/mbtiles_raster_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)

    tiles = []
    for z, x, y in [(0, 0, 0), (1, 0, 0), (1, 1, 0), (1, 0, 1),
                    (1, 1, 1)]:
        base = z * 31 + x * 7 + y * 11
        tiles.append((z, x, y, encode_png_gray(
            64, 64,
            pixel_fn=lambda px, py, b=base: (b + py + 2 * px) % 251)))
    const = np.full((64, 64), 128, dtype=np.uint8)
    tiles.append((2, 0, 0, J.encode_baseline_jpeg(const)))
    tiles.append((2, 1, 0, b"not a tile"))
    MB.write_mbtiles(os.path.join(root, "t.mbtiles"), tiles,
                     {"name": "t", "format": "png"})

    blocks = MB.mbtiles_raster_blocks(spark, root)
    return (blocks.select(
        (F.lit(2) - F.col("level")).cast("int").alias("z"),
        F.col("block_x").cast("int").alias("x"),
        F.col("block_y").cast("int").alias("y"),
        F.col("level").cast("int").alias("level"),
        F.col("band").cast("int").alias("band"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.size("pixels").cast("long").alias("n_px"),
        F.coalesce(
            F.aggregate("pixels", F.lit(0.0), lambda a, v: a + v),
            F.lit(0.0)).cast("long").alias("px_sum"),
        F.coalesce(F.array_min("pixels"), F.lit(0.0)).cast("int")
        .alias("px_min"),
        F.coalesce(F.array_max("pixels"), F.lit(0.0)).cast("int")
        .alias("px_max"))
        .orderBy("z", "x", "y"))
