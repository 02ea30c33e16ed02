"""Seed-driven benchmark inputs, written with the engine's own writers.

* ``write_upload_gpkg``: a two-layer GeoPackage (points + polygons) in
  EPSG:32633 (UTM 33N), so ``normalize_features`` really reprojects.
* ``write_tables``: the ten tables the query registry reads (TPC-H-ish
  star schema plus events, documents and embeddings) at the size of
  the repo's sf0.001 test tables, with the same columns, types and
  value domains.

The same seed always gives the same bytes.  Nothing is downloaded.
"""

from __future__ import annotations

import os

import numpy as np

UTM33N = 32633
# a 400 km x 600 km box inside UTM zone 33N (central Europe)
_X0, _X1 = 300_000.0, 700_000.0
_Y0, _Y1 = 4_900_000.0, 5_500_000.0


def write_upload_gpkg(path: str, seed: int, n_per_layer: int) -> dict:
    """One upload file; returns {layer: feature count}."""
    from geohub_data_pipeline_spark.operators import geometry as G
    from geohub_data_pipeline_spark.sources.geopackage import write_gpkg

    rng = np.random.default_rng([seed, 1])
    xs = rng.uniform(_X0, _X1, n_per_layer)
    ys = rng.uniform(_Y0, _Y1, n_per_layer)
    points = [(i + 1, G.wkb_point(float(x), float(y)),
               {"name": f"p{i}", "value": float(v)})
              for i, (x, y, v) in enumerate(
                  zip(xs, ys, rng.uniform(0, 100, n_per_layer)))]
    zones = []
    for i in range(n_per_layer):
        cx, cy = rng.uniform(_X0, _X1), rng.uniform(_Y0, _Y1)
        # an irregular 6-gon, counter-clockwise, 1-8 km across
        ang = np.sort(rng.uniform(0, 2 * np.pi, 6))
        rad = rng.uniform(500.0, 4_000.0, 6)
        ring = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
                for a, r in zip(ang, rad)]
        zones.append((i + 1, G.wkb_polygon([ring + [ring[0]]]),
                      {"zone": i % 7}))
    write_gpkg(path, {"points": points, "zones": zones}, srid=UTM33N)
    return {"points": n_per_layer, "zones": n_per_layer}


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot",
               "large", "new", "old", "plate", "red", "ring", "rod",
               "small", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
               "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data",
              "dup", "fast", "filter", "group", "hash", "join", "key",
              "line", "merge", "order", "part", "query", "row", "scan",
              "slow", "small", "sort", "spark", "stream", "table", "the",
              "value", "vector", "window"]


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype(
        "timedelta64[D]").astype("timedelta64[us]")


def write_tables(dst: str, seed: int) -> dict[str, int]:
    """Write the registry's tables as parquet under ``dst`` at the
    sf0.001 row counts; returns {table: rows}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_ev = 1_500, 6_000, 1_000
    n_doc = n_emb = 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(words, n):
        return [words[i] for i in rng.integers(0, len(words), n)]

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                       "MIDDLE EAST"]},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    pa.int32())},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(_PART_WORDS, n_part), pick(_PART_WORDS, n_part))],
            "p_brand": [f"Brand#{i}" for i in
                        rng.integers(1, 26, n_part)],
            "p_type": pick(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(
                900.0 + (np.arange(n_part) % 200) / 10.0
                + rng.integers(0, 100, n_part) / 1000.0, 2)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1_000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2_400),
            "o_orderpriority": pick(_PRIORITIES, n_ord)},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2_500)},
    }
    # events: strictly increasing microsecond timestamps over 30 days
    gaps = rng.exponential(1.0, n_ev)
    ts_us = np.cumsum(gaps / gaps.sum() * 29.9 * 86_400e6).astype(np.int64)
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype(
            "timedelta64[us]"),
        "user_id": rng.integers(0, 15, n_ev),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": money(0.01, 330.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = [" ".join(pick(_DOC_WORDS, int(n)))
             for n in rng.integers(10, 100, n_doc)]
    # one document in ten repeats an earlier one with a changed tail,
    # so the near-duplicate operators have clusters to find
    for i in range(10, n_doc, 10):
        words = texts[int(rng.integers(0, i))].split()
        texts[i] = " ".join(words[:-2] + pick(_DOC_WORDS, 2))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels}

    os.makedirs(dst, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
