"""Dedup clustering: connected components over verified pairs."""

from __future__ import annotations

from geohub_data_pipeline_spark.operators import dedup as D


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_cc_chain_and_islands(spark):
    """A 4-node chain (diameter 3), a 2-node pair, and a triangle all
    collapse to their min id; no cross-component leakage."""
    e = _edges(spark, [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11),                        # pair
        (20, 21), (21, 22), (20, 22),    # triangle
    ])
    got = {r.node: r.label for r in D.connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_cc_partition_invariant_and_direction_agnostic(spark):
    """Labels are identical whichever way edges point and however the
    input is partitioned."""
    pairs = [(5, 1), (2, 5), (9, 2), (7, 8)]
    a = {r.node: r.label
         for r in D.connected_components(_edges(spark, pairs)).collect()}
    b = {r.node: r.label
         for r in D.connected_components(
             _edges(spark, [(y, x) for x, y in pairs]).repartition(7))
         .collect()}
    assert a == b == {1: 1, 2: 1, 5: 1, 9: 1, 7: 7, 8: 7}


def test_cc_empty_edges(spark):
    assert D.connected_components(_edges(spark, [])).count() == 0

def test_altcc_matches_hash_to_min(spark):
    """Large-star/small-star produces the exact same (node, label) map
    as hash-to-min on mixed component shapes."""
    pairs = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11),                        # pair
        (20, 21), (21, 22), (20, 22),    # triangle
        (30, 31), (31, 30),              # duplicate reversed edge
    ]
    a = {r.node: r.label
         for r in D.connected_components(_edges(spark, pairs)).collect()}
    b = {r.node: r.label
         for r in D.alternating_cc(_edges(spark, pairs)).collect()}
    assert a == b


def test_altcc_deep_chain_few_rounds(spark):
    """A 33-node chain (diameter 32) — hash-to-min's worst case —
    converges within O(log n) alternating rounds and still labels
    every node with the chain min."""
    pairs = [(i, i + 1) for i in range(100, 132)]
    got = {r.node: r.label
           for r in D.alternating_cc(_edges(spark, pairs),
                                     max_iters=7).collect()}
    assert got == {i: 100 for i in range(100, 133)}


def test_altcc_empty_and_star(spark):
    assert D.alternating_cc(_edges(spark, [])).count() == 0
    got = {r.node: r.label
           for r in D.alternating_cc(
               _edges(spark, [(50, 51), (50, 52), (50, 53)])).collect()}
    assert got == {50: 50, 51: 50, 52: 50, 53: 50}


def test_cc_algorithms_agree_on_random_graphs(spark):
    """On seeded random graphs, hash-to-min, alternating large/small
    star, and a driver-side union-find ground truth all produce the
    identical (node -> component-min) map."""
    import random

    for seed in (7, 42, 99):
        rng = random.Random(seed)
        n = 60
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        pairs = [(a, b) for a, b in pairs if a != b]

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {x for p in pairs for x in p}
        truth = {x: find(x) for x in nodes}

        e = _edges(spark, pairs)
        htm = {r.node: r.label
               for r in D.connected_components(e).collect()}
        alt = {r.node: r.label
               for r in D.alternating_cc(e).collect()}
        assert htm == truth, f"hash-to-min diverges (seed {seed})"
        assert alt == truth, f"alternating diverges (seed {seed})"


def test_triangle_counts_matches_brute_force(spark):
    """Degree-oriented wedge counting equals the brute-force
    enumeration on a random graph (duplicates, reversed edges, and
    self-loops in the input), and the plan has no cartesian
    product."""
    import itertools
    import random

    from geohub_data_pipeline_spark.operators.dedup import (
        triangle_counts,
    )

    rng = random.Random(7)
    nodes = list(range(30))
    edges = set()
    while len(edges) < 90:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    rows = []
    for a, b in edges:
        rows.append((a, b))
        if rng.random() < 0.3:
            rows.append((b, a))           # reversed duplicate
    rows += [(5, 5), (7, 7)]              # self-loops: ignored
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {r.node: r.n_triangles
           for r in triangle_counts(df).collect()}

    brute = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if ({(a, b), (a, c), (b, c)} <= edges):
            for n in (a, b, c):
                brute[n] = brute.get(n, 0) + 1
    assert got == brute
    plan = (triangle_counts(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan



def test_pagerank_fixed_point_matches_brute_force(spark):
    """r9: integer fixed-point PageRank equals a driver-side integer
    simulation on a random 40-node directed graph — same floor-div
    update, so equality is EXACT (no tolerance)."""
    import random

    from geohub_data_pipeline_spark.operators.dedup import (
        pagerank_fixed_point,
    )

    rng = random.Random(907)
    edges = {(rng.randrange(40), rng.randrange(40)) for _ in range(160)}
    edges = sorted((s, t) for s, t in edges if s != t)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank_fp
           for r in pagerank_fixed_point(df, n_iters=3).collect()}

    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = {n: 1_000_000 for n in nodes}
    for _ in range(3):
        acc = {n: 0 for n in nodes}
        for s, ts in out.items():
            c = rank[s] // len(ts)
            for t in ts:
                acc[t] += c
        rank = {n: 150_000 + (17 * acc[n]) // 20 for n in nodes}
    assert got == rank
    # every rank >= the teleport floor, <= teleport + damped TOTAL mass
    cap = 150_000 + (17 * len(nodes) * 1_000_000) // 20
    assert all(150_000 <= v <= cap for v in got.values())


def test_sparse_cosine_pairs_matches_brute_force(spark):
    """r9: inverted-index shingle-cosine equals the all-pairs numpy
    cosine on a corpus with planted near-duplicates."""
    import math
    from collections import Counter

    from geohub_data_pipeline_spark.functions.text import (
        MAX_SHINGLES,
        SHINGLE_WORDS,
    )
    from geohub_data_pipeline_spark.operators.dedup import (
        sparse_cosine_pairs,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota "
            "kappa lam mu nu xi omicron pi rho sigma tau")
    docs = [(1, base), (2, base),                        # exact dup
            (3, base.replace("delta", "psi")),           # near dup
            (4, "one two three four five six seven"),
            (5, "one two three four five six eight"),    # near dup of 4
            (6, "totally different words entirely here now")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.cos_sim
           for r in sparse_cosine_pairs(
               df, min_df=2, max_df=20, threshold=0.3).collect()}

    def shingles(text):
        ws = text.split(" ")
        n = min(len(ws) - (SHINGLE_WORDS - 1), MAX_SHINGLES)
        return ["_".join(ws[i:i + SHINGLE_WORDS]) for i in range(n)]

    vecs = {d: Counter(shingles(t)) for d, t in docs}
    df_count = Counter(term for v in vecs.values() for term in set(v))
    kept_terms = {t for t, c in df_count.items() if 2 <= c <= 20}
    want = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va = {t: c for t, c in vecs[a].items() if t in kept_terms}
            vb = {t: c for t, c in vecs[b].items() if t in kept_terms}
            dot = sum(va[t] * vb[t] for t in va if t in vb)
            na = math.sqrt(sum(c * c for c in va.values()))
            nb = math.sqrt(sum(c * c for c in vb.values()))
            if na and nb and dot / (na * nb) >= 0.3:
                want[(a, b)] = round(dot / (na * nb), 6)
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 1.0       # exact dup
    # 4/5 differ only in hapax shingles, which the df band prunes —
    # identical in the kept space, so cosine 1.0 by design
    assert (4, 5) in got and got[(4, 5)] == 1.0
    # 3's substitution shingles are hapaxes too, but 1/2 KEEP their
    # df=2 'delta' shingles that 3 lacks -> a genuinely partial match
    assert (1, 3) in got and 0.3 <= got[(1, 3)] < 1.0


def test_containment_is_asymmetric(spark):
    """A short doc quoted inside a long one: containment ~1 in the
    short->long direction, low the other way — the case symmetric
    Jaccard misses.  Checked through the registry query's exact
    pipeline shape on a hand-built corpus."""
    from pyspark.sql import functions as F

    from geohub_data_pipeline_spark.functions import text as T

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler), (3, filler)],
        "doc_id long, text string")
    tok = (docs.select("doc_id",
                       F.explode(T.word_shingles(F.col("text")))
                       .alias("term")).distinct())
    dfq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    banded = tok.join(dfq, "term").filter(F.col("dfreq") <= 20)
    sz = banded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shared = banded.filter(F.col("dfreq") >= 2).select("doc_id", "term")
    a = shared.select(F.col("doc_id").alias("doc_a"), "term")
    b = shared.select(F.col("doc_id").alias("doc_b"), "term")
    inter = (a.join(b, "term")
             .filter(F.col("doc_a") != F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("c")))
    got = {(r.doc_a, r.doc_b):
           1_000_000 * r.c // r.n for r in
           inter.join(sz.withColumnRenamed("doc_id", "doc_a"),
                      "doc_a").collect()}
    assert got[(1, 2)] == 1_000_000      # short fully inside long
    assert got[(2, 1)] < 250_000         # long not inside short


def test_jaccard_for_pairs_matches_python_reference(spark):
    """r11: the verify stage tokenizes only pair members (above the
    joins).  Pin its semantics against a pure-Python token-set
    Jaccard: values are round(|A&B| / |A|B|-union, 6), empty
    intersections are dropped, NULL-text members drop their pairs,
    and a doc appearing in several pairs scores in each."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "z z z"), (4, None),
         (5, "a a b"), (6, "q r s")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 5), (3, 6)],
        "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in D.jaccard_for_pairs(docs, pairs, "text",
                                        "doc_id").collect()}

    texts = {1: "a b c d", 2: "a b c x", 3: "z z z", 5: "a a b",
             6: "q r s"}
    want = {}
    for a, b in [(1, 2), (1, 3), (1, 5), (2, 5), (3, 6)]:
        ta, tb = set(texts[a].split(" ")), set(texts[b].split(" "))
        ni = len(ta & tb)
        if ni >= 1:
            want[(a, b)] = round(ni / (len(ta) + len(tb) - ni), 6)
    # (1,4) drops on NULL text; (1,3) and (3,6) drop on empty
    # intersection
    assert got == want


def test_jaccard_for_pairs_tokenizes_pairs_not_corpus(spark):
    """Plan pin for the r11 verify-leg shape: tokenization sits ABOVE
    both id joins (Generate/explode consumes it), each token array is
    built exactly once (one array_distinct per side, one
    array_intersect total), and the corpus legs carry no rebalance
    exchange."""
    docs = spark.createDataFrame(
        [(i, "w%d x y" % i) for i in range(50)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    plan = (D.jaccard_for_pairs(docs, pairs, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("array_distinct") == 2
    assert plan.count("array_intersect") == 1
    assert "Generate explode" in plan


def _force_distributed(monkeypatch, edges_per_block=32):
    """The engine's distributed leg with several hash blocks on a tiny
    input: the gate says no, and a block holds few edges."""
    from geohub_data_pipeline_spark.operators import fixpoint

    monkeypatch.setattr(D, "_fits_one_task", lambda df: False)
    monkeypatch.setattr(fixpoint, "_EDGES_PER_BLOCK", edges_per_block)


def test_cc_in_task_matches_distributed(spark, monkeypatch):
    """r12: the P=1 in-task hash-to-min fixpoint emits bit-identical
    labels to the distributed round loop (forced via the gate), and
    the default tiny-input path really is in-task (MapInPandas)."""
    import random

    rng = random.Random(42)
    pairs = list({(rng.randrange(60), rng.randrange(60))
                  for _ in range(80)})
    e = _edges(spark, pairs)
    local = D.connected_components(e)
    assert "MapInPandas" in (
        local._jdf.queryExecution().executedPlan().toString())
    got_local = {(r.node, r.label) for r in local.collect()}
    _force_distributed(monkeypatch)
    dist = D.connected_components(e)
    assert "MapInPandas" not in (
        dist._jdf.queryExecution().executedPlan().toString())
    assert got_local == {(r.node, r.label) for r in dist.collect()}


def test_altcc_in_task_matches_distributed(spark, monkeypatch):
    """r12: the P=1 in-task large/small-star fixpoint emits
    bit-identical labels to the distributed loop, chains included
    (the diameter-heavy case altcc exists for)."""
    import random

    rng = random.Random(43)
    pairs = list({(rng.randrange(50), rng.randrange(50))
                  for _ in range(60)})
    pairs += [(100 + i, 101 + i) for i in range(25)]   # long chain
    e = _edges(spark, pairs)
    got_local = {(r.node, r.label)
                 for r in D.alternating_cc(e).collect()}
    monkeypatch.setattr(D, "_fits_one_task", lambda df: False)
    got_dist = {(r.node, r.label)
                for r in D.alternating_cc(e).collect()}
    assert got_local == got_dist


def test_pagerank_in_task_matches_distributed(spark, monkeypatch):
    """r12: the P=1 in-task integer PageRank emits bit-identical
    ranks to the distributed per-iteration join loop."""
    import random

    from geohub_data_pipeline_spark.operators.dedup import (
        pagerank_fixed_point,
    )
    from geohub_data_pipeline_spark.operators import dedup as D

    rng = random.Random(27)
    rows = list({(rng.randrange(40), rng.randrange(40))
                 for _ in range(120)})
    df = spark.createDataFrame(rows, "src long, dst long")
    got_local = {(r.node, r.rank_fp)
                 for r in pagerank_fixed_point(df, n_iters=3).collect()}
    _force_distributed(monkeypatch)
    got_dist = {(r.node, r.rank_fp)
                for r in pagerank_fixed_point(df, n_iters=3).collect()}
    assert got_local == got_dist


def test_cc_iteration_cap_raises_in_both_legs(spark, monkeypatch):
    """A 4-node chain needs 3 min-label rounds: max_iters=1 raises
    on the in-task and the distributed leg; a cap equal to the rounds
    needed does not."""
    import pytest

    e = _edges(spark, [(i, i + 1) for i in range(3)])
    for forced in (False, True):
        if forced:
            _force_distributed(monkeypatch, edges_per_block=2)
        with pytest.raises(Exception,
                           match="connected_components max_iters=1"):
            D.connected_components(e, max_iters=1).count()
        got = {r.node: r.label
               for r in D.connected_components(e, max_iters=3).collect()}
        assert got == {i: 0 for i in range(4)}


def test_altcc_iteration_cap_raises_in_both_legs(spark, monkeypatch):
    """A 33-node chain takes more than two star rounds: max_iters=2
    raises on the in-task and the distributed leg."""
    import pytest

    e = _edges(spark, [(i, i + 1) for i in range(100, 132)])
    with pytest.raises(Exception, match="alternating_cc max_iters=2"):
        D.alternating_cc(e, max_iters=2).count()
    monkeypatch.setattr(D, "_fits_one_task", lambda df: False)
    with pytest.raises(Exception, match="alternating_cc max_iters=2"):
        D.alternating_cc(e, max_iters=2).count()


def test_cc_labels_beyond_2_62(spark):
    """Node ids are labels: ids past 2^62 (hashed fragment ids, as in
    mvt_border_weld) keep their rows — both legs share the emit."""
    big = (1 << 63) - 10
    e = _edges(spark, [(big, big + 1), (big + 1, big + 2), (5, big)])
    got = {r.node: r.label for r in D.connected_components(e).collect()}
    assert got == {n: 5 for n in (5, big, big + 1, big + 2)}
