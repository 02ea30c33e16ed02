"""operators/graph.py — BFS hops, k-core, common-neighbor scoring.

Every test pins the distributed operator against a brute-force
reference on a random graph (messy input: duplicate edges, reversed
edges, self-loops), plus the plan properties the 100 TB story rests
on (no cartesian products).
"""

import random

import pytest

from geohub_data_pipeline_spark.operators import graph as G


def _random_edges(seed, n_nodes=40, n_edges=100):
    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.sample(range(n_nodes), 2)
        edges.add((min(a, b), max(a, b)))
    return rng, edges


def test_bfs_hops_matches_brute_force(spark):
    """Frontier BFS equals a reference BFS on a random DIRECTED graph
    with unreachable nodes; source at hop 0."""
    rng = random.Random(11)
    n = 35
    edges = set()
    while len(edges) < 80:
        a, b = rng.sample(range(n), 2)
        edges.add((a, b))                 # directed
    rows = list(edges) + [(3, 3)]         # self-loop: ignored
    df = spark.createDataFrame(rows, "src long, dst long")

    got = {r.node: r.hop for r in G.bfs_hops(df, source=0).collect()}

    # reference BFS
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    truth, frontier, hop = {0: 0}, [0], 0
    while frontier:
        hop += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, []):
                if v not in truth:
                    truth[v] = hop
                    nxt.append(v)
        frontier = nxt
    assert got == truth
    # unreachable nodes are genuinely absent
    assert set(got) == set(truth)


def test_bfs_hops_max_hops_raises_on_truncation(spark):
    """A chain 0->1->2->3->4 with max_hops=2 would truncate the
    reachability set — bfs_hops RAISES (consistent with
    kcore_members / sssp_bellman_ford) instead of returning a
    wrong-but-plausible subset.  r12: on the in-task fixpoint path
    the raise surfaces at ACTION time wrapped in Spark's Python
    exception, message preserved — so the test forces an action and
    matches the message."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long")
    with pytest.raises(Exception, match="bfs_hops max_hops=2"):
        G.bfs_hops(df, source=0, max_hops=2).count()


def test_bfs_hops_cap_equal_to_diameter_is_not_truncation(spark):
    """max_hops exactly the eccentricity: the last frontier is
    non-empty but nothing remains beyond it — must NOT raise."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long")
    got = {r.node: r.hop
           for r in G.bfs_hops(df, source=0, max_hops=5).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


@pytest.mark.parametrize("seed,k", [(3, 3), (4, 4), (5, 3)])
def test_kcore_matches_brute_force_peel(spark, seed, k):
    """Distributed peeling equals the sequential peel (unique
    fixpoint), including degrees inside the core."""
    rng, edges = _random_edges(seed)
    rows = []
    for a, b in edges:
        rows.append((a, b))
        if rng.random() < 0.3:
            rows.append((b, a))           # reversed duplicate
    rows += [(9, 9)]                      # self-loop: ignored
    df = spark.createDataFrame(rows, "id_a long, id_b long")

    got = {r.node: r.core_degree
           for r in G.kcore_members(df, k=k).collect()}

    E = set(edges)
    while True:
        deg = {}
        for a, b in E:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {x for x, d in deg.items() if d >= k}
        E2 = {(a, b) for a, b in E if a in keep and b in keep}
        if E2 == E:
            break
        E = E2
    truth = {}
    for a, b in E:
        truth[a] = truth.get(a, 0) + 1
        truth[b] = truth.get(b, 0) + 1
    assert got == truth


def test_kcore_empty_core(spark):
    """A tree has no 2-core: result is empty, loop terminates."""
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "id_a long, id_b long")
    assert G.kcore_members(df, k=2).count() == 0


def test_common_neighbors_matches_brute_force(spark):
    """Wedge-join common-neighbor counts + integer Jaccard equal the
    brute-force pair enumeration (no degree cap binding)."""
    rng, edges = _random_edges(21, n_nodes=25, n_edges=70)
    df = spark.createDataFrame(
        list(edges) + [(2, 2)], "id_a long, id_b long")
    got = {(r.node_a, r.node_b): (r.common_cnt, r.jaccard_ppm)
           for r in G.common_neighbor_pairs(
               df, min_common=2, deg_cap=100).collect()}

    nbr = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    truth = {}
    nodes = sorted(nbr)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            common = len(nbr[a] & nbr[b])
            if common >= 2:
                denom = len(nbr[a]) + len(nbr[b]) - common
                truth[(a, b)] = (common, 1_000_000 * common // denom)
    assert got == truth


def test_common_neighbors_deg_cap_drops_hub_wedges(spark):
    """A star hub above the cap forms no wedges; its spokes pair up
    only through other middles.  Degrees for Jaccard still count the
    hub edges."""
    # hub 0 connected to 1..6; plus a triangle 1-2-7
    rows = [(0, i) for i in range(1, 7)] + [(1, 2), (1, 7), (2, 7)]
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {(r.node_a, r.node_b): (r.common_cnt, r.jaccard_ppm)
           for r in G.common_neighbor_pairs(
               df, min_common=2, deg_cap=3).collect()}
    # hub 0 (degree 6 > 3) is no middle: the spoke pairs that only
    # share the hub vanish; (0,7) remains via middles 1 and 2, and
    # its Jaccard denominator still uses the hub's FULL degree 6.
    assert got == {(0, 7): (2, 333_333)}


def test_graph_plans_no_cartesian(spark):
    """No cartesian product in any of the three operators' plans."""
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "id_a long, id_b long")
    for plan_df in (
            G.kcore_members(df, k=2),
            G.common_neighbor_pairs(df, min_common=1),
            G.bfs_hops(df.withColumnRenamed("id_a", "src")
                       .withColumnRenamed("id_b", "dst"), source=0)):
        plan = (plan_df._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan


def test_label_propagation_matches_reference_and_keeps_blocks(spark):
    """Synchronous LPA with (count desc, label asc) tie-break equals
    the sequential reference on a random graph; on a two-block
    bridge graph the blocks keep disjoint label sets (what CC cannot
    do)."""
    rng, edges = _random_edges(31, n_nodes=30, n_edges=70)
    df = spark.createDataFrame(list(edges), "id_a long, id_b long")
    got = {r.node: r.label
           for r in G.label_propagation(df, rounds=3).collect()}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n in adj:
            votes = {}
            for m in adj[n]:
                votes[lab[m]] = votes.get(lab[m], 0) + 1
            votes[lab[n]] = votes.get(lab[n], 0) + 1
            new[n] = sorted(votes.items(),
                            key=lambda kv: (-kv[1], kv[0]))[0][0]
        lab = new
    assert got == lab

    # two dense blocks + one bridge: labels stay block-local
    blocks = set()
    for u in range(20):
        for k in (1, 2, 3):
            v = (u + k) % 10 if u < 10 else 10 + ((u - 10 + k) % 10)
            if v != u:
                blocks.add((min(u, v), max(u, v)))
    blocks.add((9, 10))
    bdf = spark.createDataFrame(list(blocks), "id_a long, id_b long")
    lp = {r.node: r.label
          for r in G.label_propagation(bdf, rounds=3).collect()}
    a_labels = {lp[n] for n in range(10)}
    b_labels = {lp[n] for n in range(10, 20)}
    assert a_labels <= set(range(10))
    assert b_labels <= set(range(10, 20))


def test_kcore_raises_on_iteration_cap(spark):
    """A path graph peels two endpoints per round; an insufficient
    max_iters must RAISE, never return the non-fixpoint superset."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long")
    # action-time raise on the in-task path (message preserved)
    with pytest.raises(Exception, match="kcore_members max_iters=3"):
        G.kcore_members(path, k=2, max_iters=3).count()
    # with enough rounds the 2-core of a path is empty
    assert G.kcore_members(path, k=2, max_iters=30).count() == 0


def test_sssp_matches_dijkstra_reference(spark):
    """Bellman-Ford fixpoint equals a Dijkstra reference on a random
    weighted digraph (a case where first-reach BFS order is wrong:
    cheaper multi-hop paths exist), and non-convergence raises."""
    import heapq

    rng = random.Random(17)
    n = 30
    edges = {}
    while len(edges) < 90:
        a, b = rng.sample(range(n), 2)
        edges[(a, b)] = rng.randint(1, 9)
    rows = [(a, b, w) for (a, b), w in edges.items()]
    df = spark.createDataFrame(rows, "src long, dst long, w long")

    got = {r.node: r.dist
           for r in G.sssp_bellman_ford(df, source=0).collect()}

    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, 1 << 60):
            continue
        for (a, b), w in edges.items():
            if a == u and d + w < dist.get(b, 1 << 60):
                dist[b] = d + w
                heapq.heappush(pq, (d + w, b))
    assert got == dist

    # a 10-edge chain cannot converge in 3 rounds: loud, not wrong
    # (action-time raise on the in-task path, message preserved)
    chain = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(10)], "src long, dst long, w long")
    with pytest.raises(Exception, match="sssp_bellman_ford max_rounds=3"):
        G.sssp_bellman_ford(chain, source=0, max_rounds=3).count()


# ---------------------------------------------------------------------------
# r12: in-task fixpoint (P=1) vs distributed round loop — bit-exact
# parity, the same pin the halo engine carries (guide §1.2).
# ---------------------------------------------------------------------------

def _force_distributed(monkeypatch, edges_per_block=32):
    """The engine's distributed leg with several hash blocks on a tiny
    input: the gate says no, and a block holds few edges."""
    from geohub_data_pipeline_spark.operators import fixpoint

    monkeypatch.setattr(G, "_fits_one_task", lambda df: False)
    monkeypatch.setattr(fixpoint, "_EDGES_PER_BLOCK", edges_per_block)


def test_bfs_in_task_matches_distributed(spark, monkeypatch):
    """bfs_hops: the single-task BFS emits exactly the distributed
    loop's rows, and the default tiny-input path really is in-task
    (MapInPandas in the plan)."""
    rng = random.Random(7)
    rows = list({(rng.randrange(40), rng.randrange(40))
                 for _ in range(120)})
    df = spark.createDataFrame(rows, "src long, dst long")
    local = G.bfs_hops(df, source=0)
    plan = local._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan          # the gate fired
    got_local = {(r.node, r.hop) for r in local.collect()}
    _force_distributed(monkeypatch)
    dist = G.bfs_hops(df, source=0)
    assert "MapInPandas" not in (
        dist._jdf.queryExecution().executedPlan().toString())
    assert got_local == {(r.node, r.hop) for r in dist.collect()}


def test_sssp_in_task_matches_distributed(spark, monkeypatch):
    rng = random.Random(13)
    rows = [(a, b, rng.randint(1, 9)) for a, b in
            {(rng.randrange(30), rng.randrange(30)) for _ in range(90)}]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    got_local = {(r.node, r.dist)
                 for r in G.sssp_bellman_ford(df, source=0).collect()}
    _force_distributed(monkeypatch)
    got_dist = {(r.node, r.dist)
                for r in G.sssp_bellman_ford(df, source=0).collect()}
    assert got_local == got_dist


def test_kcore_in_task_matches_distributed(spark, monkeypatch):
    rng, edges = _random_edges(9, n_nodes=30, n_edges=80)
    df = spark.createDataFrame(list(edges), "id_a long, id_b long")
    got_local = {(r.node, r.core_degree)
                 for r in G.kcore_members(df, k=3).collect()}
    _force_distributed(monkeypatch)
    got_dist = {(r.node, r.core_degree)
                for r in G.kcore_members(df, k=3).collect()}
    assert got_local == got_dist


def test_lpa_in_task_matches_distributed(spark, monkeypatch):
    rng, edges = _random_edges(15, n_nodes=30, n_edges=70)
    df = spark.createDataFrame(list(edges), "id_a long, id_b long")
    got_local = {(r.node, r.label)
                 for r in G.label_propagation(df, rounds=3).collect()}
    _force_distributed(monkeypatch)
    got_dist = {(r.node, r.label)
                for r in G.label_propagation(df, rounds=3).collect()}
    assert got_local == got_dist


def test_sssp_distributed_rounds_are_frontier_incremental(
        spark, monkeypatch, caplog):
    """Forced distributed SSSP (four hash blocks): the engine's
    per-round record (one DEBUG line per round: round, changed
    vertices, wall) shows only the frontier sending — a fan of 4 then
    one vertex a round down a 5-long chain — never all |V| vertices
    again."""
    import logging

    fan = [(0, i, 1) for i in range(1, 5)] + [(i, 5, 1) for i in range(1, 5)]
    chain = [(i, i + 1, 1) for i in range(5, 10)]
    df = spark.createDataFrame(fan + chain, "src long, dst long, w long")
    _force_distributed(monkeypatch, edges_per_block=4)
    caplog.set_level(logging.DEBUG,
                     logger="geohub_data_pipeline_spark.operators.fixpoint")
    got = {r.node: r.dist
           for r in G.sssp_bellman_ford(df, source=0).collect()}
    assert got == {0: 0, **{i: 1 for i in range(1, 5)},
                   **{i: i - 3 for i in range(5, 11)}}
    changed = [r.args[1] for r in caplog.records
               if r.name.endswith("fixpoint")]
    assert changed[:3] == [1, 4, 1]          # source, fan, chain head
    assert all(c == 1 for c in changed[2:-1]) and changed[-1] == 0
    assert sum(changed) == len(got)          # each vertex sends once
