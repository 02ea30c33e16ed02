"""Graph analytics beyond dedup clustering: BFS, k-core, link
prediction, label-propagation communities.

The dedup module owns the graph shapes the duplicate pipeline needs
(connected components, triangles, PageRank); this module adds the
general graph-analytics operators a training-data pipeline reaches for
when it treats its corpus as a graph — crawl-frontier reachability
(BFS), spam-farm / boilerplate-kernel extraction (k-core),
citation/link prediction (common-neighbor scoring), and community
detection that a single bridge edge does not collapse
(label_propagation).

The iterative ones (BFS, SSSP, k-core, LPA) are vertex programs on
the fixpoint engine (``operators/fixpoint.py``): each operator
materializes its edge relation once (``localCheckpoint``), asks
``_fits_one_task`` whether it sits in one partition, and makes one
``vertex_fixpoint`` call.  In one partition the whole round schedule
runs inside one ``mapInPandas`` task; otherwise vertex state sits in
hash blocks partitioned once, and each round only the vertices that
changed send along their out-edges.  State is integer-exact (hop
counts, distances, degrees, labels), so both modes emit the same rows
and the value-hash oracle compares bit-for-bit; every round cap
raises instead of returning a truncated result.

Reference parity: the reference pipeline has no graph engine at all —
these cover the "beyond the reference: large-scale training-data
pipeline" bucket (SURVEY.md §2 addendum), same as operators/dedup.py's
graph family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geohub_data_pipeline_spark.operators.fixpoint import (
    Core, MinPlus, Vote, vertex_fixpoint,
)
from geohub_data_pipeline_spark.operators.skew import fits_one_task

# Looked up per call (tests and the benchmark's leg recorder wrap it):
# True when the checkpointed edge relation sits in one partition, and
# the engine then runs the whole schedule inside one task.
_fits_one_task = fits_one_task


def bfs_hops(edges: DataFrame, source: int, src: str = "src",
             dst: str = "dst", max_hops: int = 20) -> DataFrame:
    """Single-source shortest HOP counts over a directed graph by
    frontier-expansion BFS — ``(node, hop)`` for every node reachable
    from ``source`` within ``max_hops`` (the source itself at hop 0).

    The min-plus program with unit steps: a node's hop drops to one
    more than a reached in-neighbour's, and only the nodes whose hop
    just dropped send, so a round's messages are the BFS layer.  The
    fixpoint is exactly ``min(hop)`` over all paths (what the
    recursive-CTE oracle computes).  Raises if the frontier still
    moves after ``max_hops`` rounds.
    """
    e = (edges.select(F.col(src).cast("long").alias("s"),
                      F.col(dst).cast("long").alias("t"))
         .filter(F.col("s") != F.col("t"))
         .distinct()
         .localCheckpoint())
    return vertex_fixpoint(e, MinPlus("hop", source=int(source), step=1),
                           max_hops, _fits_one_task(e),
                           f"bfs_hops max_hops={max_hops}")


def kcore_members(edges: DataFrame, k: int, src: str = "id_a",
                  dst: str = "id_b", max_iters: int = 30) -> DataFrame:
    """The k-core of an undirected graph — the maximal subgraph in
    which every node has degree >= k — by iterative peeling: drop all
    nodes with degree < k, recompute degrees in what remains, repeat
    to fixpoint.  The peel is monotone (the alive edge set only
    shrinks), so the fixpoint is unique and equals the standard
    k-core regardless of round grouping — which is what lets a
    round-unrolled SQL oracle reproduce it exactly.  If the peel
    has not converged within ``max_iters`` rounds the function
    RAISES rather than return the (wrong) intermediate set — long
    path-like graphs peel only their endpoints each round, so the
    cap is reachable on legitimate inputs.

    On the engine each round peels every live node whose live degree
    is below ``k``; a node that died sends its neighbours the count
    of dead neighbours, so only the peeled layer sends.

    Returns ``(node, core_degree)`` — members of the k-core with
    their degree inside the core, the number production spam-kernel
    extraction thresholds on.
    """
    alive = (edges.select(F.col(src).cast("long").alias("u"),
                          F.col(dst).cast("long").alias("v"))
             .filter(F.col("u") != F.col("v"))
             .select(F.least("u", "v").alias("u"),
                     F.greatest("u", "v").alias("v"))
             .distinct()
             .localCheckpoint())
    # round 0 already peels on the full degree: max_iters peels are
    # rounds 0 .. max_iters - 1
    return vertex_fixpoint(alive, Core(int(k)), max(int(max_iters) - 1, 0),
                           _fits_one_task(alive),
                           f"kcore_members max_iters={max_iters}")


def common_neighbor_pairs(edges: DataFrame, min_common: int = 2,
                          src: str = "id_a", dst: str = "id_b",
                          deg_cap: int = 32) -> DataFrame:
    """Link prediction by common-neighbor counting: for every node
    pair (a, b), a < b, the number of shared neighbors and the
    neighborhood-Jaccard in exact parts-per-million —
    ``jaccard_ppm = (1_000_000 * common) div (deg(a)+deg(b)-common)``
    (integer division, so bit-exact across engines).

    The pair fan-out comes from a wedge self-join keyed on the shared
    MIDDLE node, so a middle of degree d emits C(d, 2) pairs; middles
    with degree > ``deg_cap`` are excluded from wedge formation (the
    standard link-prediction move — a hub shared by everyone carries
    no signal, and C(hub_degree, 2) is exactly the blow-up that kills
    the join at 100 TB).  Pair degrees (for the Jaccard denominator)
    still count ALL neighbors, capped middles included.

    Plan: one degree aggregation, one semi-join to drop capped
    middles, one middle-keyed self-join, one (a, b) count shuffle,
    two broadcast-sized degree joins.  Output:
    ``(node_a, node_b, common_cnt, jaccard_ppm)``.
    """
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    adj = (e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
           .unionAll(e.select(F.col("v").alias("node"),
                              F.col("u").alias("nbr"))))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    ok_mid = (deg.filter(F.col("d") <= deg_cap)
              .select(F.col("node").alias("nbr")))
    wedge_adj = adj.join(ok_mid, "nbr", "left_semi")
    a = wedge_adj.select(F.col("node").alias("node_a"), "nbr")
    b = wedge_adj.select(F.col("node").alias("node_b"), "nbr")
    pairs = (a.join(b, "nbr")
             .filter(F.col("node_a") < F.col("node_b"))
             .groupBy("node_a", "node_b")
             .agg(F.count(F.lit(1)).alias("common_cnt"))
             .filter(F.col("common_cnt") >= min_common))
    da = deg.select(F.col("node").alias("node_a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("d").alias("db"))
    return (pairs.join(da, "node_a").join(db, "node_b")
            .select("node_a", "node_b", "common_cnt",
                    F.expr("(1000000 * common_cnt) div "
                           "(da + db - common_cnt)").alias("jaccard_ppm")))


def label_propagation(edges: DataFrame, rounds: int = 3,
                      src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    et al. 2007), made DETERMINISTIC: every node starts labeled with
    itself; each round it adopts the label with the highest vote
    count among its neighbors PLUS its own current label, ties
    broken by the smaller label.  The classic LPA breaks ties
    randomly; the (count desc, label asc) rule makes the same input
    produce the same communities on any engine/partitioning — the
    oracle requirement — while keeping the community behavior
    connected components cannot give (a single bridge edge does NOT
    merge two dense blocks, because one vote loses to many).

    Runs a FIXED number of synchronous rounds (callers pick small
    rounds; LPA famously converges in ~5), so a round-unrolled SQL
    oracle can reproduce it exactly — no convergence probe needed.

    On the engine every node sends its label along its edges each
    round (votes are counted per sender block and cached at the
    receiver) for exactly ``rounds`` rounds.

    Returns ``(node, label)``.
    """
    sym = (edges.select(F.col(src).cast("long").alias("u"),
                        F.col(dst).cast("long").alias("v"))
           .filter(F.col("u") != F.col("v"))
           .select(F.least("u", "v").alias("u"),
                   F.greatest("u", "v").alias("v"))
           .distinct()
           .localCheckpoint())
    return vertex_fixpoint(sym, Vote(int(rounds)), int(rounds),
                           _fits_one_task(sym),
                           f"label_propagation rounds={rounds}")


def sssp_bellman_ford(edges: DataFrame, source: int,
                      src: str = "src", dst: str = "dst",
                      weight: str = "w",
                      max_rounds: int = 40) -> DataFrame:
    """Single-source shortest WEIGHTED paths by distributed
    Bellman-Ford relaxation: each round extends every currently
    reached node's distance across its out-edges and folds with
    min() — the min-plus matrix-vector step — until no distance
    improves.  Weights are non-negative INTEGERS (caller contract),
    so distances are exact and the fixpoint is the true shortest
    path cost; convergence takes at most (longest shortest path's
    edge count) rounds.

    Complements ``bfs_hops`` (unit weights): BFS's first-reach
    trick is wrong under weights — a later-relaxed path may be
    cheaper — so state here is (node, best-so-far) and rounds fold
    with min.  Like ``kcore_members``, the cap is loud: if the
    relaxation has not converged within ``max_rounds`` the function
    RAISES rather than return inflated distances.

    The min-plus program with edge weights: only the nodes whose
    distance improved last round send, so the traffic follows the
    relaxation frontier.

    Returns ``(node, dist)`` over reached nodes.
    """
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"),
                      F.col(weight).cast("long").alias("w"))
         .filter(F.col("u") != F.col("v"))
         .groupBy("u", "v").agg(F.min("w").alias("w"))
         .localCheckpoint())
    return vertex_fixpoint(e, MinPlus("dist", source=int(source)),
                           max_rounds, _fits_one_task(e),
                           f"sssp_bellman_ford max_rounds={max_rounds}")
