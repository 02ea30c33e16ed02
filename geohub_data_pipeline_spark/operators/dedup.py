"""Deduplication operators for LLM training-data pipelines.

Five families, all shuffle-minimal:

* **exact**      — content-hash groupBy (one shuffle on a 32-byte key,
  never on the document body).
* **MinHash+LSH**— shingle -> signature -> band -> bucket self-join.
  Candidate generation cost is O(sum of bucket sizes squared) instead
  of O(N^2); at 100 TB the band-bucket join is the only shuffle and
  its key cardinality (band hashes) keeps partitions balanced unless
  a bucket is pathological (boilerplate docs) — cap bucket size before
  pairing to bound the blow-up.
* **SimHash**    — 64/16-bit fingerprint; near-dup candidates share a
  band of the fingerprint (hamming-ball blocking).
* **n-gram Jaccard** — exact verify step for candidate pairs.
* **embedding cosine** — semantic near-dup over a blocking key.

All built on functions/text.py Catalyst expressions — signature
computation is embarrassingly parallel map-side work.

The graph family that turns duplicate pairs into clusters and ranks
(``connected_components``, ``pagerank_fixed_point``) runs as vertex
programs on the fixpoint engine (``operators/fixpoint.py``), like the
iterative operators in ``operators/graph.py``.  ``alternating_cc``
keeps its own two legs: its star contraction rewrites the edge set
each round, which is not a vertex program.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geohub_data_pipeline_spark.functions import text as T
from geohub_data_pipeline_spark.operators.fixpoint import (
    MinPlus, Rank, vertex_fixpoint,
)
from geohub_data_pipeline_spark.operators.skew import (
    fits_one_task as _fits_one_task,
    rebalance_for_compute,
)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep-first exact dedup: one row per distinct content hash."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       n_funcs: int = T.MINHASH_FUNCS,
                       n_bands: int = T.LSH_BANDS) -> DataFrame:
    """Per-doc MinHash signature + LSH band hashes.

    Docs with fewer than SHINGLE_WORDS words are dropped (no shingle).
    """
    sh = T.word_shingles(F.col(text_col))
    # ``size(__sh) >= 1`` is equivalent to ``word count >= n`` (a doc
    # has a shingle iff it has at least SHINGLE_WORDS words) — but the
    # former, pushed below the projection, re-evaluates the whole
    # shingle transform per row just to test emptiness.  Filter on the
    # cheap word count instead; survivors compute shingles once.
    # The signature projection (~n_funcs x MAX_SHINGLES md5/doc) is
    # compute-bound, so its parallelism must not be capped by the
    # byte-sized scan split count — rebalance when the scan yields
    # fewer partitions than the cluster (identity at real scale).
    sig = rebalance_for_compute(
        df.filter(F.size(T.words(F.col(text_col))) >= T.SHINGLE_WORDS)
        .select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col), sh.alias("__sh")
    ).select(
        id_col,
        *[T.minhash(F.col("__sh"), j).alias(f"mh{j}") for j in range(n_funcs)],
    )
    band_cols = [
        T.lsh_band([F.col(f"mh{j}") for j in range(n_funcs)], b, n_bands)
        .alias(f"band{b}")
        for b in range(n_bands)
    ]
    return sig.select(id_col, *[F.col(f"mh{j}") for j in range(n_funcs)],
                      *band_cols)


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str,
                        n_bands: int = T.LSH_BANDS,
                        max_bucket: int = 1000) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band.

    Scale: explode to (band_idx, band_hash) and self-join on that key —
    the join key is a hash so it distributes; ``max_bucket`` drops
    pathological buckets (mass-boilerplate) whose pair count would be
    quadratic.  Result: (id_a < id_b, n_shared_bands).
    """
    bands = sig_df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(n_bands)])
        ).alias("band_idx", "band_hash"),
    )
    # NOT cached: every invocation recomputes the shingle->md5
    # signatures from source.  A .cache() here (removed r11) made
    # repeat executions of the same plan — including the bench's
    # timed repetitions — read the signatures back from memory
    # instead of computing them, so the recorded medians measured
    # cache reads, not the declared MinHash work.
    # bucket-local pair generation: ONE shuffle (groupBy bucket), then
    # the i<j combinations are a pure Catalyst expression over the
    # sorted id list — no bucket-size side-join, no self-join (which
    # shuffles the band table twice and re-keys it).  max_bucket
    # drops pathological buckets (mass boilerplate) whose local
    # pair count would be quadratic.
    buckets = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(F.transform(
                F.col("__ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("__ids"), i + F.lit(2), F.size("__ids")),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b"))),
            ))
        ).alias("__p")
    )
    return (
        pairs.select("__p.id_a", "__p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str,
                         bits: int = T.SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint + high/low band split for hamming blocking."""
    half = bits // 2
    fp = T.simhash(F.col(text_col), bits)
    # per-doc bit-vote folds are compute-bound — don't let a
    # byte-small scan cap the parallelism (identity at real scale)
    df = rebalance_for_compute(df.select(id_col, text_col))
    return df.select(
        id_col,
        fp.alias("simhash"),
        F.shiftright(fp, half).alias("band_hi"),
        fp.bitwiseAND(F.lit((1 << half) - 1)).alias("band_lo"),
    )


def jaccard_for_pairs(df: DataFrame, pairs: DataFrame, text_col: str,
                      id_col: str) -> DataFrame:
    """Exact token-set Jaccard for given candidate pairs (id_a, id_b).

    The verify stage after LSH candidate generation.  Plan: the
    candidate pairs join the raw (id, text) corpus twice on doc id,
    and tokenization (``array_distinct(split(text))``) happens ABOVE
    the joins — only the matched, pairs-sized rows ever tokenize.
    The pre-r11 shape tokenized the ENTIRE corpus on BOTH join legs
    (and paid a full-corpus rebalance exchange per leg) even though
    pair members are orders fewer than corpus docs; at 100 TB the
    verify stage's compute must be candidates-proportional, not
    corpus-proportional (guide §1.2 — don't compute what you throw
    away).  A doc in several pairs re-tokenizes once per pair, which
    is still ~|pairs| work.  The pairs side is orders smaller than
    the corpus and broadcasts (AQE picks this up from runtime
    stats), so the corpus is scanned but never shuffled.

    Pairs with an empty token intersection are dropped (inner-join
    semantics of the exploded formulation this replaces) — via an
    ``explode`` of a 0/1-element array rather than a Filter node: a
    Filter above a projection gets pushed through it by substituting
    the aliases, so the token arrays and their intersection would be
    re-evaluated once in the predicate and again in the output
    projection (Catalyst re-inlines across Filter/Project
    boundaries; only a Generate evaluates its expression exactly
    once per input row).  The nested ``_let`` bindings keep each
    token array and the intersection size bound once inside that
    single expression.  The jaccard value itself is the identical
    ``round(ni / (na + nb - ni), 6)``.
    """
    docs = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("__txt"))
    pair_j = T._let(
        F.array_distinct(T.words(F.col("__xa"))),
        lambda ta: T._let(
            F.array_distinct(T.words(F.col("__xb"))),
            lambda tb: T._let(
                F.size(F.array_intersect(ta, tb)),
                lambda ni: F.when(
                    ni >= 1,
                    F.array(F.round(
                        ni / (F.size(ta) + F.size(tb) - ni), 6)))
                .otherwise(F.array().cast("array<double>")))))
    return (
        pairs.select("id_a", "id_b")
        .join(docs.select(F.col("id").alias("id_a"),
                          F.col("__txt").alias("__xa")), "id_a")
        .join(docs.select(F.col("id").alias("id_b"),
                          F.col("__txt").alias("__xb")), "id_b")
        .select("id_a", "id_b", F.explode(pair_j).alias("jaccard"))
    )


def jaccard_consecutive(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token-set Jaccard for (id, id+1) pairs — the docs collapse
    map-side to (id, distinct-token array) and self-join once on the
    shifted id; the intersection is a per-row ``array_intersect``.
    One shuffle keyed on doc id (vs the exploded-token formulation's
    joins over every token occurrence); linear in corpus size.

    Pairs with an empty intersection are dropped (inner-join
    semantics of the token-level formulation this replaces).
    """
    docs = rebalance_for_compute(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.array_distinct(T.words(F.col(text_col))).alias("__toks"),
    )
    a = docs.select(F.col("id").alias("id_a"),
                    F.col("__toks").alias("__ta"))
    b = docs.select((F.col("id") - 1).alias("id_a"),
                    F.col("id").alias("id_b"),
                    F.col("__toks").alias("__tb"))
    return (
        a.join(b, "id_a")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("__ta", "__tb")).alias("n_inter"),
            F.size("__ta").alias("__na"), F.size("__tb").alias("__nb"),
        )
        .filter(F.col("n_inter") >= 1)
        .select(
            "id_a", "id_b", F.col("n_inter").cast("long").alias("n_inter"),
            F.round(F.col("n_inter")
                    / (F.col("__na") + F.col("__nb") - F.col("n_inter")), 6)
            .alias("jaccard"),
        )
    )


# Graph operators.  ``_fits_one_task`` is looked up per call: tests and
# the benchmark's leg recorder wrap it.

def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iters: int = 20) -> DataFrame:
    """Connected components over an undirected edge list — the
    transitive-closure step that turns verified duplicate PAIRS into
    duplicate CLUSTERS (a~b, b~c => {a,b,c} share one canonical id).

    Hash-to-min label propagation: every node starts labeled with
    itself; each round it takes the min label over itself and its
    neighbors; converged when no label changes (<= graph-diameter
    rounds — near-dup clusters are shallow, so this is small).

    The min-label program on the fixpoint engine: only the nodes
    whose label dropped last round send, so late rounds move only
    the shrinking frontier.  Raises if labels still change after
    ``max_iters`` rounds.  For graphs with huge diameter the
    large-star/small-star variant (``alternating_cc``) needs fewer
    rounds — not needed for dedup clusters.

    Returns (node, label) where label = min node id of the component.
    """
    # materialize once: the engine's blocks are built from it, and its
    # lineage may be an expensive pipeline (LSH candidates + verify)
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    return vertex_fixpoint(sym, MinPlus("label"), max_iters,
                           _fits_one_task(sym),
                           f"connected_components max_iters={max_iters}")


def _altcc_cap(cap) -> RuntimeError:
    return RuntimeError(
        f"alternating_cc max_iters={cap}: the fixpoint did not converge "
        f"— one round past the cap still changed the star edge set, so "
        f"the result would be truncated; raise the cap")


def alternating_cc(edges: DataFrame, src: str = "id_a",
                   dst: str = "id_b",
                   max_iters: int = 20) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC 2014) — same (node, label=component-min) contract as
    ``connected_components``, different round complexity.

    * **large-star(u)**: every *strictly larger* neighbor of u is
      re-linked to ``m = min(N(u) + {u})``.
    * **small-star(u)**: every *smaller* neighbor (and u itself) is
      re-linked to the minimum of u's smaller neighborhood.

    Each phase halves the height of the component's pointer tree, so
    convergence is O(log n) rounds *independent of graph diameter* —
    hash-to-min needs diameter rounds, which bites on chain-shaped
    components (boilerplate docs A~B~C~...~Z at 100 TB).  Per phase:
    one groupBy(min) + one join keyed on node ids, same shuffle
    profile as a hash-to-min round; ``localCheckpoint`` truncates the
    per-round lineage.  Convergence probe: the small-star output is a
    fixpoint when no (node, parent) pair changed.

    Returns (node, label), label = min node id of the component.
    """
    # materialize the INPUT once (r12): e and nodes both derive from
    # ``edges``, whose lineage may be an expensive pipeline (LSH
    # candidates + verify) — two independent localCheckpoints ran it
    # twice.  One narrow checkpoint of the two key columns feeds both.
    ed = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
          .localCheckpoint())
    # parent pointers, initialised from the symmetrised edge list
    e = (
        ed.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            ed.select(F.col("b").alias("u"), F.col("a").alias("v"))
            .filter(F.col("u") != F.col("v")))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        ed.select(F.col("a").alias("node"))
        .unionByName(ed.select(F.col("b").alias("node")))
        .distinct()
    )

    if _fits_one_task(e):
        # in-task leg (the edge set sits in one partition): identical
        # large-star / small-star round schedule over Python sets —
        # distinct-row semantics ARE set semantics, every quantity an
        # integer, so the star fixpoint is bit-identical (pinned by a
        # forced-distributed parity pytest); measured before:
        # dedup_cluster_altcc 49 jobs / 5.4 s, geo_line_merge 133
        # jobs / 10.9 s at sf0.01.  The final nodes-join below is
        # shared with the distributed path.
        cap = int(max_iters)

        def _run(it):
            import pandas as pd

            E: set = set()
            for pdf in it:
                E.update((int(a), int(b)) for a, b in
                         zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()))
            prev = None
            for _ in range(cap + 1):
                sym_l = E | {(b, a) for a, b in E}
                mn: dict = {}
                for su, sv in sym_l:
                    if sv < mn.get(su, sv + 1):
                        mn[su] = sv
                e1 = set()
                for su, sv in sym_l:
                    if sv > su:
                        m = mn[su] if mn[su] < su else su
                        if sv != m:
                            e1.add((sv, m))
                directed = {(a, b) if a > b else (b, a)
                            for a, b in e1}
                mn2: dict = {}
                for du, dv in directed:
                    if dv < mn2.get(du, dv + 1):
                        mn2[du] = dv
                e2 = set()
                for du, dv in directed:
                    m = mn2[du]
                    if dv != m:
                        e2.add((dv, m))
                    if du != m:
                        e2.add((du, m))
                E = e2
                if prev is not None and E == prev:
                    break
                prev = E
            else:
                raise _altcc_cap(cap)
            us = [a for a, _ in E]
            vs = [b for _, b in E]
            yield pd.DataFrame({"u": us, "v": vs}, dtype="int64")

        e = e.mapInPandas(_run, "u long, v long")
    else:
        prev = None
        for _ in range(int(max_iters) + 1):
            # large-star: group the full (symmetric) neighborhood of
            # u, link each v > u to min(N(u) + {u})
            # collision-free aliases throughout: re-using the u/v names
            # across self-union + self-join + swap-selects trips a
            # Catalyst internal attribute-resolution error
            # (NoSuchElementException: key not found) on checkpointed
            # lineages under the tuned session; fresh names avoid the
            # rewrite entirely.  min over N(u)+{u} is min-then-least on
            # the group key (first("u") in the aggregate is the same
            # bug class).
            sym = (e.select(F.col("u").alias("su"), F.col("v").alias("sv"))
                   .unionByName(e.select(F.col("v").alias("su"),
                                         F.col("u").alias("sv")))
                   .distinct())
            mins = (sym.groupBy("su").agg(F.min("sv").alias("__mn"))
                    .select("su", F.least(F.col("su"), F.col("__mn"))
                            .alias("__m")))
            e = (
                sym.join(mins, "su")
                .filter(F.col("sv") > F.col("su"))
                .select(F.col("sv").alias("u"), F.col("__m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            # small-star: direct every edge large->small, link each small
            # neighbor AND u itself to the min of the small neighborhood
            # collision-free aliases: swapping u/v names inside one
            # select trips the same Catalyst attribute-resolution error
            # as the large-star first("u") form on checkpointed lineages
            directed = e.select(
                F.greatest("u", "v").alias("du"),
                F.least("u", "v").alias("dv"))
            mins = directed.groupBy("du").agg(F.min("dv").alias("__m"))
            stars = directed.join(mins, "du")
            e = (
                stars.select(F.col("dv").alias("u"), F.col("__m").alias("v"))
                .unionByName(stars.select(F.col("du").alias("u"),
                                          F.col("__m").alias("v")))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            if prev is not None and (
                e.unionByName(prev).subtract(e.intersect(prev))
                .limit(1).count() == 0
            ):
                break
            prev = e
        else:
            raise _altcc_cap(max_iters)
    # fixpoint edges are (node, component-min) stars; roots label
    # themselves, as do any isolated self-loop inputs
    return (
        nodes.join(e.withColumnRenamed("u", "node"), "node", "left")
        .select("node", F.coalesce("v", "node").alias("label"))
    )


def substring_dup_spans(df: DataFrame, text_col: str, id_col: str,
                        k: int = 40) -> DataFrame:
    """Exact-substring deduplication, the distributed k-gram form of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): a character position is duplicated when its
    k-char gram occurs anywhere else in the corpus (another document
    OR another position of the same one); overlapping/contiguous
    duplicated windows merge into maximal spans (the byte ranges the
    suffix-array method would cut).

    Returns one row per document: ``n_dup_spans``, ``dup_chars``
    (union length of all spans), ``total_chars``.

    Scale: gram extraction is a Catalyst higher-order ``transform``
    + ``posexplode`` (map-side); duplicate marking is two-phase —
    partial-aggregated ``groupBy(gram)`` (hot grams collapse map-side)
    + a semi-join back on the 8-byte gram hash (the same bucket-join
    shape as the MinHash band stage, never all-pairs, no window over
    the raw gram stream); span merging is a per-document sort-window
    (gaps-and-islands), shuffled by doc id.
    Suffix arrays don't distribute; k-gram marking is the published
    scalable equivalent and finds the identical >= k duplicated
    ranges.
    """
    # documents shorter than k carry no k-gram.  The filter must be
    # explicit: sequence(1, 0) is the DESCENDING [1, 0] in Spark, and
    # substr(text, 0, k) == substr(text, 1, k), so without it a short
    # doc emits two identical grams and marks ITSELF duplicated.
    grams = df.filter(F.length(text_col) >= k).select(
        F.col(id_col),
        F.length(text_col).alias("total_chars"),
        F.posexplode(
            F.expr(f"transform(sequence(1, length({text_col})"
                   f" - {k - 1}), i -> "
                   f"xxhash64(substr({text_col}, i, {k})))")
        ).alias("pos0", "gram"),
    ).select(
        id_col, "total_chars", (F.col("pos0") + 1).alias("start"), "gram",
    )

    # duplicate marking: two-phase, never a window over the raw gram
    # stream.  A count() OVER (PARTITION BY gram) puts EVERY
    # occurrence of a corpus-hot k-gram (boilerplate headers,
    # whitespace runs — exactly what dedup corpora are full of) into
    # one window partition that must be fully buffered: a straight-
    # to-spill skew cell at 100 TB.  groupBy(gram) instead collapses
    # the hot gram map-side (partial aggregation: one row per task
    # before the shuffle), and the semi-join back streams the probe
    # side — AQE's skew-join split handles any residual hot key, and
    # converts the build side to broadcast when the duplicate-gram
    # set is small.
    dup_grams = (grams.groupBy("gram").count()
                 .filter(F.col("count") > 1).select("gram"))
    marked = grams.join(dup_grams, "gram", "leftsemi").drop("gram")

    w = (Window.partitionBy(id_col).orderBy("start")
         .rowsBetween(Window.unboundedPreceding, -1))
    islands = marked.select(
        id_col, "total_chars", "start",
        F.when(
            F.col("start") > F.coalesce(F.max(F.col("start") + k - 1)
                                        .over(w), F.lit(-1)) + 1,
            1).otherwise(0).alias("is_new"),
    ).withColumn(
        "island",
        F.sum("is_new").over(
            Window.partitionBy(id_col).orderBy("start")
            .rowsBetween(Window.unboundedPreceding, 0)),
    )

    spans = islands.groupBy(id_col, "total_chars", "island").agg(
        F.min("start").alias("s0"),
        (F.max("start") + k - 1).alias("s1"),
    )
    return spans.groupBy(id_col, "total_chars").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum(F.col("s1") - F.col("s0") + 1).cast("long")
        .alias("dup_chars"),
    ).select(id_col, "n_dup_spans", "dup_chars",
             F.col("total_chars").cast("long"))


def semdedup(vecs: DataFrame, centroid_every: int = 40,
             tau: float = 0.2,
             centroids: DataFrame | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"):
    cluster the embedding space, then inside each cluster remove all
    but one member of every semantic-duplicate group (cosine >= tau),
    keeping the member with the LOWEST similarity to its centroid —
    the paper's keep rule (§3: low-similarity members preserve
    diversity/outliers).

    Codebook: pass ``centroids`` (cid, cv) for a production codebook
    (see ``semdedup_kmeans`` — k-means||, O(k) broadcast bounded by
    the cluster count, NOT the corpus); without it, deterministic
    centroids (every ``centroid_every``-th vector) keep the result
    oracle-checkable at test SF.  The default codebook grows O(n/40)
    with the corpus — gate-SF only, never the 100 TB path.

    Returns one row per vector: (vec_id, cluster, cent_sim, removed).

    Scale: assignment is a broadcast join against the (bounded)
    codebook + one vec_id-keyed window; the duplicate scan is a
    cluster-keyed self-join — pair count is bounded by cluster sizes
    (the whole point of clustering first), never corpus-quadratic.
    """
    from pyspark.sql import Window as W

    from geohub_data_pipeline_spark.functions import vectors as V
    from geohub_data_pipeline_spark.operators.similarity import with_norm
    from pyspark.sql.functions import broadcast

    n = with_norm(vecs.select("vec_id", "vec"))
    if centroids is not None:
        cents = with_norm(
            centroids.select("cid", F.col("cv").alias("vec")), "vec",
        ).select("cid", F.col("vec").alias("cv"),
                 F.col("__norm").alias("cnrm"))
    else:
        cents = (n.filter(F.col("vec_id") % centroid_every == 0)
                 .select(F.col("vec_id").alias("cid"),
                         F.col("vec").alias("cv"),
                         F.col("__norm").alias("cnrm")))
        # an id space with no multiple of centroid_every would yield
        # an empty codebook and silently drop the corpus (the cross
        # join returns nothing) — fall back to the minimum id as the
        # single centroid.  Driver cost: one bounded limit(1) probe.
        if cents.limit(1).count() == 0:
            cents = (n.orderBy("vec_id").limit(1)
                     .select(F.col("vec_id").alias("cid"),
                             F.col("vec").alias("cv"),
                             F.col("__norm").alias("cnrm")))
    scored = n.join(broadcast(cents)).select(
        "vec_id", "vec", "__norm", "cid",
        V.cosine(F.col("vec"), F.col("cv"),
                 F.col("__norm"), F.col("cnrm")).alias("cs"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("cid"))
    assigned = (scored.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1)
                .select("vec_id", "vec", "__norm",
                        F.col("cid").alias("cluster"),
                        F.col("cs").alias("cent_sim")))
    # three consumers (both sides of the duplicate self-join + the
    # final projection) would each recompute the corpus x codebook
    # dot products — materialize the assignment once.
    # localCheckpoint, NOT cache(): the service is a long-lived
    # session and cache entries persist in the CacheManager until an
    # explicit unpersist (which a lazily-returned DataFrame can't
    # schedule); localCheckpoint blocks are reclaimed by the
    # ContextCleaner as soon as callers drop the result, bounding
    # executor storage across repeated calls.
    assigned = assigned.localCheckpoint(eager=True)

    a = assigned.select(F.col("vec_id").alias("id_a"),
                        F.col("vec").alias("va"),
                        F.col("__norm").alias("na"),
                        F.col("cluster").alias("cl_a"),
                        F.col("cent_sim").alias("sim_a"))
    b = assigned.select(F.col("vec_id").alias("id_b"),
                        F.col("vec").alias("vb"),
                        F.col("__norm").alias("nb"),
                        F.col("cluster").alias("cl_b"),
                        F.col("cent_sim").alias("sim_b"))
    losers = (
        a.join(b, (F.col("cl_b") == F.col("cl_a"))
               & (F.col("id_b") != F.col("id_a")))
        .filter(V.cosine(F.col("va"), F.col("vb"),
                         F.col("na"), F.col("nb")) >= tau)
        # the PEER keeps when it has LOWER centroid similarity (the
        # paper keeps the low-similarity member; ties by smaller id);
        # then I am the removed one
        .filter((F.col("sim_b") < F.col("sim_a"))
                | ((F.col("sim_b") == F.col("sim_a"))
                   & (F.col("id_b") < F.col("id_a"))))
        .select(F.col("id_a").alias("vec_id")).distinct()
        .withColumn("removed", F.lit(True))
    )
    return (
        assigned.join(losers, "vec_id", "left")
        .select("vec_id", F.col("cluster").cast("long"),
                F.round("cent_sim", 6).alias("cent_sim"),
                F.coalesce("removed", F.lit(False)).alias("removed"))
    )


def semdedup_kmeans(vecs: DataFrame, k: int = 8, iters: int = 2,
                    tau: float = 0.2) -> DataFrame:
    """SemDeDup over a PRODUCTION codebook: deterministic k-means||
    (``lloyd_kmeans(init='parallel')``) supplies exactly ``k``
    centroids, so the assignment broadcast is O(k * dims) regardless
    of corpus size — the bounded shape the 100 TB path needs (the
    default ``semdedup`` codebook grows O(n/centroid_every) and is a
    driver OOM at scale).

    Same keep rule and output schema as ``semdedup``.  Deterministic
    end to end (k-means|| here is the derandomized oversampling
    init), so the result is oracle-checkable.
    """
    from geohub_data_pipeline_spark.operators.similarity import lloyd_kmeans

    _, cents = lloyd_kmeans(vecs.select("vec_id", "vec"), k=k,
                            iters=iters, init="parallel")
    codebook = cents.select(F.col("cell").cast("long").alias("cid"),
                            F.col("centroid").alias("cv"))
    return semdedup(vecs, tau=tau, centroids=codebook)


def triangle_counts(edges: DataFrame, src: str = "id_a",
                    dst: str = "id_b") -> DataFrame:
    """Per-node triangle counts over an undirected graph — the
    degree-ORIENTED algorithm (Cohen / Suri-Vassilvitskii): each
    undirected edge is directed from its lower-degree endpoint to
    the higher (ties by id), every triangle then appears as exactly
    one wedge a->b, b->c closed by a->c, and the wedge fan-out per
    node is bounded by its ORIENTED out-degree <= sqrt(2m) — the
    bound that keeps skewed (power-law) graphs from exploding the
    join, which is why this shape survives a hub node at 100 TB
    where the naive three-way self-join does not.

    Plan: one degree aggregation, one broadcast-or-shuffle join to
    orient, one self-join on the wedge midpoint, one semi-join
    against the oriented edge set to close wedges, and a final
    explode + count per corner.  Input rows may list an edge in
    either or both directions; self-loops and duplicates are
    dropped.

    Output: ``node long, n_triangles long`` (nodes in no triangle
    omitted — a left join against the vertex set restores them if
    the caller needs zeros).
    """
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .select(F.least("u", "v").alias("u"),
                 F.greatest("u", "v").alias("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("n"))
           .unionAll(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient low-degree -> high-degree (ties: smaller id first)
    oriented = (e.join(du, "u").join(dv, "v")
                .select(
                    F.when((F.col("du") < F.col("dv"))
                           | ((F.col("du") == F.col("dv"))
                              & (F.col("u") < F.col("v"))),
                           F.struct(F.col("u").alias("a"),
                                    F.col("v").alias("b")))
                    .otherwise(F.struct(F.col("v").alias("a"),
                                        F.col("u").alias("b")))
                    .alias("e"))
                .select("e.a", "e.b"))
    w1 = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = oriented.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = w1.join(w2, "y").filter(F.col("x") != F.col("z"))
    closing = oriented.select(F.col("a").alias("x"),
                              F.col("b").alias("z"))
    tri = wedges.join(closing, ["x", "z"], "left_semi")
    corners = tri.select(F.explode(F.array("x", "y", "z"))
                         .alias("node"))
    return (corners.groupBy("node")
            .agg(F.count(F.lit(1)).alias("n_triangles")))


def pagerank_fixed_point(edges: DataFrame, n_iters: int = 3,
                         src: str = "src", dst: str = "dst",
                         scale: int = 1_000_000,
                         damping_num: int = 17,
                         damping_den: int = 20) -> DataFrame:
    """PageRank over a directed graph in FIXED-POINT integer
    arithmetic — rank held in ``scale``-ths (millionths by default)
    and the damped update computed as

        R_{k+1}(v) = ((den-num)*scale) div den
                     + (num * sum_{u->v} (R_k(u) div outdeg(u))) div den

    with integer division throughout (damping num/den = 17/20 =
    0.85).  Every quantity is an exact integer, so the result is
    bit-identical regardless of partitioning, summation order, or
    engine — the property the value-hash gate needs and the reason
    production ranking systems run integer PageRank (float partial
    sums reorder under retries).  Dangling mass is dropped (nodes
    with no out-edges contribute nothing), the common simplified
    form; R0 = scale for every node.

    A fixed-round vertex program on the fixpoint engine: each round
    every node sends ``rank div outdeg`` along its out-edges (summed
    per sender block and cached at the receiver), and edges never
    move after the blocks are built.

    Output: ``node long, rank_fp long`` (rank in scale-ths, all
    nodes present).
    """
    # materialize the deduped edge relation once: the one-task gate
    # reads its partition count and the engine builds its blocks
    # from it
    e = (edges.select(F.col(src).cast("long").alias("s"),
                      F.col(dst).cast("long").alias("t"))
         .filter(F.col("s") != F.col("t"))
         .distinct()
         .localCheckpoint())
    return vertex_fixpoint(
        e, Rank(int(n_iters), int(scale), int(damping_num),
                int(damping_den)),
        n_iters, _fits_one_task(e), f"pagerank_fixed_point n_iters={n_iters}")


def sparse_cosine_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", min_df: int = 2,
                        max_df: int = 20,
                        threshold: float = 0.5) -> DataFrame:
    """Near-duplicate pairs by COSINE over sparse shingle-count
    vectors, via an inverted-index join — the classic document-
    similarity self-join shape (term-keyed postings, never doc x doc).

    Terms are word 3-gram shingles (functions/text.py word_shingles,
    the same space the MinHash pipeline hashes): unigrams carry no
    signal on a small shared vocabulary, and shingles are what make
    the df band meaningful — the vector space is shingles appearing
    in [min_df, max_df] documents.  min_df=2 drops unpairable
    hapaxes; max_df caps every posting list, which bounds the
    per-term pair fan-out at C(max_df, 2) and keeps the join
    sub-quadratic at corpus scale (boilerplate shingles are exactly
    the ones that would otherwise explode, and their idf ~ 0).

    Exactness: dot products and squared norms are INTEGER sums
    (order-independent), and the cosine is one correctly-rounded
    sqrt/multiply/divide chain — bit-identical across engines and
    partitionings, so the value-hash gate can pin it.

    Plan: one (doc, term) count shuffle, one term df aggregation
    (broadcast back), one term-keyed postings self-join, one
    (doc_a, doc_b) sum shuffle.  Output:
    ``doc_a, doc_b, cos_sim`` (cos >= threshold, doc_a < doc_b,
    cosine rounded to 6).
    """
    from geohub_data_pipeline_spark.functions import text as T

    tok = rebalance_for_compute(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.explode(T.word_shingles(F.col(text_col))).alias("term"))
    c = tok.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tc"))
    dfq = c.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    kept = (c.join(F.broadcast(dfq.filter(
                (F.col("dfreq") >= min_df)
                & (F.col("dfreq") <= max_df))), "term")
            .select("_id", "term", "tc"))
    n2 = kept.groupBy("_id").agg(
        F.sum(F.col("tc") * F.col("tc")).alias("nn"))
    a = kept.select(F.col("term"), F.col("_id").alias("doc_a"),
                    F.col("tc").alias("tca"))
    b = kept.select(F.col("term"), F.col("_id").alias("doc_b"),
                    F.col("tc").alias("tcb"))
    pairs = (a.join(b, "term")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.sum(F.col("tca") * F.col("tcb")).alias("dot")))
    na = n2.select(F.col("_id").alias("doc_a"), F.col("nn").alias("na"))
    nb = n2.select(F.col("_id").alias("doc_b"), F.col("nn").alias("nb"))
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("na").cast("double"))
              * F.sqrt(F.col("nb").cast("double"))))
    return (pairs.join(na, "doc_a").join(nb, "doc_b")
            .filter(cos >= float(threshold))
            .select("doc_a", "doc_b",
                    (F.round(cos, 6) + F.lit(0.0)).alias("cos_sim")))
