"""Mergeable quantile sketch (KLL-style compactor hierarchy).

The bounded-memory distributed-quantiles primitive (Karnin-Lang-
Liberty 2016): every partition folds its values into an O(k log n)
compactor stack, the per-partition sketches (model-sized, never data)
collect to the driver and merge associatively, and any quantile reads
off the merged weighted item set.  This is how a 100 TB column gets
percentiles in ONE pass with a few KB per executor — the same
mergeable-partial shape as the HLL / count-min entries.

DETERMINISM over randomness: the classic KLL compacts by keeping a
random parity of each sorted level; this implementation alternates
the parity with a per-level toggle instead, so the same input in the
same partition layout produces the identical sketch (the oracle
requirement), at the cost of the randomized estimator's
distribution-free guarantee.  The rank-error INVARIANT the gate pins
(measured true rank error <= 2 * n * levels / k) holds for the
deterministic variant on any input; the registry query measures it
against an exact second pass.

Cites reference behavior: the reference has no sketch machinery; this
extends the engine's curation toolbox (SURVEY §2-beyond).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class KLL:
    """Deterministic KLL compactor stack over float64 values."""

    def __init__(self, k: int = 256):
        self.k = int(k)
        self.levels: list[list[float]] = [[]]
        self.toggles: list[bool] = [False]
        self.n = 0

    def _cap(self, i: int) -> int:
        # geometrically shrinking caps, floor 2 — the standard KLL
        # schedule with c = 2/3
        c = (2.0 / 3.0) ** (len(self.levels) - 1 - i)
        return max(2, int(self.k * c))

    def add(self, v: float) -> None:
        self.levels[0].append(float(v))
        self.n += 1
        self._maybe_compact()

    def extend(self, arr) -> None:
        a = np.asarray(arr, np.float64)
        a = a[~np.isnan(a)]
        self.levels[0].extend(a.tolist())
        self.n += int(a.size)
        self._maybe_compact()

    def _maybe_compact(self) -> None:
        i = 0
        while i < len(self.levels):
            if len(self.levels[i]) > self._cap(i):
                self._compact(i)
            i += 1

    def _compact(self, i: int) -> None:
        if i + 1 == len(self.levels):
            self.levels.append([])
            self.toggles.append(False)
        lv = sorted(self.levels[i])
        off = 1 if self.toggles[i] else 0
        self.toggles[i] = not self.toggles[i]
        self.levels[i + 1].extend(lv[off::2])
        self.levels[i] = []

    def merge(self, other: "KLL") -> "KLL":
        while len(self.levels) < len(other.levels):
            self.levels.append([])
            self.toggles.append(False)
        for i, lv in enumerate(other.levels):
            self.levels[i].extend(lv)
        self.n += other.n
        self._maybe_compact()
        return self

    def _weighted(self):
        items, weights = [], []
        for i, lv in enumerate(self.levels):
            items.extend(lv)
            weights.extend([1 << i] * len(lv))
        order = np.argsort(np.asarray(items), kind="stable")
        it = np.asarray(items, np.float64)[order]
        wt = np.asarray(weights, np.int64)[order]
        return it, wt

    def quantile(self, q: float) -> float:
        it, wt = self._weighted()
        if it.size == 0:
            return float("nan")
        target = q * float(wt.sum())
        cum = np.cumsum(wt)
        idx = int(np.searchsorted(cum, target, side="left"))
        return float(it[min(idx, it.size - 1)])

    def to_rows(self):
        """(level, values) rows plus one (-1, [n]) row carrying the
        EXACT count: compaction only approximately conserves total
        weight (an odd level drops/keeps one item at double weight),
        so n must ride explicitly — as every production sketch
        does."""
        rows = [(i, lv) for i, lv in enumerate(self.levels) if lv]
        rows.append((-1, [float(self.n)]))
        return rows

    @classmethod
    def from_rows(cls, rows, k: int = 256) -> "KLL":
        s = cls(k)
        for lvl, vals in rows:
            if int(lvl) < 0:
                s.n += int(vals[0])
                continue
            while len(s.levels) <= int(lvl):
                s.levels.append([])
                s.toggles.append(False)
            s.levels[int(lvl)].extend(float(v) for v in vals)
        s._maybe_compact()
        return s


def kll_quantiles(df: DataFrame, value_col: str,
                  quantiles: list[float], k: int = 256):
    """One-pass distributed quantiles: per-partition KLL sketches
    via mapInPandas (Arrow batches straight into the compactor),
    sketch ROWS (level, values) shuffled to the driver — bounded by
    partitions x k log n, never data — merged associatively, and
    the requested quantiles read off the merged stack.  Returns
    ``(estimates dict, total n)``."""
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.session import ship_package
    ship_package(df.sparkSession)
    kk = int(k)

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = KLL(kk)
        for pdf in it:
            s.extend(pdf[value_col].to_numpy(np.float64,
                                             na_value=np.nan))
        rows = s.to_rows()
        yield pd.DataFrame({
            "lvl": [r[0] for r in rows],
            "vals": [r[1] for r in rows]})

    parts = df.select(value_col).mapInPandas(
        build, "lvl int, vals array<double>").collect()
    merged = KLL.from_rows([(r["lvl"], r["vals"]) for r in parts], kk)
    return {q: merged.quantile(q) for q in quantiles}, merged.n


def _true_rank_errors(df: DataFrame, value_col: str,
                      est: dict) -> DataFrame:
    """Exact second pass: for every estimated quantile, the true
    rank of the estimate (count of values <= it) in ONE aggregate."""
    aggs = [F.sum(F.when(F.col(value_col) <= float(v), 1)
                  .otherwise(0)).alias(f"r_{i}")
            for i, v in enumerate(est.values())]
    return df.agg(*aggs)


def kll_quantiles_grouped(df: DataFrame, group_col: str,
                          value_col: str, quantiles: list[float],
                          k: int = 256) -> DataFrame:
    """Per-GROUP one-pass quantiles — the mergeable property doing
    the work it exists for: each task keeps one compactor stack PER
    GROUP it sees (map-side dict), emits sketch rows (group, level,
    values), and the only shuffle carries those rows keyed by group
    — bounded by groups x partitions x k log n, never data.  The
    per-group merge + quantile read happens inside applyInPandas on
    the group key, so no single node ever holds more than one
    group's sketches.

    Output: ``(group, q, est, n)`` — n is the exact per-group count
    (carried in the sketches' -1 rows, summed at merge).
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.session import ship_package
    ship_package(df.sparkSession)
    kk = int(k)
    qs = [float(q) for q in quantiles]

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict = {}
        for pdf in it:
            for g, sub in pdf.groupby(group_col, sort=False):
                s = sketches.get(g)
                if s is None:
                    s = sketches[g] = KLL(kk)
                s.extend(sub[value_col].to_numpy(np.float64,
                                                 na_value=np.nan))
        rows = []
        for g, s in sketches.items():
            for lvl, vals in s.to_rows():
                rows.append((g, lvl, list(vals)))
        yield pd.DataFrame(rows, columns=[group_col, "level", "vals"])

    sk_rows = df.select(group_col, value_col).mapInPandas(
        build, f"{group_col} string, level int, vals array<double>")

    def finish(key, pdf):
        s = KLL.from_rows(
            list(zip(pdf["level"], pdf["vals"])), kk)
        return pd.DataFrame(
            [(key[0], q, s.quantile(q), s.n) for q in qs],
            columns=[group_col, "q", "est", "n"])

    return (sk_rows.groupBy(group_col).applyInPandas(
        finish, f"{group_col} string, q double, est double, n long"))


# ---------------------------------------------------------------------------
# KMV / theta distinct-count sketch with set operations
# ---------------------------------------------------------------------------

_FLIP = np.uint64(0x8000000000000000)    # signed -> unsigned order flip
_U64 = float(2 ** 64)


def _kmv_merge(arrays, k: int):
    """k smallest DISTINCT flipped-u64 hashes across sketch arrays."""
    if not arrays:
        return np.empty(0, dtype=np.uint64)
    u = np.unique(np.concatenate(arrays))
    return u[:k]


def _kmv_estimate(mins: np.ndarray, k: int) -> float:
    """(k-1) * 2^64 / h_k — or the exact size when the sketch holds
    everything (fewer than k distinct hashes seen)."""
    if len(mins) < k:
        return float(len(mins))
    return (k - 1) * _U64 / float(int(mins[k - 1]) + 1)


def kmv_setop_estimates(dfa: DataFrame, dfb: DataFrame, col: str,
                        k: int = 4096) -> dict:
    """Distinct-count estimates for A, B, A∪B, A∩B, A\\B from ONE
    pass over each side — the KMV / theta-sketch construction
    (Bar-Yossef et al. 2002; Dasgupta et al., the DataSketches theta
    sketch): per partition keep the k smallest DISTINCT hash values;
    sketches merge associatively (k smallest of the union), so the
    shuffle carries at most ``partitions x k`` longs — never data.

    Set semantics come from the theta view: with
    ``theta_X = h_k(X)`` (or 2^64 when the sketch is exhaustive),
    every sketch is a uniform hash sample below its theta, so below
    ``theta = min(theta_A, theta_B)`` membership tests against the
    other sketch are EXACT and

        |A ∩ B|  ≈  |{h ∈ S_A ∩ S_B : h < theta}| * 2^64 / theta
        |A \\ B| ≈  |{h ∈ S_A \\ S_B : h < theta}| * 2^64 / theta

    while the union re-estimates from the merged k smallest.  When
    both sides hold fewer than k distinct values the sketches are
    exhaustive and every estimate is EXACT — the property the
    small-SF gates pin bit-for-bit; at large SF the estimates carry
    the ~1/sqrt(k-1) relative standard error the gate bounds.

    Hashing is JVM-side ``xxhash64`` (one whole-stage-codegen
    projection); the Python side only ever sees per-partition min
    arrays through Arrow as exact int64 bit patterns (a double would
    silently round 64-bit hashes).  The driver merge handles
    ``2 x partitions`` arrays of ≤ k longs — a bounded manifest, not
    data.

    Returns ``{"est_a", "est_b", "est_union", "est_intersect",
    "est_diff"}`` (A-minus-B) as floats.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.session import ship_package
    ship_package(dfa.sparkSession)
    kk = int(k)

    # NULL keys are excluded up front: count(DISTINCT) semantics skip
    # NULLs, but Spark's xxhash64(NULL) returns the seed (42), which
    # would contribute one phantom distinct value to each sketch.
    tagged = (dfa.filter(F.col(col).isNotNull())
              .select(F.xxhash64(F.col(col)).alias("h"),
                      F.lit(0).alias("side"))
              .unionAll(dfb.filter(F.col(col).isNotNull())
                        .select(F.xxhash64(F.col(col)).alias("h"),
                                F.lit(1).alias("side"))))

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: dict[int, list] = {0: [], 1: []}
        for pdf in it:
            hs = pdf["h"].to_numpy(np.int64).view(np.uint64) ^ _FLIP
            sides = pdf["side"].to_numpy()
            for s in (0, 1):
                sel = hs[sides == s]
                if len(sel):
                    best[s].append(np.unique(sel)[:kk])
        rows = []
        for s in (0, 1):
            mins = _kmv_merge(best[s], kk)
            rows.append((s, (mins ^ _FLIP).view(np.int64).tolist()))
        yield pd.DataFrame(rows, columns=["side", "mins"])

    parts = tagged.mapInPandas(
        build, "side int, mins array<long>").collect()
    per_side: dict[int, list] = {0: [], 1: []}
    for r in parts:
        per_side[r["side"]].append(
            np.asarray(r["mins"], dtype=np.int64).view(np.uint64)
            ^ _FLIP)
    sa = _kmv_merge(per_side[0], kk)
    sb = _kmv_merge(per_side[1], kk)
    su = _kmv_merge([sa, sb], kk)

    # thetas as exact python ints — a float64 comparison would round
    # 64-bit hashes at the boundary
    theta_a = int(sa[kk - 1]) + 1 if len(sa) >= kk else 2 ** 64
    theta_b = int(sb[kk - 1]) + 1 if len(sb) >= kk else 2 ** 64
    theta = min(theta_a, theta_b)
    if theta >= 2 ** 64:
        a_below, b_below = sa, sb
    else:
        t = np.uint64(theta)
        a_below, b_below = sa[sa < t], sb[sb < t]
    inter = np.intersect1d(a_below, b_below)
    diff = np.setdiff1d(a_below, b_below)
    scale = _U64 / float(theta)
    return {
        "est_a": _kmv_estimate(sa, kk),
        "est_b": _kmv_estimate(sb, kk),
        "est_union": _kmv_estimate(su, kk),
        "est_intersect": float(len(inter)) * scale,
        "est_diff": float(len(diff)) * scale,
    }


def join_cardinality_estimate(dfa: DataFrame, key_a: str,
                              dfb: DataFrame, key_b: str,
                              k: int = 1024) -> dict:
    """Estimate ``|A ⋈ B|`` (inner equi-join output rows) WITHOUT
    running the join — the end-biased-sampling / theta-sketch trick
    query optimizers use to choose join strategies: join sizes are
    ``sum_key cA(key) * cB(key)``, and a uniform HASH sample of the
    key domain estimates that sum unbiasedly because both sides
    agree on which keys fall below theta.

    Two phases, both cheap relative to the join being sized:

    1. a KMV pass over the two key columns fixes ``theta`` = the
       k-th smallest distinct hash of the UNION key domain (the
       sample fraction is then ~ k / |keys|);
    2. each side filters to ``xxhash64(key) < theta`` — a JVM-side
       predicate that keeps ~k keys' worth of rows — aggregates
       per-key counts of the SAMPLE, and the two tiny count tables
       join and dot-product.  ``est = sample_dot * 2^64 / theta``.

    Everything heavy stays JVM-side (hash filter + groupBy of a
    ~k-key subset); the driver sees only the merged KMV mins and
    the one-row dot product.  Exact when the union key domain has
    fewer than k distinct values (theta = 2^64, sample = everything
    — the small-SF gate regime).

    Returns ``{"estimate": float, "theta_frac": float}`` where
    theta_frac is the sampled fraction of hash space.
    """
    from collections.abc import Iterator

    import pandas as pd

    from geohub_data_pipeline_spark.session import ship_package
    ship_package(dfa.sparkSession)
    kk = int(k)

    # NULL keys never join, and xxhash64(NULL) = seed would plant a
    # phantom value in the KMV domain — exclude them like the
    # sample_counts phase below already does.
    keys = (dfa.select(F.col(key_a).alias("key"))
            .unionAll(dfb.select(F.col(key_b).alias("key")))
            .filter(F.col("key").isNotNull()))

    def build(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: list = []
        for pdf in it:
            hs = (pdf["key"].to_numpy(np.int64).view(np.uint64)
                  ^ _FLIP)
            if len(hs):
                best.append(np.unique(hs)[:kk])
        mins = _kmv_merge(best, kk)
        yield pd.DataFrame(
            {"mins": [(mins ^ _FLIP).view(np.int64).tolist()]})

    parts = keys.select(F.xxhash64(F.col("key")).alias("key")) \
        .mapInPandas(build, "mins array<long>").collect()
    mins = _kmv_merge(
        [np.asarray(r["mins"], dtype=np.int64).view(np.uint64) ^ _FLIP
         for r in parts], kk)
    theta = int(mins[kk - 1]) + 1 if len(mins) >= kk else 2 ** 64
    # back to the SIGNED threshold xxhash64 compares against (the
    # flip is monotone, so unsigned h < theta <=> signed h < thr)
    thr = int(np.uint64(theta % 2 ** 64) ^ _FLIP.item()) \
        - (2 ** 64 if (theta % 2 ** 64) ^ int(_FLIP) >= 2 ** 63 else 0)

    def sample_counts(df, key):
        s = df.select(F.col(key).alias("key"),
                      F.xxhash64(F.col(key)).alias("__h"))
        if theta < 2 ** 64:
            s = s.filter(F.col("__h") < F.lit(thr))
        return s.groupBy("key").agg(F.count(F.lit(1)).alias("c"))

    ca = sample_counts(dfa, key_a)
    cb = sample_counts(dfb, key_b).withColumnRenamed("c", "c2")
    # decimal(38,0) accumulation: at the 100 TB scale this targets, a
    # single heavy-hitter key (~3B rows each side) overflows the int64
    # product c*c2 and would silently corrupt the estimate.
    row = (ca.join(cb, "key")
           .agg(F.sum(F.col("c").cast("decimal(38,0)")
                      * F.col("c2").cast("decimal(38,0)")).alias("dot"))
           .collect()[0])
    dot = int(row["dot"] or 0)
    return {"estimate": dot * (2.0 ** 64) / float(theta),
            "theta_frac": float(theta) / 2.0 ** 64}
