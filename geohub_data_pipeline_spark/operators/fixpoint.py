"""The fixpoint engine: one synchronous relax/send round schedule
behind every iterative raster and graph operator.

State is a set of BLOCKS, each a dict keyed by a block key.  A round
is the vote-to-halt step of Pregel (Malewicz et al., SIGMOD 2010) and
GraphX (Gonzalez et al., OSDI 2014):

1. every CHANGED block sends messages (``strip_fn``) to the blocks its
   change can affect — a raster block its 1-px edge strips, a graph
   block the updates its changed vertices push along their out-edges;
2. every block with mail (or one that changed last round and reports
   no ``capped=False``) relaxes (``relax_fn``), which sets ``changed``;
3. the round's changed count (the sum of ``changed`` over blocks:
   changed blocks for raster programs, changed vertices for graph
   programs) drives termination.

Round 0 relaxes every block once with an empty mailbox.  The engine
runs the schedule in one of two modes with the identical trajectory:

* ``_local_rounds`` — every block inside one task (P=1: one
  partition, or a graph's checkpointed edge relation that fits one
  task), no per-round job;
* ``_halo_fixpoint`` at P>1 — state hash-partitioned ONCE with a
  deterministic partition function; per round only the messages
  shuffle (to the partition already holding their target block), a
  partitioner-aware union hands each partition its mail, a block
  without mail is skipped, and one count of changed units ends the
  loop.  Only the frontier sends, so a round's traffic follows the
  frontier, not the state size.

Every cap raises: after ``max_rounds`` rounds the engine runs one
more, and RAISES if that round still changed state — a cap equal to
the rounds needed is not an error; a truncated fixpoint never comes
back as a plausible result.  The error names the operator and its cap
(``cap_label``, e.g. ``"bfs_hops max_hops=2"``).  Each round logs one
DEBUG line (round, changed count, wall) on this module's logger.

``vertex_fixpoint`` adapts a graph vertex program (min-plus for BFS,
SSSP and CC; rank, vote and degree updates for PageRank, LPA and
k-core) to the engine: vertices live in hash blocks, each holding its
vertices' values and out-edges.  All state is integer-exact, so both
modes emit bit-identical rows.
"""

from __future__ import annotations

import logging
import time

import numpy as np

from pyspark.rdd import RDD
from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# "unreached" for sourced min-plus programs (hops, distances): far
# below int64 overflow when a weight is added (only reached vertices
# ever send)
_INF = np.int64(1 << 62)


def _block_partition_func(key) -> int:
    """Deterministic cross-process partition hash for block keys.
    Raster blocks are keyed (dataset, subdataset, band, block_x,
    block_y); Python's builtin string hash is salted per process
    (PYTHONHASHSEED), so ``portable_hash`` would need env setup a
    vanilla driver session doesn't have — crc32 is stable everywhere."""
    import zlib

    ds, sub, band, bx, by = key
    h = zlib.crc32(f"{ds}\x00{sub}".encode())
    return (h ^ (int(band) * 0x9E3779B1) ^ (int(bx) * 0x85EBCA77)
            ^ (int(by) * 0xC2B2AE3D)) & 0x7FFFFFFF


def _not_converged(cap_label: str, n_changed: int) -> RuntimeError:
    return RuntimeError(
        f"{cap_label}: the fixpoint did not converge — one round past "
        f"the cap still changed {n_changed} units, so the result would "
        f"be truncated; raise the cap")


def _local_rounds(blocks, strip_fn, relax_fn, max_rounds: int,
                  cap_label: str):
    """The whole round schedule inside one task: round 0 mail-less
    relax, then synchronous deliver + relax rounds with the P>1
    loop's trigger rule (mail, or self-changed while capped) and its
    termination and cap rule.  ``blocks``: iterable of (key, state);
    returns the final (key, state) items."""
    state = {}
    for k, st in blocks:
        st = relax_fn(k, st, [])
        st["fresh"] = False
        state[k] = st
    n_changed = sum(int(st["changed"]) for st in state.values())
    for rnd in range(1, int(max_rounds) + 2):
        if not n_changed:
            break
        t0 = time.time()
        box: dict = {}
        for k, st in state.items():
            if st["changed"]:
                for nk, payload in strip_fn(k, st):
                    box.setdefault(nk, []).append(payload)
        for k in list(state):
            st = state[k]
            payloads = box.get(k)
            if payloads or (st["changed"] and st.get("capped", True)):
                state[k] = relax_fn(k, st, payloads or [])
            elif st["changed"]:
                st["changed"] = False
        n_changed = sum(int(st["changed"]) for st in state.values())
        log.debug("fixpoint round %d changed=%d wall=%.3fs", rnd,
                  n_changed, time.time() - t0)
    else:
        if n_changed:
            raise _not_converged(cap_label, n_changed)
    return state.items()


def _halo_fixpoint(spark, init_kv, strip_fn, relax_fn,
                   max_rounds: int, cap_label: str,
                   num_partitions: int | None = None,
                   n_blocks: int | None = None,
                   px_per_block: int | None = None,
                   partition_func=_block_partition_func):
    """Run the round schedule over RDD[(key, state)] ``init_kv``.

    State must carry ``changed`` (init True) and ``fresh`` (init
    True: forces the first local relax even for blocks with no mail,
    e.g. a source block).  ``strip_fn(key, state) -> iter[(nbr_key,
    payload)]``; ``relax_fn(key, state, payloads) -> state`` (sets
    ``changed``; a kernel may set ``capped=False`` once it reached its
    local fixpoint, which skips its mail-less re-relax).  Returns the
    final RDD[(key, state)].  ``partition_func`` places a block key
    (default: the raster key hash).

    At P>1 one partition's blocks materialize as a list for the
    per-round merge, so size ``num_partitions`` to the cluster — the
    same knob as shuffle partitions.  The default counts the blocks
    once (or takes ``n_blocks``) and caps partitions at that count (a
    tiny raster must not pay hundreds of empty-task launches per
    round, the dominant cost of a synchronous loop on a quiet
    cluster).
    """
    sc = spark.sparkContext
    if num_partitions:
        P = int(num_partitions)
    else:
        # ``n_blocks`` lets the consumer supply the count from a
        # cheap JVM-side DataFrame count; falling back to counting
        # the RDD materializes the python init chain one extra time
        if n_blocks is None:
            init_kv = init_kv.persist()
            n_blocks = init_kv.count()
        # Partition count balances two floors (measured r11):
        # * task-dispatch: every round is a synchronous 2-stage job,
        #   so with SMALL blocks the ~0.2 s/stage dispatch floor
        #   dominates and packing several blocks per task wins (the
        #   2x2-block 64-px gate fixture: P=4 ~0.95 s/round vs P=1
        #   ~0.75);
        # * compute: with BIG blocks the numpy relax is the cost and
        #   packing serializes it (1M-px probe, 16 256-px blocks:
        #   P=4 rounds 1.5-3.7 s vs P=16 ~0.6-1.1).
        # Target ~one full-size (256^2 px) block of relax work per
        # task: blocks_per_task = 65536 / px_per_block, so 256-px
        # blocks get a task each and 64-px fixture blocks pack 16 to
        # a task.  At real scale n_blocks >> parallelism and P stays
        # = defaultParallelism regardless.
        per_task = (max(1, 65536 // max(1, int(px_per_block)))
                    if px_per_block else 1)
        P = max(1, min(-(-int(n_blocks) // per_task),
                       sc.defaultParallelism))
    # persist() BEFORE localCheckpoint is load-bearing: it sets the
    # python-side is_cached flag, which stops PipelinedRDD from
    # fusing later rounds' lambdas around this RDD with a fresh
    # JVM chain — without it every round re-derives from round 0
    # and the checkpoint mark never participates (measured: stage
    # count grows linearly, 300+ stages by round 40)
    state = init_kv.partitionBy(P, partition_func)

    if P == 1:
        # Degenerate partitioning (r11): with every block in ONE
        # partition the synchronous rounds would exchange messages
        # with themselves — each round a full 2-stage Python-RDD job
        # (~0.6 s dispatch floor) plus a localCheckpoint, for zero
        # distribution benefit.  The same schedule runs in the task.
        out = state.mapPartitions(
            lambda it: iter(_local_rounds(it, strip_fn, relax_fn,
                                          max_rounds, cap_label)), True)
        out.persist()
        out.localCheckpoint()
        return out

    def _payload_eq(a, b) -> bool:
        # structural equality for payloads (tuples of numpy arrays /
        # scalars / strings); NaN compares equal so obstacle pixels
        # do not defeat the dedup
        if type(a) is not type(b):
            return False
        if isinstance(a, (tuple, list)):
            return len(a) == len(b) and all(
                _payload_eq(x, y) for x, y in zip(a, b))
        if isinstance(a, np.ndarray):
            if a.dtype != b.dtype or a.shape != b.shape:
                return False
            if np.issubdtype(a.dtype, np.floating):
                return bool(np.array_equal(a, b, equal_nan=True))
            return bool(np.array_equal(a, b))
        return a == b

    def _dedup_strips(k, st):
        # Sender-side dedup (r12): a changed block re-sends ALL its
        # messages every round, but typically only the
        # wavefront-facing ones moved — a payload identical to the
        # last one DELIVERED to that neighbor is already merged into
        # the receiver's state (relax kernels apply mail
        # idempotently), so re-delivering it cannot change any state
        # and only costs shuffle bytes.  Messages are computed at
        # relax time (pure function of the post-relax state — the
        # same values the next round's send-time call produced) and
        # stored on the state, with the last-sent copy per neighbor
        # kept for the comparison.
        sent = st.get("__sent") or {}
        out = []
        for nk, payload in strip_fn(k, st):
            if not _payload_eq(payload, sent.get(nk)):
                out.append((nk, payload))
                sent[nk] = payload
        st["__sent"] = sent
        st["__out"] = out

    def merge(it, acc):
        # one partition's blocks and the mail addressed to them: state
        # values are dicts, payloads never are
        items, box = [], {}
        for k, v in it:
            if isinstance(v, dict):
                items.append((k, v))
            else:
                box.setdefault(k, []).append(v)
        for k, st in items:
            payloads = box.get(k)
            # relax on mail, on the first round (fresh), AND when the
            # block itself changed last round: a relax kernel may cap
            # its internal passes mid-propagation, so a self-changed
            # block must keep relaxing until it reports quiescence
            # (``capped=False`` skips that re-relax).  A skipped
            # block's ``changed`` must drop: its messages went out
            # THIS round, and leaving the flag up would re-send them
            # (and hold the changed count above zero) forever.
            if payloads or st.get("fresh") or (
                    st["changed"] and st.get("capped", True)):
                sent = st.get("__sent")          # survives relax_fn
                st = relax_fn(k, st, payloads or [])
                st["fresh"] = False
                if sent is not None:
                    st["__sent"] = sent
                if st["changed"]:
                    _dedup_strips(k, st)
                else:
                    st["__out"] = []
            elif st["changed"]:
                st["changed"] = False
                st["__out"] = []
            acc.add(int(st["changed"]))
            yield k, st

    def relax_round(rdd):
        # Every Python pass over a partition costs a worker round trip
        # (measured ~0.25 s each on a 4-core box), so a round is two:
        # the message send below and this merge.  A JVM-side count
        # runs the round's job with no third pass, and an accumulator
        # carries the changed count.
        acc = sc.accumulator(0)
        out = rdd.mapPartitions(lambda it: merge(it, acc), True)
        out.persist()              # block pipelining (see above)
        out.localCheckpoint()
        out._jrdd.count()
        return out, acc.value

    # Round 0 fused into the init materialization (r11): every block
    # starts ``fresh`` and relaxes with an empty mailbox anyway, so
    # running that first relax inside the job that materializes the
    # partitioned state saves one synchronous round.  Messages go out
    # in round 1 from the post-relax state; the relax kernels are
    # monotone fixpoint iterations, so the schedule is the local one.
    t0 = time.time()
    state, n_changed = relax_round(state)
    if init_kv.is_cached:
        init_kv.unpersist()
    log.debug("fixpoint round %d changed=%d wall=%.3fs", 0, n_changed,
              time.time() - t0)
    for rnd in range(1, int(max_rounds) + 2):
        if not n_changed:
            break
        t0 = time.time()
        # messages were computed (and deduped against the last-sent
        # copies) at relax time; an unchanged block's outbox is empty
        strips = (state.flatMap(
            lambda kv: kv[1].get("__out") or () if kv[1]["changed"]
            else ())
            .partitionBy(P, partition_func))
        # State and mail carry the same JVM partitioner, so their union
        # is partitioner-aware: partition i is state partition i plus
        # its mail, and the state never moves
        mailed = RDD(state._jrdd.union(strips._jrdd), sc, sc.serializer)
        if mailed.getNumPartitions() != P:
            raise RuntimeError("fixpoint: state lost its partitioner")
        new_state, n_changed = relax_round(mailed)
        log.debug("fixpoint round %d changed=%d wall=%.3fs", rnd,
                  n_changed, time.time() - t0)
        state.unpersist()
        state = new_state
    else:
        if n_changed:
            raise _not_converged(cap_label, n_changed)
    return state


# ---------------------------------------------------------------------------
# Graph vertex programs on the engine
# ---------------------------------------------------------------------------

def _home(v: np.ndarray, nb: int) -> np.ndarray:
    """Hash block of each vertex id (multiplicative hash, so strided
    id ranges still spread over the blocks)."""
    if nb == 1:
        return np.zeros(len(v), np.int64)
    h = v.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    return ((h >> np.uint64(33)) % np.uint64(nb)).astype(np.int64)


def _reduce(keys: np.ndarray, vals: np.ndarray, ufunc):
    """(unique keys, ``ufunc``-reduced vals per key), sort-based."""
    o = np.argsort(keys, kind="stable")
    keys, vals = keys[o], vals[o]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
    return keys[starts], ufunc.reduceat(vals, starts)


def _route(nb: int, targets: np.ndarray, *cols, sender=()):
    """Split message columns by the home block of ``targets``:
    yields (block id, (*sender, targets, *cols)) per destination
    block; ``sender=(key,)`` tags payloads for ``_inbox`` receivers."""
    if not len(targets):
        return
    hb = _home(targets, nb)
    o = np.argsort(hb, kind="stable")
    cuts = np.flatnonzero(np.diff(hb[o])) + 1
    for seg in np.split(o, cuts):
        yield int(hb[seg[0]]), sender + tuple(c[seg]
                                              for c in (targets,) + cols)


def _inbox(st, payloads, width: int):
    """Cache each sender block's latest payload (sender, targets,
    *cols) — a sender's full contribution replaces its previous one,
    so re-delivery is idempotent — and return the cached columns
    concatenated, targets as local vertex positions."""
    box = st.setdefault("inbox", {})
    for sender, *cols in payloads:
        box[sender] = cols
    cols = [np.concatenate([c[i] for c in box.values()]
                           + [np.empty(0, np.int64)])
            for i in range(width)]
    cols[0] = np.searchsorted(st["ids"], cols[0])
    return cols


class MinPlus:
    """``val = min(val, val[u] + w + step)`` over edges u->v: the hop
    update of BFS (step 1), the min-plus update of SSSP (weight), and
    the min-label update of connected components (no source: every
    vertex starts as its own label).  Mail is applied with min, so it
    is idempotent; only vertices that improved send."""

    undirected = False

    def __init__(self, out: str, source: int | None = None,
                 step: int = 0):
        self.out, self.source, self.step = out, source, step
        self.extra = np.array([] if source is None else [source],
                              np.int64)

    def init(self, st) -> int:
        ids = st["ids"]
        if self.source is None:
            st["val"], chg = ids.copy(), np.ones(len(ids), bool)
        else:
            chg = ids == self.source
            st["val"] = np.where(chg, 0, _INF)
        st["chg"] = chg
        return int(chg.sum())

    def apply(self, st, payloads) -> int:
        val = st["val"]
        new = val.copy()
        for t, c in payloads:
            np.minimum.at(new, np.searchsorted(st["ids"], t), c)
        st["val"], st["chg"] = new, new < val
        return int(st["chg"].sum())

    def send(self, key, st, nb):
        sel = st["chg"][st["src"]]
        if not sel.any():
            return ()
        cand = st["val"][st["src"][sel]] + st["w"][sel] + self.step
        return _route(nb, *_reduce(st["dst"][sel], cand, np.minimum))

    def emit(self, st):
        if self.source is None:        # labels are ids, any int64
            return st["ids"], st["val"]
        m = st["val"] < _INF
        return st["ids"][m], st["val"][m]


class _FixedRounds:
    """Programs that run exactly ``n`` synchronous rounds: every
    vertex's state advances each round, so every block stays changed
    (and relaxes) in lockstep until its round counter reaches ``n``."""

    undirected = False
    extra = np.empty(0, np.int64)

    def advanced(self, st) -> int:
        return len(st["ids"]) if st["k"] < self.n else 0

    def emit(self, st):
        return st["ids"], st["val"]


class Rank(_FixedRounds):
    """Integer PageRank: ``val = teleport + (num * sum over u->v of
    val[u] div outdeg(u)) div den``; each sender block's partial sums
    are cached at the receiver."""

    out = "rank_fp"

    def __init__(self, n: int, scale: int, num: int, den: int):
        self.n, self.scale, self.num, self.den = n, scale, num, den
        self.teleport = ((den - num) * scale) // den

    def init(self, st) -> int:
        st["od"] = np.bincount(st["src"], minlength=len(st["ids"]))
        st["val"] = np.full(len(st["ids"]), self.scale, np.int64)
        return self.advanced(st)

    def apply(self, st, payloads) -> int:
        pos, c = _inbox(st, payloads, 2)
        tot = np.zeros(len(st["ids"]), np.int64)
        np.add.at(tot, pos, c)
        st["val"] = self.teleport + (self.num * tot) // self.den
        return self.advanced(st)

    def send(self, key, st, nb):
        src = st["src"]
        c = st["val"][src] // st["od"][src]
        return _route(nb, *_reduce(st["dst"], c, np.add),
                      sender=(key,))


class Vote(_FixedRounds):
    """Deterministic label propagation: each vertex takes the label
    with the most votes among its neighbours plus itself, ties to the
    smaller label; each sender block's (target, label, count) votes
    are cached at the receiver."""

    out = "label"
    undirected = True

    def __init__(self, n: int):
        self.n = n

    def init(self, st) -> int:
        st["val"] = st["ids"].copy()
        return self.advanced(st)

    def apply(self, st, payloads) -> int:
        pos, lab, cnt = _inbox(st, payloads, 3)
        n = len(st["ids"])
        pos = np.concatenate([np.arange(n), pos])
        lab = np.concatenate([st["val"], lab])
        cnt = np.concatenate([np.ones(n, np.int64), cnt])
        o = np.lexsort((lab, pos))
        pos, lab, cnt = pos[o], lab[o], cnt[o]
        starts = np.flatnonzero(np.r_[True, (pos[1:] != pos[:-1])
                                      | (lab[1:] != lab[:-1])])
        pos, lab = pos[starts], lab[starts]
        cnt = np.add.reduceat(cnt, starts)
        o = np.lexsort((lab, -cnt, pos))
        pos, lab = pos[o], lab[o]
        first = np.r_[True, pos[1:] != pos[:-1]]
        st["val"] = st["val"].copy()
        st["val"][pos[first]] = lab[first]
        return self.advanced(st)

    def send(self, key, st, nb):
        t, lab = st["dst"], st["val"][st["src"]]
        o = np.lexsort((lab, t))
        t, lab = t[o], lab[o]
        starts = np.flatnonzero(np.r_[True, (t[1:] != t[:-1])
                                      | (lab[1:] != lab[:-1])])
        cnt = np.diff(np.r_[starts, len(t)])
        return _route(nb, t[starts], lab[starts], cnt, sender=(key,))


class Core:
    """k-core peeling: a live vertex whose live-neighbour degree is
    below ``k`` dies; each sender block's per-target count of dead
    neighbours is cached at the receiver, so ``deg = full degree -
    dead neighbours``.  Round 0 peels on the full degree."""

    out = "core_degree"
    undirected = True
    extra = np.empty(0, np.int64)

    def __init__(self, k: int):
        self.k = k

    def _peel(self, st) -> int:
        keep = st["alive"] & (st["deg"] >= self.k)
        chg = st["alive"] & ~keep
        st["alive"] = keep
        return int(chg.sum())

    def init(self, st) -> int:
        st["deg0"] = np.bincount(st["src"], minlength=len(st["ids"]))
        st["deg"] = st["deg0"]
        st["alive"] = np.ones(len(st["ids"]), bool)
        return self._peel(st)

    def apply(self, st, payloads) -> int:
        pos, c = _inbox(st, payloads, 2)
        dead = np.zeros(len(st["ids"]), np.int64)
        np.add.at(dead, pos, c)
        st["deg"] = st["deg0"] - dead
        return self._peel(st)

    def send(self, key, st, nb):
        sel = ~st["alive"][st["src"]]
        t = st["dst"][sel]
        return _route(nb, *_reduce(t, np.ones(len(t), np.int64), np.add),
                      sender=(key,))

    def emit(self, st):
        m = st["alive"] & (st["deg"] > 0)
        return st["ids"][m], st["deg"][m]


def _split(pdf, prog, nb: int):
    """One Arrow batch of the edge relation (u, v[, w]) -> per home
    block: the out-edges (u, v, w) of its vertices and the ids of the
    edge targets it holds.  Undirected programs see both directions."""
    u = pdf.iloc[:, 0].to_numpy(np.int64)
    v = pdf.iloc[:, 1].to_numpy(np.int64)
    w = (pdf.iloc[:, 2].to_numpy(np.int64) if pdf.shape[1] > 2
         else np.zeros(len(u), np.int64))
    if prog.undirected:
        u, v, w = np.r_[u, v], np.r_[v, u], np.r_[w, w]
    hu, hv = _home(u, nb), _home(v, nb)
    for b in np.union1d(hu, hv):
        m = hu == b
        yield int(b), u[m], v[m], w[m], np.unique(v[hv == b])


def _block(parts):
    """A hash block's state from its (u, v, w, ids) parts: the vertex
    ids it holds (sorted) and their out-edges as local source
    positions, global targets and weights."""
    parts = list(parts)
    u, v, w, x = (np.concatenate([p[i] for p in parts]
                                 + [np.empty(0, np.int64)])
                  for i in range(4))
    ids = np.unique(np.r_[u, x])
    return {"ids": ids, "src": np.searchsorted(ids, u), "dst": v,
            "w": w, "k": -1, "changed": True, "fresh": True}


def _program_fns(prog, nb: int):
    def strip_fn(key, st):
        return prog.send(key, st, nb)

    def relax_fn(key, st, payloads):
        st["k"] += 1
        st["changed"] = (prog.init(st) if st["k"] == 0
                         else prog.apply(st, payloads))
        return st

    return strip_fn, relax_fn


# Edges per hash block on the distributed leg.  Measured on a 2^20-edge
# block: ~30 B/edge of state (pickled about as large for the cached
# copy) plus up to ~100 B/edge of round temporaries (LPA's vote sort
# is the largest), so a task holds a few hundred MB at this size.
_EDGES_PER_BLOCK = 1 << 20


def vertex_fixpoint(e: DataFrame, prog, max_rounds: int,
                    one_task: bool, cap_label: str) -> DataFrame:
    """Run vertex program ``prog`` over the materialized edge relation
    ``e`` (columns u, v[, w] by position) on the fixpoint engine and
    return ``(node long, <prog.out> long)``.

    ``one_task``: the relation sits in one partition — the whole
    schedule runs in one ``mapInPandas`` task over it (one block, no
    per-round job).  Otherwise vertices are hashed into blocks, one
    per partition: as many as the edge partitions (up to one per
    core), and more when the edges exceed ``_EDGES_PER_BLOCK`` a
    block — so a block's memory stays bounded as |E| grows, except
    that all out-edges of one vertex share its block (a hub vertex
    with more edges than the bound makes its block that large).  The
    edges are grouped by their source's block once, and each round
    ships only the changed vertices' messages.
    """
    from geohub_data_pipeline_spark.session import ship_package

    spark = e.sparkSession
    ship_package(spark)
    schema = f"node long, {prog.out} long"
    extra = (np.empty(0, np.int64),) * 3 + (prog.extra,)
    if one_task:
        strip_fn, relax_fn = _program_fns(prog, 1)

        def kernel(it):
            import pandas as pd

            parts = [p[1:] for pdf in it for p in _split(pdf, prog, 1)]
            st = _block(parts + [extra])
            (_, st), = _local_rounds([(0, st)], strip_fn, relax_fn,
                                     max_rounds, cap_label)
            node, val = prog.emit(st)
            yield pd.DataFrame({"node": node, prog.out: val})

        return e.mapInPandas(kernel, schema)

    sc = spark.sparkContext
    # every block costs a task per round, so no more blocks than the
    # edge partitions or the cores need, unless the edge count does
    n_edges = e.count() * (2 if prog.undirected else 1)
    P = max(-(-n_edges // _EDGES_PER_BLOCK),
            min(e.rdd.getNumPartitions(), sc.defaultParallelism))

    def pack(it):
        import pandas as pd

        for pdf in it:
            rows = [(b,) + tuple(a.tobytes() for a in arrs)
                    for b, *arrs in _split(pdf, prog, P)]
            if rows:
                yield pd.DataFrame(rows, columns=["b", "u", "v", "w", "x"])

    def unpack(r):
        return r[0], tuple(np.frombuffer(a, np.int64) for a in r[1:])

    parts = (e.mapInPandas(pack, "b long, u binary, v binary, "
                                 "w binary, x binary")
             .rdd.map(unpack))
    if len(prog.extra):
        parts = parts.union(sc.parallelize(
            [(int(b), extra) for b in np.unique(_home(prog.extra, P))], 1))
    # a block id is its partition index
    init_kv = parts.groupByKey(P, int).mapValues(_block)
    strip_fn, relax_fn = _program_fns(prog, P)
    final = _halo_fixpoint(spark, init_kv, strip_fn, relax_fn,
                           max_rounds, cap_label, num_partitions=P,
                           partition_func=int)
    rows = final.flatMap(
        lambda kv: zip(*(a.tolist() for a in prog.emit(kv[1]))))
    return spark.createDataFrame(rows, schema)
