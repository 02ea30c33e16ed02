"""Vector geometry kernels (T7 analog — the FlatGeobuf stage).

Reference behavior (ref /root/reference/ingest/processing.py:100-213,
``dataset2fgb``): per layer, ``gdal.VectorTranslate`` with
``-preserve_fid -skipfailures -nlt PROMOTE_TO_MULTI -makevalid`` and a
conditional reproject to EPSG:4326, then a feature-count audit.

Spark-first restatement: features are rows (fid, geometry WKB,
attrs, srid); the stage is ``normalize_features``:

* ``-skipfailures``     -> filter NULL/unparseable geometry,
* ``PROMOTE_TO_MULTI``  -> WKB type-code rewrite (pure bytes, no deps),
* reproject 3857->4326  -> exact spherical-Mercator inverse (numpy),
  other source SRIDs    -> gated behind pyproj (stubbed if absent),
* ``should_reproject``  -> constant-fold per layer
  (ref ingest/processing.py:36-61),
* ``-makevalid``        -> MakeValid-lite (pure python): duplicate
  vertices deduped, rings re-wound OGC-style, bowtie self-crossings
  split into simple loops; residual invalidity (GEOS-only cases) is
  flagged via ``needs_makevalid`` so callers can quarantine,
* count audit           -> operators/audits.py.

The WKB codec below is a minimal, dependency-free reader/writer for
Point/LineString/Polygon and their Multi* forms (little-endian), which
is the full surface the tests and tiling stages need.  Heavy per-row
byte work runs in Arrow-batched pandas UDFs (``mapInPandas``) —
map-side only, no shuffle.
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# WKB geometry type codes (little-endian, 2D)
POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6

_PROMOTE = {POINT: MULTIPOINT, LINESTRING: MULTILINESTRING,
            POLYGON: MULTIPOLYGON}

NORMALIZED_SCHEMA = (
    "dataset string, layer string, fid long, geometry binary, "
    "geom_type int, srid int, bbox_minx double, bbox_miny double, "
    "bbox_maxx double, bbox_maxy double, needs_makevalid boolean"
)


# ---------------------------------------------------------------------------
# Pure-python WKB codec (dependency-free)
# ---------------------------------------------------------------------------

def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, POINT, x, y)


def wkb_linestring(coords: list[tuple[float, float]]) -> bytes:
    out = struct.pack("<BII", 1, LINESTRING, len(coords))
    for x, y in coords:
        out += struct.pack("<dd", x, y)
    return out


def wkb_polygon(rings: list[list[tuple[float, float]]]) -> bytes:
    out = struct.pack("<BII", 1, POLYGON, len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring))
        for x, y in ring:
            out += struct.pack("<dd", x, y)
    return out


def wkb_multipolygon(
        polys: list[list[list[tuple[float, float]]]]) -> bytes:
    out = struct.pack("<BII", 1, MULTIPOLYGON, len(polys))
    for rings in polys:
        out += wkb_polygon(rings)
    return out


def _wkb_multi(code: int, parts: list[bytes]) -> bytes:
    return struct.pack("<BII", 1, code, len(parts)) + b"".join(parts)


def wkb_from_geojson(geom: dict) -> bytes | None:
    """RFC 7946 geometry object -> little-endian 2D WKB (None for
    unsupported/malformed input — the -skipfailures contract)."""
    try:
        gt = geom["type"]
        c = geom.get("coordinates")
        if gt == "Point":
            return wkb_point(float(c[0]), float(c[1]))
        if gt == "LineString":
            return wkb_linestring([(float(x), float(y))
                                   for x, y, *_ in c])
        if gt == "Polygon":
            return wkb_polygon([[(float(x), float(y))
                                 for x, y, *_ in ring] for ring in c])
        if gt == "MultiPoint":
            return _wkb_multi(MULTIPOINT, [
                wkb_point(float(x), float(y)) for x, y, *_ in c])
        if gt == "MultiLineString":
            return _wkb_multi(MULTILINESTRING, [
                wkb_linestring([(float(x), float(y))
                                for x, y, *_ in line]) for line in c])
        if gt == "MultiPolygon":
            return wkb_multipolygon([
                [[(float(x), float(y)) for x, y, *_ in ring]
                 for ring in poly] for poly in c])
        if gt == "GeometryCollection":
            return None                    # out of scope (ref: ogr2ogr
            # maps collections per-type; the tiling stage never sees
            # them because PROMOTE_TO_MULTI runs per concrete type)
        return None
    except (KeyError, TypeError, ValueError, IndexError):
        return None


def _read_coords(buf: bytes, off: int, n: int) -> tuple[list, int]:
    coords = list(struct.unpack_from(f"<{2 * n}d", buf, off))
    return coords, off + 16 * n


def parse_wkb(buf: bytes) -> dict[str, Any] | None:
    """Parse little-endian 2D WKB -> {type, coords-flat, parts}.

    Returns None for malformed input (the -skipfailures contract).
    """
    try:
        if not buf or buf[0] != 1:        # big-endian unsupported here
            return None
        gtype = struct.unpack_from("<I", buf, 1)[0]
        base = gtype % 1000
        coords: list[float] = []
        parts: list[list[float]] = []
        roles: list[bool] = []      # per part: True = exterior ring
        off = 5
        if base == POINT:
            c, off = _read_coords(buf, off, 1)
            coords = c
            parts = [c]
            roles = [True]
        elif base == LINESTRING:
            n = struct.unpack_from("<I", buf, off)[0]
            c, off = _read_coords(buf, off + 4, n)
            coords = c
            parts = [c]
            roles = [True]
        elif base == POLYGON:
            nrings = struct.unpack_from("<I", buf, off)[0]
            off += 4
            for i in range(nrings):
                n = struct.unpack_from("<I", buf, off)[0]
                c, off = _read_coords(buf, off + 4, n)
                coords += c
                parts.append(c)
                roles.append(i == 0)   # WKB: ring 0 exterior, rest holes
        elif base in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
            ngeom = struct.unpack_from("<I", buf, off)[0]
            off += 4
            for _ in range(ngeom):
                sub = parse_wkb(buf[off:])
                if sub is None:
                    return None
                coords += sub["coords"]
                parts += sub["parts"]
                roles += sub["roles"]
                off += sub["nbytes"]
        else:
            return None
        if off > len(buf):
            return None
        return {"type": base, "coords": coords, "parts": parts,
                "roles": roles, "nbytes": off}
    except (struct.error, IndexError):
        return None


def promote_to_multi(buf: bytes) -> bytes:
    """PROMOTE_TO_MULTI as a WKB rewrite: wrap single geometries in a
    one-element Multi* container; Multi* passes through unchanged."""
    gtype = struct.unpack_from("<I", buf, 1)[0]
    if gtype in _PROMOTE:
        return struct.pack("<BII", 1, _PROMOTE[gtype], 1) + buf
    return buf


def bbox_of(parsed: dict[str, Any]) -> tuple[float, float, float, float]:
    xs = parsed["coords"][0::2]
    ys = parsed["coords"][1::2]
    return min(xs), min(ys), max(xs), max(ys)


# ---------------------------------------------------------------------------
# MakeValid-lite (pure python, no GEOS)
#
# Repairs the invalidity classes ``-makevalid`` most commonly fixes in
# practice (ref ingest/processing.py:142-144 passes -makevalid to
# ogr2ogr): consecutive duplicate vertices, wrong ring orientation,
# "bowtie" self-intersections (split into valid rings at each crossing
# point, exteriors and holes alike), holes crossing their shell (noded
# Greiner–Hormann-style difference, ``_ring_difference``), holes
# outside every shell (dropped — they subtract nothing), overlapping
# polygon parts (noded union, ``_ring_overlay(union=True)``, enclosed
# loops becoming holes), nested shells (absorbed, GEOS
# structure-mode semantics), self-TANGENT rings (figure-eight pinch:
# node-split at the revisited point, r11), and point-tangent holes
# (recognized as VALID OGC geometry and kept, r11).  What still stays
# flagged: collinear-overlap (line) tangencies and mixed
# crossing+touch relations (ambiguous noding), and rings with
# > _MAX_SPLITS crossings.
# ---------------------------------------------------------------------------

def _pairs(flat: list[float]) -> list[tuple[float, float]]:
    return list(zip(flat[0::2], flat[1::2]))


def _dedupe_ring(pts: list[tuple[float, float]]
                 ) -> tuple[list[tuple[float, float]], bool]:
    """Drop consecutive duplicate vertices; returns (closed ring,
    changed)."""
    if not pts:
        return pts, False
    out = [pts[0]]
    for p in pts[1:]:
        if p != out[-1]:
            out.append(p)
    if out[0] != out[-1]:
        out.append(out[0])
    return out, len(out) != len(pts)


def _ring_area2(pts: list[tuple[float, float]]) -> float:
    """Twice the signed shoelace area (y-up coords: CCW positive)."""
    return sum(x1 * y2 - x2 * y1
               for (x1, y1), (x2, y2) in zip(pts, pts[1:]))


def _proper_crossing(a, b, c, d) -> tuple[float, float] | None:
    """Intersection point of segments ab and cd when they properly
    cross (interiors intersect); None for parallel/touching."""
    (x1, y1), (x2, y2) = a, b
    (x3, y3), (x4, y4) = c, d
    den = (x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)
    if den == 0:
        return None
    t = ((x3 - x1) * (y4 - y3) - (y3 - y1) * (x4 - x3)) / den
    u = ((x3 - x1) * (y2 - y1) - (y3 - y1) * (x2 - x1)) / den
    if 0 < t < 1 and 0 < u < 1:
        return (x1 + t * (x2 - x1), y1 + t * (y2 - y1))
    return None


_NONADJ_MASKS: dict[tuple[int, int, int], "Any"] = {}


def _nonadj_mask(n: int, i0: int, i1: int):
    """Cached boolean mask excluding adjacent segment pairs (incl.
    the seam pair) — they share an endpoint and never PROPERLY
    cross.  Ring sizes repeat heavily within a batch."""
    import numpy as np
    key = (n, i0, i1)
    m = _NONADJ_MASKS.get(key)
    if m is None:
        gap = np.abs(np.arange(i0, i1)[:, None]
                     - np.arange(n)[None, :])
        m = (gap >= 2) & (gap != n - 1)
        if len(_NONADJ_MASKS) > 256:
            _NONADJ_MASKS.clear()
        _NONADJ_MASKS[key] = m
    return m


def _has_self_crossing_np(pts: list[tuple[float, float]],
                          block: int = 512) -> bool:
    """Vectorized 'does this closed ring properly self-cross at all?'
    — the same t/u interior-crossing condition as
    ``_proper_crossing`` rewritten division-free (sign tests on the
    numerators against the denominator), evaluated for all
    non-adjacent segment pairs with numpy broadcasting (row-blocked
    to bound memory at O(block*n)).  Valid rings (the overwhelming
    majority) answer in one pass instead of n^2/2 Python calls; the
    exact first-crossing scan runs only when this says a crossing
    exists.

    Fast path: a ring whose turns all bend one way AND whose total
    turning is one full revolution is convex, hence simple — one
    O(n) pass, no pair matrix (a pentagram also turns one way but
    winds twice, so the revolution check is required)."""
    import numpy as np
    P = np.asarray(pts, dtype=np.float64)
    n = len(P) - 1
    if n < 4:
        return False                       # a triangle cannot
    d = P[1:] - P[:-1]                     # n closed-ring segments
    # convexity fast path
    d2 = np.vstack([d, d[:1]])             # seam turn wraps around
    cross = d2[:-1, 0] * d2[1:, 1] - d2[:-1, 1] * d2[1:, 0]
    if (cross >= 0).all() or (cross <= 0).all():
        dot = (d2[:-1] * d2[1:]).sum(axis=1)
        turning = np.arctan2(cross, dot).sum()
        if abs(abs(turning) - 2 * np.pi) < 1e-9:
            return False
    A = P[:-1]
    for i0 in range(0, n, block):
        i1 = min(i0 + block, n)
        di = d[i0:i1]
        Ai = A[i0:i1]
        den = di[:, 0][:, None] * d[:, 1][None, :] \
            - di[:, 1][:, None] * d[:, 0][None, :]
        dx = A[None, :, 0] - Ai[:, None, 0]        # A_j - A_i
        dy = A[None, :, 1] - Ai[:, None, 1]
        tnum = dx * d[None, :, 1] - dy * d[None, :, 0]
        unum = dx * di[:, None, 1] - dy * di[:, None, 0]
        # t = tnum/den in (0,1) and u = unum/den in (0,1), without
        # dividing: numerators strictly between 0 and den, matching
        # den's sign (den == 0 fails both branches)
        pos = den > 0
        ok = np.where(pos, (tnum > 0) & (tnum < den),
                      (tnum < 0) & (tnum > den))
        ok &= np.where(pos, (unum > 0) & (unum < den),
                       (unum < 0) & (unum > den))
        ok &= _nonadj_mask(n, i0, i1)
        if ok.any():
            return True
    return False


def _first_self_crossing(pts: list[tuple[float, float]]
                         ) -> tuple[int, int, tuple[float, float]] | None:
    """First proper crossing between non-adjacent segments of a
    closed ring (O(n^2) — rings are small after simplification).  A
    vectorized any-crossing pre-check short-circuits the common valid
    case; the Python scan below only runs to LOCATE a crossing the
    pre-check already proved exists (identical pair order, so the
    split point is unchanged)."""
    n = len(pts) - 1                       # closed: last == first
    if n >= 8 and not _has_self_crossing_np(pts):
        return None
    for i in range(n):
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue                   # adjacent around the seam
            x = _proper_crossing(pts[i], pts[i + 1], pts[j], pts[j + 1])
            if x is not None:
                return i, j, x
    return None


def _split_ring(pts: list[tuple[float, float]], i: int, j: int,
                x: tuple[float, float]
                ) -> tuple[list[tuple[float, float]],
                           list[tuple[float, float]]]:
    """Split a closed ring at the crossing of segments i and j into
    the two simple loops meeting at point ``x`` (the bowtie fix)."""
    loop_a = [x] + pts[i + 1:j + 1] + [x]
    loop_b = [x] + pts[j + 1:-1] + pts[:i + 1] + [x]
    return loop_a, loop_b


def _orient(pts: list[tuple[float, float]],
            ccw: bool) -> list[tuple[float, float]]:
    a2 = _ring_area2(pts)
    if a2 != 0 and (a2 > 0) != ccw:
        # Rings here are CLOSED (last == first): plain reversal keeps the
        # closure invariant and the same start vertex.
        return pts[::-1]
    return pts


def _point_in_ring(pt: tuple[float, float],
                   ring: list[tuple[float, float]]) -> bool:
    """Even-odd raycast (boundary cases irrelevant for hole homing)."""
    x, y = pt
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if (y1 > y) != (y2 > y):
            if x < x1 + (y - y1) / (y2 - y1) * (x2 - x1):
                inside = not inside
    return inside


def _crossing_params(a1, a2, b1, b2):
    """Segment intersection with parameters: returns (t, u, point) for
    a proper interior crossing, None for disjoint, or a string for the
    degenerate classes — 'overlap' for collinear overlap, 'touch' for
    an endpoint lying on the other segment (the node-split repair
    refuses both; _tangency_class tells them apart because a pure
    point-touch between a hole and its shell is VALID OGC geometry
    while a collinear overlap is not)."""
    (x1, y1), (x2, y2) = a1, a2
    (x3, y3), (x4, y4) = b1, b2
    den = (x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)
    if den == 0:
        # parallel: overlap check via cross products of endpoints
        c1 = (x3 - x1) * (y2 - y1) - (y3 - y1) * (x2 - x1)
        c2 = (x4 - x1) * (y2 - y1) - (y4 - y1) * (x2 - x1)
        if c1 == 0 and c2 == 0:
            lo1, hi1 = sorted((a1, a2))
            lo2, hi2 = sorted((b1, b2))
            if max(lo1, lo2) < min(hi1, hi2):
                return "overlap"           # collinear overlap
        return None
    t = ((x3 - x1) * (y4 - y3) - (y3 - y1) * (x4 - x3)) / den
    u = ((x3 - x1) * (y2 - y1) - (y3 - y1) * (x2 - x1)) / den
    if 0 < t < 1 and 0 < u < 1:
        return (t, u, (x1 + t * (x2 - x1), y1 + t * (y2 - y1)))
    if (0 <= t <= 1 and u in (0.0, 1.0)) or (0 <= u <= 1
                                             and t in (0.0, 1.0)):
        return "touch"                     # endpoint touches the other
    return None


def _tangency_class(shell: list[tuple[float, float]],
                    other: list[tuple[float, float]]) -> str:
    """How two closed rings meet, for the degenerate cases the
    node-split overlay refuses: 'cross' if ANY proper crossing exists
    (mixed crossing+touch — unsafe to node), else 'line' if any
    collinear overlap, else 'point' if they only touch at isolated
    points, else 'disjoint'."""
    A = shell[:-1]
    B = other[:-1]
    saw_touch = saw_line = False
    for i in range(len(A)):
        a1, a2 = A[i], A[(i + 1) % len(A)]
        for j in range(len(B)):
            r = _crossing_params(a1, a2, B[j], B[(j + 1) % len(B)])
            if r == "overlap":
                saw_line = True
            elif r == "touch":
                saw_touch = True
            elif r is not None:
                return "cross"
    if saw_line:
        return "line"
    return "point" if saw_touch else "disjoint"


def _touch_points(a: list[tuple[float, float]],
                  b: list[tuple[float, float]]) -> set:
    """Distinct points where two closed rings TOUCH (an endpoint of
    one lying on a segment of the other).  A hole meeting its shell
    at exactly ONE such point is valid OGC geometry; two or more
    touch points disconnect the interior (GEOS IsValid:
    'Interior is disconnected')."""
    pts: set = set()
    for ring, other in ((a, b), (b, a)):
        for p in ring[:-1]:
            x, y = p
            for (x1, y1), (x2, y2) in zip(other, other[1:]):
                cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
                if cross == 0 and min(x1, x2) <= x <= max(x1, x2) \
                        and min(y1, y2) <= y <= max(y1, y2):
                    pts.add(p)
                    break
    return pts


def _nesting_depth(loops: list[list[tuple[float, float]]]
                   ) -> list[int]:
    """Containment depth of each simple loop among its siblings
    (loops meeting at most at isolated points, e.g. the pieces of one
    node-split ring).  Probes with an off-boundary vertex so the
    shared pinch point cannot fool the raycast; a loop whose every
    vertex lies on the candidate container's boundary counts as not
    contained."""
    depth = [0] * len(loops)
    for i, inner in enumerate(loops):
        for j, outer in enumerate(loops):
            if i == j:
                continue
            probe = _off_boundary_vertex(inner, outer)
            if probe is not None and _point_in_ring(probe, outer):
                depth[i] += 1
    return depth


def _split_at_pinch(pts: list[tuple[float, float]]
                    ) -> tuple[list[tuple[float, float]],
                               list[tuple[float, float]]] | None:
    """Detect a SELF-TANGENT ring (the boundary revisits a point — a
    repeated non-consecutive vertex, or a vertex lying in the interior
    of a non-adjacent edge: the figure-eight/pinch invalidity) and
    split it into the two loops meeting there — the node-split GEOS
    MakeValid applies at a pinch.  Returns None for a simple ring."""
    n = len(pts) - 1                       # closed: last == first
    seen: dict[tuple[float, float], int] = {}
    for i in range(n):
        p = pts[i]
        if p in seen:
            j0 = seen[p]
            a = pts[j0:i + 1]              # pts[j0] == pts[i]: closed
            b = pts[i:n] + pts[:j0 + 1]    # wraps the seam; closed
            return a, b
        seen[p] = i
    # a vertex on the INTERIOR of a non-adjacent edge: insert it as a
    # node on that edge, which creates the repeated vertex above
    for i in range(n):
        x, y = pts[i]
        for j in range(n):
            if j == i or (i - 1) % n == j:
                continue                   # the vertex's own edges
            (x1, y1), (x2, y2) = pts[j], pts[j + 1]
            if (x, y) == (x1, y1) or (x, y) == (x2, y2):
                continue
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            if cross == 0 and min(x1, x2) <= x <= max(x1, x2) \
                    and min(y1, y2) <= y <= max(y1, y2):
                aug = pts[:j + 1] + [(x, y)] + pts[j + 1:]
                return _split_at_pinch(aug)
    return None


def _ring_overlay(shell: list[tuple[float, float]],
                  other: list[tuple[float, float]],
                  union: bool = False,
                  intersect: bool = False
                  ) -> list[list[tuple[float, float]]] | None:
    """Greiner–Hormann-style overlay of two simple closed rings with
    intersection nodes inserted into both — the node-splitting repair
    for crossing rings (the class of self-intersection ``-makevalid``
    fixes by noding the linework; ref ingest/processing.py:142-144).

    ``union=False``: ``shell minus other`` — the result follows the
    shell while outside the other ring and the other ring BACKWARDS
    while inside the shell.  ``union=True``: ``shell plus other`` —
    same walk but the other ring is traversed FORWARDS (outside the
    shell).  ``intersect=True``: ``shell AND other`` — start at each
    crossing where the shell ENTERS the other ring, follow the shell
    forward while inside, and the other ring forward while inside the
    shell (the region inside BOTH; with both rings CCW the walk stays
    forward on each).

    Returns a list of closed loops (wound as traversed: CCW shells;
    a CW loop from a union is an enclosed hole; intersection loops of
    two simple rings are always simple shells, oriented CCW); ``[]``
    when the rings do not properly cross (caller falls back to
    containment logic); ``None`` on a degeneracy (tangency, endpoint
    touch, collinear overlap — left untouched / flagged by the
    caller).
    """
    A = shell[:-1] if _ring_area2(shell) > 0 else shell[:-1][::-1]
    B = other[:-1] if _ring_area2(other) > 0 else other[:-1][::-1]
    na, nb = len(A), len(B)

    # 1. collect proper crossings per edge pair
    crossings = []                         # (ia, t, ib, u, pt)
    for i in range(na):
        a1, a2 = A[i], A[(i + 1) % na]
        for j in range(nb):
            r = _crossing_params(a1, a2, B[j], B[(j + 1) % nb])
            if isinstance(r, str):         # 'touch' / 'overlap'
                return None
            if r is not None:
                crossings.append((i, r[0], j, r[1], r[2]))
    if not crossings:
        return []
    if len(crossings) % 2:
        return None                        # numerically inconsistent

    # 2. augmented cyclic vertex lists: entries are
    #    [point, link_id or None]; crossings inserted in edge order
    def augment(base, keyed):
        out = []
        for idx, pt in enumerate(base):
            out.append([pt, None])
            hits = sorted(k for k in keyed if k[0] == idx)
            for _, _t, link in hits:
                out.append([keyed[(idx, _t, link)], link])
        return out

    a_keyed = {}
    b_keyed = {}
    for link, (ia, t, ib, u, pt) in enumerate(crossings):
        a_keyed[(ia, t, link)] = pt
        b_keyed[(ib, u, link)] = pt
    aug_a = augment(A, a_keyed)
    aug_b = augment(B, b_keyed)
    a_pos = {n[1]: k for k, n in enumerate(aug_a) if n[1] is not None}
    b_pos = {n[1]: k for k, n in enumerate(aug_b) if n[1] is not None}

    # 3. classify each crossing on A as entry-into-B or exit, by
    #    walking A from a base vertex whose inside/outside state is
    #    known (base vertices are never ON B: that was 'degenerate')
    entry = {}
    inside = _point_in_ring(aug_a[0][0], other)
    if aug_a[0][1] is not None:            # first node is a crossing
        return None
    for node in aug_a[1:] + aug_a[:1]:
        if node[1] is not None:
            entry[node[1]] = not inside
            inside = not inside

    # 4. traverse: start at each unvisited EXIT crossing, follow A
    #    forward while outside the hole, switch to B backward at each
    #    entry crossing (the hole boundary bounds the removed region)
    visited = set()
    loops: list[list[tuple[float, float]]] = []
    for start in entry:
        # difference/union loops launch from EXIT crossings;
        # intersection loops launch from ENTRY crossings (the shell
        # is about to run inside the other ring)
        if (entry[start] != intersect) or start in visited:
            continue
        loop = []
        link = start
        guard = 0
        while True:
            guard += 1
            if guard > 4 * (len(aug_a) + len(aug_b)):
                return None                # traversal failed to close
            visited.add(link)
            # follow A forward from this crossing to the next crossing
            k = a_pos[link]
            while True:
                k = (k + 1) % len(aug_a)
                loop.append(aug_a[k][0])
                if aug_a[k][1] is not None:
                    link = aug_a[k][1]
                    break
            if link == start:
                break
            if entry[link] == intersect:   # failed to alternate: bad state
                return None
            visited.add(link)
            # follow B backward from this crossing to the next crossing
            # (forward for union and intersection)
            k = b_pos[link]
            while True:
                k = ((k + 1) % len(aug_b) if (union or intersect)
                     else (k - 1) % len(aug_b))
                loop.append(aug_b[k][0])
                if aug_b[k][1] is not None:
                    link = aug_b[k][1]
                    break
            if link == start:
                break
        loop = [p for i, p in enumerate(loop) if p != loop[i - 1]]
        if len(loop) >= 3:
            loop = loop + [loop[0]]
            if abs(_ring_area2(loop)) > 0:
                # difference loops are always shells (orient CCW); a
                # union loop keeps its traversal winding — CW means an
                # enclosed hole between the two shells
                loops.append(loop if union else _orient(loop, ccw=True))
    return loops if loops else None


def _ring_difference(shell: list[tuple[float, float]],
                     hole: list[tuple[float, float]]
                     ) -> list[list[tuple[float, float]]] | None:
    """``shell minus hole`` (see ``_ring_overlay``)."""
    return _ring_overlay(shell, hole, union=False)


def _off_boundary_vertex(ring: list[tuple[float, float]],
                         other: list[tuple[float, float]]):
    """A vertex of ``ring`` not lying on ``other``'s boundary, or
    None (rings share every tested vertex)."""
    for p in ring[:-1]:
        on = False
        for a, b in zip(other, other[1:]):
            (x1, y1), (x2, y2) = a, b
            x, y = p
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            if cross == 0 and min(x1, x2) <= x <= max(x1, x2) \
                    and min(y1, y2) <= y <= max(y1, y2):
                on = True
                break
        if not on:
            return p
    return None


_MAX_SPLITS = 8     # repair cap: a ring with more crossings stays flagged


def make_valid_polygons(
    parts: list[list[float]],
    roles: list[bool],
) -> tuple[list[list[list[tuple[float, float]]]], bool, bool]:
    """MakeValid-lite over parsed polygon rings.

    Input: flat rings + exterior/hole roles (``parse_wkb`` order).
    Returns ``(polygons, changed, repaired)`` where polygons is
    [[exterior, hole...], ...] with OGC winding (exterior CCW, holes
    CW); ``repaired`` False means some invalidity remains (caller
    keeps the flag; output equals input geometry).
    """
    # group rings into polygons: an exterior starts a new polygon
    polys: list[list[list[tuple[float, float]]]] = []
    for flat, is_ext in zip(parts, roles):
        ring = _pairs(flat)
        if is_ext or not polys:
            polys.append([ring])
        else:
            polys[-1].append(ring)

    changed = False
    repaired = True
    all_ext: list[list[tuple[float, float]]] = []
    all_holes: list[list[tuple[float, float]]] = []
    for rings in polys:
        exteriors: list[list[tuple[float, float]]] = []
        holes: list[list[tuple[float, float]]] = []
        # 1. dedupe vertices, drop degenerate rings
        cleaned: list[tuple[list[tuple[float, float]], bool]] = []
        for ri, ring in enumerate(rings):
            ring2, ch = _dedupe_ring(ring)
            changed |= ch
            if len(ring2) < 4:             # degenerate after dedupe
                changed = True
                continue
            cleaned.append((ring2, ri == 0))
        # 2. split self-crossing rings (bowtie) into simple loops
        for ring2, is_ext in cleaned:
            queue = [ring2]
            splits = 0
            simple: list[list[tuple[float, float]]] = []
            while queue:
                r = queue.pop()
                hit = _first_self_crossing(r)
                if hit is None:
                    # proper-crossing-free: still self-TANGENT?  (a
                    # figure-eight pinch: split the two loops at the
                    # revisited point — GEOS node-split semantics)
                    pinch = _split_at_pinch(r)
                    if pinch is None:
                        simple.append(r)
                        continue
                    splits += 1
                    if splits > _MAX_SPLITS:
                        repaired = False
                        simple.append(r)
                        continue
                    changed = True
                    queue += [x for x in pinch if len(x) >= 4]
                    continue
                splits += 1
                if splits > _MAX_SPLITS:
                    repaired = False
                    simple.append(r)
                    continue
                changed = True
                a, b = _split_ring(r, hit[0], hit[1], hit[2])
                queue += [x for x in (a, b) if len(x) >= 4]
            if is_ext:
                if len(simple) > 1:
                    # GEOS MakeValid linework semantics: the repaired
                    # area is what the original ring encloses an ODD
                    # number of times, so a split loop nested at odd
                    # containment depth (an inverted pocket re-entering
                    # through the pinch) is a HOLE, not a second shell
                    # — appending it as a shell double-covers its
                    # interior.  Side-by-side bowtie loops are all
                    # depth 0 and stay shells.
                    depth = _nesting_depth(simple)
                    exteriors += [r for r, d in zip(simple, depth)
                                  if d % 2 == 0]
                    holes += [r for r, d in zip(simple, depth)
                              if d % 2 == 1]
                else:
                    exteriors += simple
            else:
                # a self-crossing (bowtie) hole splits into multiple
                # simple holes — each homes independently below.
                # NESTED hole loops (odd depth = an island inside the
                # hole under the even-odd rule) are not repaired here:
                # subtracting both would silently erase the island, so
                # the row stays flagged.
                if len(simple) > 1:
                    changed = True
                    if any(d % 2 for d in _nesting_depth(simple)):
                        repaired = False
                holes += simple
        if not exteriors:
            changed = True                 # whole polygon degenerated
            continue
        # 2.5 crossing-ring node-split: a hole that properly CROSSES
        # its shell is subtracted from it (intersection nodes inserted,
        # boundary reassembled) — the remaining -makevalid class.
        kept_holes: list[list[tuple[float, float]]] = []
        for h in holes:
            consumed = False
            for k, e in enumerate(exteriors):
                diff = _ring_difference(e, h)
                if diff is None:
                    # degenerate relation: a hole touching its shell
                    # at exactly ONE isolated point (never crossing,
                    # never sharing a segment) is VALID OGC geometry —
                    # keep it as an ordinary hole.  TWO or more touch
                    # points disconnect the interior (GEOS IsValid
                    # rejects it), and line tangency (collinear
                    # overlap) / mixed cross+touch stay flagged:
                    # noding them is ambiguous.
                    if (_tangency_class(e, h) == "point"
                            and len(_touch_points(e, h)) == 1):
                        probe = _off_boundary_vertex(h, e)
                        if probe is not None and _point_in_ring(probe, e):
                            kept_holes.append(h)
                            consumed = True
                            break
                    repaired = False
                    consumed = True
                    break
                if diff:
                    exteriors[k:k + 1] = diff
                    changed = True
                    consumed = True
                    break
            if not consumed:
                kept_holes.append(h)
        all_ext += exteriors
        all_holes += kept_holes

    # 2.6 overlapping / nested shells — ACROSS polygon parts (the
    # "interiors of parts must not intersect" invalidity class):
    # exteriors that properly CROSS are unioned (noded reassembly; an
    # enclosed CW loop becomes a hole); an exterior strictly inside
    # another is absorbed (GEOS structure-mode semantics).  Shells
    # touching at a point (e.g. bowtie-split twins) are left as-is.
    # Bbox prefilter keeps the common many-disjoint-islands case
    # linear in part count.
    exteriors = all_ext
    holes = all_holes

    def bbox(r):
        xs = [p[0] for p in r]
        ys = [p[1] for p in r]
        return min(xs), min(ys), max(xs), max(ys)

    merged, rounds = True, 0
    while merged and rounds < _MAX_SPLITS:
        merged, rounds = False, rounds + 1
        boxes = [bbox(e) for e in exteriors]
        for i in range(len(exteriors)):
            for j in range(i + 1, len(exteriors)):
                bi, bj = boxes[i], boxes[j]
                if bi[2] < bj[0] or bj[2] < bi[0] \
                        or bi[3] < bj[1] or bj[3] < bi[1]:
                    continue               # disjoint bboxes
                ei, ej = exteriors[i], exteriors[j]
                ov = _ring_overlay(ei, ej, union=True)
                if ov is None:
                    continue               # tangency: leave both
                if ov:
                    shells = [r for r in ov if _ring_area2(r) > 0]
                    holes += [r for r in ov if _ring_area2(r) < 0]
                    exteriors = (exteriors[:i] + shells
                                 + exteriors[i + 1:j]
                                 + exteriors[j + 1:])
                    changed = merged = True
                    break
                pj = _off_boundary_vertex(ej, ei)
                if pj is not None and _point_in_ring(pj, ei):
                    exteriors.pop(j)       # nested shell absorbed
                    changed = merged = True
                    break
                pi = _off_boundary_vertex(ei, ej)
                if pi is not None and _point_in_ring(pi, ej):
                    exteriors.pop(i)
                    changed = merged = True
                    break
            if merged:
                break

    # 3. orientation + hole homing (holes keep the exterior that
    # contains them; split/merged exteriors re-home every hole).  A
    # hole inside no exterior subtracts nothing — dropped, not flagged.
    out: list[list[list[tuple[float, float]]]] = []
    for e in exteriors:
        e2 = _orient(e, ccw=True)
        changed |= (e2 is not e)
        out.append([e2])
    for h in holes:
        h2 = _orient(h, ccw=False)
        changed |= (h2 is not h)
        homed = False
        for rings_out in out:
            # a tangent hole's first vertex can lie ON the shell
            # boundary where the raycast is unreliable — probe with an
            # off-boundary vertex when one exists
            probe = _off_boundary_vertex(h2, rings_out[0]) or h2[0]
            if _point_in_ring(probe, rings_out[0]):
                rings_out.append(h2)
                homed = True
                break
        if not homed:
            changed = True
    return out, changed, repaired


def make_valid_wkb(buf: bytes) -> tuple[bytes, bool]:
    """MakeValid-lite on a (Multi)Polygon WKB blob.

    Returns ``(wkb, still_invalid)``; non-polygon input passes
    through untouched.  Output is always a MULTIPOLYGON (callers run
    after PROMOTE_TO_MULTI).
    """
    parsed = parse_wkb(buf)
    if parsed is None or parsed["type"] not in (POLYGON, MULTIPOLYGON):
        return buf, False
    polys, changed, repaired = make_valid_polygons(
        parsed["parts"], parsed["roles"])
    if not repaired or not changed:
        return buf, not repaired
    if not polys:
        return buf, True                   # fully degenerate: flag
    return wkb_multipolygon(polys), False


# ---------------------------------------------------------------------------
# Reprojection (spherical Mercator — exact math, no GDAL)
# ---------------------------------------------------------------------------

_R = 6378137.0


def lonlat_to_mercator(lon: float, lat: float) -> tuple[float, float]:
    x = _R * math.radians(lon)
    y = _R * math.log(math.tan(math.pi / 4.0 + math.radians(lat) / 2.0))
    return x, y


_WKT_KERNELS: dict[str, object] = {}


def should_reproject(src_srid: int | None, dst_srid: int = 4326) -> bool:
    """Constant-folded per layer (ref ingest/processing.py:36-61)."""
    return src_srid is not None and src_srid != dst_srid


# ---------------------------------------------------------------------------
# Vectorized kernels for the T7 stage: numpy-batched coordinate
# extraction / reprojection / rewrite (the same treatment the raster
# warp's TM path got — per-vertex Python here was the vector path's
# 100 TB bottleneck)
# ---------------------------------------------------------------------------

def _coord_runs(buf: bytes):
    """One structure walk -> (base_type, [(byte_offset, n_points),
    ...]) for a little-endian 2D WKB, or None for malformed input
    (the -skipfailures contract).  The runs index every coordinate
    double in the blob, so extraction and rewrite become
    ``np.frombuffer`` / byte-slice ops instead of per-vertex
    ``struct`` calls."""
    try:
        runs: list[tuple[int, int]] = []

        def walk(off: int) -> int:
            if buf[off] != 1:              # big-endian unsupported here
                raise ValueError
            gtype = struct.unpack_from("<I", buf, off + 1)[0] % 1000
            off += 5
            if gtype == POINT:
                runs.append((off, 1))
                return off + 16
            if gtype == LINESTRING:
                n = struct.unpack_from("<I", buf, off)[0]
                off += 4
                runs.append((off, n))
                return off + 16 * n
            if gtype == POLYGON:
                nr = struct.unpack_from("<I", buf, off)[0]
                off += 4
                for _ in range(nr):
                    n = struct.unpack_from("<I", buf, off)[0]
                    off += 4
                    runs.append((off, n))
                    off += 16 * n
                return off
            if gtype in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
                ng = struct.unpack_from("<I", buf, off)[0]
                off += 4
                for _ in range(ng):
                    off = walk(off)
                return off
            raise ValueError

        base = struct.unpack_from("<I", buf, 1)[0] % 1000
        end = walk(0)
        if end > len(buf):
            raise ValueError
        return base, runs
    except (ValueError, struct.error, IndexError):
        return None


def _part_runs(buf: bytes):
    """Like ``_coord_runs`` but one entry PER PART/RING with its
    exterior role: ``(base_type, [(byte_offset, n_points,
    is_exterior), ...])`` or None.  The zero-boxing twin of
    ``parse_wkb``'s parts/roles for kernels that only need numpy
    views of each part (the MVT encoder)."""
    try:
        runs: list[tuple[int, int, bool]] = []

        def walk(off: int) -> int:
            if buf[off] != 1:
                raise ValueError
            gtype = struct.unpack_from("<I", buf, off + 1)[0] % 1000
            off += 5
            if gtype == POINT:
                runs.append((off, 1, True))
                return off + 16
            if gtype == LINESTRING:
                n = struct.unpack_from("<I", buf, off)[0]
                off += 4
                runs.append((off, n, True))
                return off + 16 * n
            if gtype == POLYGON:
                nr = struct.unpack_from("<I", buf, off)[0]
                off += 4
                for i in range(nr):
                    n = struct.unpack_from("<I", buf, off)[0]
                    off += 4
                    runs.append((off, n, i == 0))
                    off += 16 * n
                return off
            if gtype in (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
                ng = struct.unpack_from("<I", buf, off)[0]
                off += 4
                for _ in range(ng):
                    off = walk(off)
                return off
            raise ValueError

        base = struct.unpack_from("<I", buf, 1)[0] % 1000
        end = walk(0)
        if end > len(buf):
            raise ValueError
        return base, runs
    except (ValueError, struct.error, IndexError):
        return None


def _extract_coords_np(buf: bytes, runs) -> "Any":
    """All coordinate pairs of a WKB blob as an (N, 2) float64 array
    (zero-copy views per run)."""
    import numpy as np
    if len(runs) == 1:
        off, n = runs[0]
        return np.frombuffer(buf, dtype="<f8", count=2 * n,
                             offset=off).reshape(n, 2)
    return np.concatenate([
        np.frombuffer(buf, dtype="<f8", count=2 * n,
                      offset=off).reshape(n, 2)
        for off, n in runs])


def _rewrite_runs(buf: bytes, runs, arr) -> bytes:
    """Splice reprojected coordinates back into the blob — one byte-
    slice assignment per run (structure unchanged by reprojection)."""
    import numpy as np
    out = bytearray(buf)
    i = 0
    for off, n in runs:
        out[off:off + 16 * n] = np.ascontiguousarray(
            arr[i:i + n], dtype="<f8").tobytes()
        i += n
    return bytes(out)


def _reproject_array(arr, src_srid: int, crs_wkt: str | None):
    """(N, 2) projected -> (N, 2) lon/lat in one array-kernel call:
    spherical Mercator inline, else the table CRS kernel
    (``crs.to_lonlat``), else the embedded-WKT kernel, else the
    pyproj gate — unresolvable CRSs raise ``NotImplementedError``,
    which normalize turns into drop+audit."""
    import numpy as np
    if src_srid == 4326:
        return arr
    if src_srid == 3857:
        lon = np.degrees(arr[:, 0] / _R)
        lat = np.degrees(2.0 * np.arctan(np.exp(arr[:, 1] / _R))
                         - np.pi / 2.0)
        return np.column_stack([lon, lat])
    from geohub_data_pipeline_spark.operators import crs as _crs
    inv = _crs.to_lonlat(src_srid) if src_srid > 0 else None
    if inv is None and crs_wkt:
        if crs_wkt not in _WKT_KERNELS:
            from geohub_data_pipeline_spark.operators import (
                crs_wkt as _cw,
            )
            _WKT_KERNELS[crs_wkt] = _cw.to_lonlat_wkt(crs_wkt)
        inv = _WKT_KERNELS[crs_wkt]
    if inv is not None:
        lon, lat = inv(arr[:, 0], arr[:, 1])
        return np.column_stack([lon, lat])
    try:  # remaining CRS: optional pyproj path (array-capable)
        from pyproj import Transformer  # noqa: PLC0415
    except ImportError as exc:
        raise NotImplementedError(
            f"reproject from EPSG:{src_srid} needs pyproj (not "
            "installed); supported natively: 4326 (no-op), 3857 "
            "(spherical Mercator), UTM 326xx/327xx/258xx, the "
            "TM/LCC/LAEA/Albers parameter table, and any embedded "
            "WKT1 CRS in the closed-form families "
            "(operators/crs_wkt.py)"
        ) from exc
    if src_srid <= 0:
        raise NotImplementedError(
            "reproject: no EPSG code and the embedded WKT is outside "
            "the closed-form families")
    tr = Transformer.from_crs(src_srid, 4326, always_xy=True)
    lon, lat = tr.transform(arr[:, 0], arr[:, 1])
    return np.column_stack([lon, lat])


# ---------------------------------------------------------------------------
# The T7 stage as a mapInPandas operator
# ---------------------------------------------------------------------------

def normalize_features(features: DataFrame,
                       dst_srid: int = 4326) -> DataFrame:
    """dataset2fgb analog: drop unparseable, promote to Multi*,
    reproject to ``dst_srid``, emit bbox + validity flag.

    Input columns: dataset, layer, fid, geometry (WKB), srid (+ attrs
    are dropped here; join back on (dataset, layer, fid)).  Layers
    with NULL srid are skipped entirely
    (ref ingest/processing.py:134-136).  An optional ``crs_wkt``
    string column (the source's embedded WKT1 CRS — .prj sidecar,
    gpkg_spatial_ref_sys definition) lets rows whose EPSG code is
    unknown (srid 0) or outside the closed-form table reproject via
    ``operators/crs_wkt.py``, matching the reference's resolve-any-
    SRS behaviour (ref ingest/processing.py:142-150).

    Scale: pure ``mapInPandas`` — map-side, Arrow-batched, no shuffle;
    100 TB of features = a scan.  Within each Arrow batch the
    coordinate work is numpy-batched: one structure walk per blob
    indexes the coordinate runs, all vertices of all rows sharing a
    (srid, crs_wkt) are reprojected in ONE vectorized call, and the
    reprojected doubles are spliced back with byte-slice writes — no
    per-vertex Python in the hot path.
    """
    import numpy as np

    from geohub_data_pipeline_spark.session import ship_package
    ship_package(features.sparkSession)
    has_wkt = "crs_wkt" in features.columns
    cols = ["dataset", "layer", "fid", "geometry", "srid"]
    in_cols = cols + (["crs_wkt"] if has_wkt else [])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # phase 1: per-row structure walk + coord extraction;
            # bucket rows by (srid, crs_wkt) for batch reprojection
            items = []                     # parallel per-row lists
            buckets: dict[tuple, list[int]] = {}
            for row in pdf[in_cols].itertuples(index=False, name=None):
                dataset, layer, fid, wkb, srid = row[:5]
                crs_wkt = row[5] if has_wkt else None
                if crs_wkt is not None and not isinstance(crs_wkt, str):
                    crs_wkt = None
                if srid is None or pd.isna(srid):
                    continue                       # skipped layer
                srid = int(srid)
                if wkb is None:
                    continue                       # -skipfailures
                buf = bytes(wkb)
                walked = _coord_runs(buf)
                if walked is None:
                    continue                       # -skipfailures
                base, runs = walked
                if not any(n for _, n in runs):
                    continue                       # empty geometry
                arr = _extract_coords_np(buf, runs)
                idx = len(items)
                items.append([dataset, layer, int(fid), buf, base,
                              runs, arr])
                if should_reproject(srid, dst_srid):
                    buckets.setdefault((srid, crs_wkt), []).append(idx)

            # phase 2: ONE vectorized reprojection per CRS bucket
            dropped: set[int] = set()
            for (srid, crs_wkt), idxs in buckets.items():
                arrs = [items[i][6] for i in idxs]
                try:
                    flat = _reproject_array(
                        np.concatenate(arrs) if len(arrs) > 1
                        else arrs[0], srid, crs_wkt)
                except NotImplementedError:
                    dropped.update(idxs)   # unsupported CRS: drop+audit
                    continue
                pos = 0
                for i, a in zip(idxs, arrs):
                    n = a.shape[0]
                    new = flat[pos:pos + n]
                    pos += n
                    items[i][3] = _rewrite_runs(items[i][3],
                                                items[i][5], new)
                    items[i][6] = new

            # phase 3: promote / makevalid / bbox per surviving row
            rows = []
            for i, (dataset, layer, fid, buf, base, runs, arr) \
                    in enumerate(items):
                if i in dropped:
                    continue
                buf = promote_to_multi(buf)
                mtype = _PROMOTE.get(base, base)
                invalid = False
                if mtype == MULTIPOLYGON:
                    # -makevalid (lite): bowtie split / vertex dedupe /
                    # rewinding happen in-row; only unrepairable
                    # geometries keep the flag for quarantine.
                    buf2, invalid = make_valid_wkb(buf)
                    if buf2 != buf:
                        buf = buf2
                        parsed_m = parse_wkb(buf)
                        minx, miny, maxx, maxy = bbox_of(parsed_m)
                        rows.append((dataset, layer, fid, buf,
                                     parsed_m["type"], dst_srid,
                                     minx, miny, maxx, maxy, invalid))
                        continue
                mins = arr.min(axis=0)
                maxs = arr.max(axis=0)
                rows.append((dataset, layer, fid, buf, mtype,
                             dst_srid, float(mins[0]), float(mins[1]),
                             float(maxs[0]), float(maxs[1]), invalid))
            yield pd.DataFrame(rows, columns=[
                "dataset", "layer", "fid", "geometry", "geom_type", "srid",
                "bbox_minx", "bbox_miny", "bbox_maxx", "bbox_maxy",
                "needs_makevalid"])

    return features.select(*in_cols).mapInPandas(batches, NORMALIZED_SCHEMA)


def feature_count_audit(original: DataFrame, converted: DataFrame,
                        keys: list[str]) -> DataFrame:
    """T16: original-vs-converted reconciliation per layer
    (ref ingest/processing.py:160-181)."""
    o = original.groupBy(*keys).agg(F.count(F.lit(1)).alias("original_count"))
    c = converted.groupBy(*keys).agg(F.count(F.lit(1)).alias("converted_count"))
    joined = o.join(c, keys, "left").na.fill({"converted_count": 0})
    return joined.select(
        *keys, "original_count", "converted_count",
        F.when(F.col("converted_count") == 0, "error")
        .when(F.col("converted_count") < F.col("original_count"), "warning")
        .otherwise("ok").alias("audit_status"),
    )


def geojson_from_wkb(buf: bytes) -> dict | None:
    """Little-endian 2D WKB -> RFC 7946 geometry object (the inverse
    of ``wkb_from_geojson``; None for unparseable input).  Polygon
    roles group rings back into their polygons for MultiPolygon."""
    p = parse_wkb(buf)
    if p is None:
        return None
    t = p["type"]
    pairs = _pairs          # tuples serialize as JSON arrays

    if t == POINT:
        c = p["coords"]
        return {"type": "Point", "coordinates": [c[0], c[1]]}
    if t == MULTIPOINT:
        return {"type": "MultiPoint", "coordinates": pairs(p["coords"])}
    if t == LINESTRING:
        return {"type": "LineString",
                "coordinates": pairs(p["parts"][0])}
    if t == MULTILINESTRING:
        return {"type": "MultiLineString",
                "coordinates": [pairs(x) for x in p["parts"]]}
    if t in (POLYGON, MULTIPOLYGON):
        roles = p.get("roles") or [True] * len(p["parts"])
        polys: list[list[list[list[float]]]] = []
        for part, is_shell in zip(p["parts"], roles):
            ring = pairs(part)
            if is_shell or not polys:
                polys.append([ring])
            else:
                polys[-1].append(ring)
        if t == POLYGON and len(polys) == 1:
            return {"type": "Polygon", "coordinates": polys[0]}
        return {"type": "MultiPolygon", "coordinates": polys}
    return None
