"""General-path DE-9IM verification for parsed geometries (Arrow ``mapInArrow``).

The closed-form column algebra (operators/relate.py, relate_lines.py)
covers boxes, points and segments — the hot path. WKT-ingested data can
carry arbitrary points / polylines / polygons; this module verifies those
pairs exactly, mirroring the reference's JTS ``geometry.relate`` step
(linkers/GIAnt.scala:32-37). ``Verdict`` is the one verification rule;
the batch verifier (``with_general_relations``) and the progressive scan
(operators/progressive_state.py) both read their flags from it:

1. each batch is checked (no null gtype/coords, every coords leaf an
   [x, y] pair, else ValueError), its coords are read zero-copy from the
   list-array buffers, and one pre-classifier (relate_fast.preclassify)
   buckets the rows by (kind, arity) into dense numpy tensors, each run
   in bounded row chunks: convex SAT for polygon pairs of 3-64 vertices
   a side; a point set or polyline of up to 64 vertices against a convex
   3-64-gon, decided as inside, disjoint or crossing; point-set
   algebra; proven-disjoint line tests;
2. per-pair exact predicates below (``relate_pair``) for whatever the
   tensors leave UNDECIDED (boundary contact, non-convex, holes,
   off-lattice).

Exactness scope:
- POINT vs POINT / LINESTRING / POLYGON (with holes): exact (orientation
  tests + ray casting with boundary detection).
- LINESTRING vs LINESTRING: exact — intersects/crosses/touches/overlaps
  by segment classification, equals/within/covers by rational
  sub-segment coverage (cut at exact intersection parameters, every
  sub-segment midpoint and vertex on the target).
- LINESTRING vs POLYGON and POLYGON vs POLYGON: exact for any simple
  polygon (with holes, multi) — axis-aligned rectangles take a float
  closed form, everything else the rational-arithmetic sub-segment
  classifier in operators/relate_poly.py.
- MULTIPOINT vs anything: exact per-point location aggregation
  (_relate_points_*) — strictly stronger than the reference's envelope
  approximation for this combo (model/entities/EntityT.scala:35); oracled
  by plans/giant.multipoint_{line,triangle}_counts.

No geometry combo keeps the envelope approximation; the float orientation
tests are exact on the engine's lattice contract (coordinates that are
small integer multiples of 1/16 — io/synthetic.py), and the arbitrary-
coordinate polygon paths route through exact scaled-integer arithmetic
in relate_poly (every float is dyadic, so a joint power-of-two rescale
makes all vertices integers; probe points are homogeneous triples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ds_jedai_spark.operators.relate import RELATIONS

Pt = tuple[float, float]


def _orient(a: Pt, b: Pt, c: Pt) -> float:
    return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])


def _on_segment(p: Pt, a: Pt, b: Pt) -> bool:
    if _orient(a, b, p) != 0:
        return False
    return min(a[0], b[0]) <= p[0] <= max(a[0], b[0]) and min(a[1], b[1]) <= p[1] <= max(
        a[1], b[1]
    )


def _seg_intersect(a1: Pt, a2: Pt, b1: Pt, b2: Pt) -> tuple[bool, bool, bool]:
    """(intersects, proper_cross, collinear_overlap_positive_length)."""
    d1, d2 = _orient(b1, b2, a1), _orient(b1, b2, a2)
    d3, d4 = _orient(a1, a2, b1), _orient(a1, a2, b2)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    ):
        return True, True, False
    touch = (
        _on_segment(a1, b1, b2)
        or _on_segment(a2, b1, b2)
        or _on_segment(b1, a1, a2)
        or _on_segment(b2, a1, a2)
    )
    if d1 == 0 and d2 == 0 and d3 == 0 and d4 == 0 and touch:
        # Collinear: positive-length overlap?
        axis = 0 if a1[0] != a2[0] or b1[0] != b2[0] else 1
        lo = max(min(a1[axis], a2[axis]), min(b1[axis], b2[axis]))
        hi = min(max(a1[axis], a2[axis]), max(b1[axis], b2[axis]))
        return True, False, hi > lo
    return touch, False, False


def _segments(parts: list[list[Pt]]) -> list[tuple[Pt, Pt]]:
    out = []
    for part in parts:
        for i in range(len(part) - 1):
            out.append((tuple(part[i]), tuple(part[i + 1])))
    return out


def _line_boundary(parts: list[list[Pt]]) -> set[Pt]:
    """OGC mod-2 boundary of a (multi)linestring: the points occurring
    as a chain endpoint an ODD number of times (JTS
    Mod2BoundaryNodeRule — the rule the reference inherits through JTS
    relate, model/IM.scala:13). Shared path vertices (endpoint degree
    2) and the start point of a closed ring part are INTERIOR, not
    boundary; a part's endpoint landing mid-segment of another part
    still counts only its endpoint occurrences (SFS MultiCurve rule).
    r11 fix: the previous endpoint-SET rule classified degree-2 chain
    vertices as boundary, turning JTS crosses into touches whenever the
    other line passed through such a vertex."""
    from collections import Counter

    c: Counter = Counter()
    for part in parts:
        c[tuple(part[0])] += 1
        c[tuple(part[-1])] += 1
    return {p for p, n in c.items() if n % 2 == 1}


def _is_rect(parts: list[list[Pt]]) -> bool:
    if len(parts) != 1 or len(parts[0]) != 5:
        return False
    xs = {p[0] for p in parts[0]}
    ys = {p[1] for p in parts[0]}
    return len(xs) == 2 and len(ys) == 2


def _env(parts) -> tuple[float, float, float, float]:
    xs = [p[0] for part in parts for p in part]
    ys = [p[1] for part in parts for p in part]
    return min(xs), min(ys), max(xs), max(ys)


def _false() -> dict[str, bool]:
    return {r: False for r in RELATIONS}


def _finish(d: dict[str, bool]) -> dict[str, bool]:
    d["disjoint"] = not d["intersects"]
    return d


def _relate_point_point(a: Pt, b: Pt) -> dict[str, bool]:
    d = _false()
    eq = a == b
    d.update(intersects=eq, equals=eq, contains=eq, within=eq, covers=eq, coveredby=eq)
    return _finish(d)


def _relate_point_line(p: Pt, parts) -> dict[str, bool]:
    d = _false()
    segs = _segments(parts)
    on = any(_on_segment(p, s[0], s[1]) for s in segs)
    if not on:
        return _finish(d)
    boundary = p in _line_boundary(parts)
    d["intersects"] = True
    if boundary:
        d["touches"] = True
    else:
        d["within"] = True
        d["coveredby"] = True
    return _finish(d)


def _relate_point_polygon(p: Pt, rings) -> dict[str, bool]:
    # Same seam-normalized locator as the point-SET path (r12); the
    # single-point flag algebra is the n_in/n_on degenerate of it
    # (crosses needs points on both sides, impossible with one).
    return _relate_points_polygon([tuple(p)], rings)


def _relate_line_line(pa, pb) -> dict[str, bool]:
    from fractions import Fraction as Fr

    d = _false()
    sa, sb = _segments(pa), _segments(pb)
    ea, eb = _line_boundary(pa), _line_boundary(pb)
    # Exact-rational boundary sets: contact points that are PROPER
    # segment crossings have rational (non-lattice) coordinates, and a
    # proper cross can still land exactly on another part's
    # odd-multiplicity endpoint — boundary under the Mod2 rule, so NOT
    # interior-interior evidence (r11 fix; previously every proper
    # cross counted as ii).
    eaf = {(Fr(x), Fr(y)) for x, y in ea}
    ebf = {(Fr(x), Fr(y)) for x, y in eb}

    def _cross_point(a1, a2, b1, b2):
        ax, ay = Fr(a1[0]), Fr(a1[1])
        dx, dy = Fr(a2[0]) - ax, Fr(a2[1]) - ay
        bx, by = Fr(b1[0]), Fr(b1[1])
        ex, ey = Fr(b2[0]) - bx, Fr(b2[1]) - by
        den = dx * ey - dy * ex
        t = ((bx - ax) * ey - (by - ay) * ex) / den
        return (ax + t * dx, ay + t * dy)

    any_int = interior_contact = collinear = False
    touch_pts: set[Pt] = set()
    for s1 in sa:
        for s2 in sb:
            inter, proper, coll = _seg_intersect(s1[0], s1[1], s2[0], s2[1])
            if not inter:
                continue
            any_int = True
            if coll:
                collinear = True
            if proper:
                cp = _cross_point(s1[0], s1[1], s2[0], s2[1])
                if cp not in eaf and cp not in ebf:
                    interior_contact = True
            else:
                for p in (s1[0], s1[1], s2[0], s2[1]):
                    if _on_segment(p, s2[0], s2[1]) and _on_segment(p, s1[0], s1[1]):
                        touch_pts.add(p)
    if not any_int:
        return _finish(d)
    d["intersects"] = True
    ii = interior_contact or collinear or any(
        p not in ea and p not in eb for p in touch_pts
    )
    if not ii:
        d["touches"] = True
        return _finish(d)
    # within/equals: exact coverage — cut each source segment at its exact
    # rational intersection parameters with the target segments and require
    # every sub-segment midpoint (and every vertex) to lie on the target.
    # A vertex+midpoint heuristic would false-positive on gapped collinear
    # targets (e.g. target pieces [0,.45],[.48,.52],[.55,1] vs source [0,1]).
    def covered(src_parts, dst_segs):
        from ds_jedai_spark.operators import relate_poly as rp

        src_i, dst_i = rp._scale_parts(
            src_parts, [[a, b] for a, b in dst_segs]
        )
        isegs = [(part[0], part[1]) for part in dst_i]

        def on_target(hp) -> bool:
            return any(rp._on_seg3(hp, e0, e1) for e0, e1 in isegs)

        for c in src_i:
            for i in range(len(c) - 1):
                p, q = c[i], c[i + 1]
                if not on_target(rp._hpt(p)) or not on_target(rp._hpt(q)):
                    return False
                if p == q:
                    continue
                ts = rp._sorted_params(rp._seg_cut_params((p, q), isegs))
                for t0, t1 in zip(ts, ts[1:]):
                    if not on_target(rp._at_param(p, q, rp._mid(t0, t1))):
                        return False
        return True

    a_in_b = covered(pa, sb)
    b_in_a = covered(pb, sa)
    d["equals"] = a_in_b and b_in_a
    d["coveredby"] = a_in_b
    d["covers"] = b_in_a
    d["within"] = a_in_b
    d["contains"] = b_in_a
    if collinear and not a_in_b and not b_in_a:
        d["overlaps"] = True
    if not collinear and not a_in_b and not b_in_a:
        d["crosses"] = True
    return _finish(d)


def _relate_line_rect(parts, env) -> dict[str, bool]:
    minx, miny, maxx, maxy = env
    d = _false()
    corners = [(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)]
    rect_rings = [corners]
    segs = _segments(parts)
    any_int = ii = False
    all_inside = True
    for s in segs:
        sminx, smaxx = min(s[0][0], s[1][0]), max(s[0][0], s[1][0])
        sminy, smaxy = min(s[0][1], s[1][1]), max(s[0][1], s[1][1])
        bbox = sminx <= maxx and minx <= smaxx and sminy <= maxy and miny <= smaxy
        fs = [
            (s[1][0] - s[0][0]) * (c[1] - s[0][1])
            - (s[1][1] - s[0][1]) * (c[0] - s[0][0])
            for c in corners[:4]
        ]
        if bbox and min(fs) <= 0 <= max(fs):
            any_int = True
        strict = sminx < maxx and minx < smaxx and sminy < maxy and miny < smaxy
        if strict and min(fs) < 0 < max(fs):
            ii = True
        for p in s:
            if not (minx <= p[0] <= maxx and miny <= p[1] <= maxy):
                all_inside = False
    # vertices strictly inside also imply ii (covers segments fully interior)
    if not ii:
        for part in parts:
            for p in part:
                if minx < p[0] < maxx and miny < p[1] < maxy:
                    ii = True
    if not any_int and not ii:
        return _finish(d)
    d["intersects"] = True
    d["coveredby"] = all_inside
    d["within"] = all_inside and ii
    d["crosses"] = ii and not all_inside
    d["touches"] = not ii
    return _finish(d)


def _relate_rect_rect(env_a, env_b) -> dict[str, bool]:
    ax1, ay1, ax2, ay2 = env_a
    bx1, by1, bx2, by2 = env_b
    d = _false()
    inter = ax1 <= bx2 and bx1 <= ax2 and ay1 <= by2 and by1 <= ay2
    if not inter:
        return _finish(d)
    ii = ax1 < bx2 and bx1 < ax2 and ay1 < by2 and by1 < ay2
    covers = bx1 >= ax1 and bx2 <= ax2 and by1 >= ay1 and by2 <= ay2
    coveredby = ax1 >= bx1 and ax2 <= bx2 and ay1 >= by1 and ay2 <= by2
    d.update(
        intersects=True,
        covers=covers,
        coveredby=coveredby,
        contains=covers and ii,
        within=coveredby and ii,
        equals=covers and coveredby,
        touches=not ii,
        overlaps=ii and not covers and not coveredby,
    )
    return _finish(d)


def _relate_points_line(pts: list[Pt], parts) -> dict[str, bool]:
    """Point-set vs line: per-point location aggregation (dim 0 vs 1)."""
    d = _false()
    segs = _segments(parts)
    ends = _line_boundary(parts)
    n_interior = n_boundary = n_off = 0
    for p in pts:
        if any(_on_segment(p, a, b) for a, b in segs):
            if p in ends:
                n_boundary += 1
            else:
                n_interior += 1
        else:
            n_off += 1
    if n_interior + n_boundary == 0:
        return _finish(d)
    d["intersects"] = True
    d["coveredby"] = n_off == 0
    d["within"] = n_off == 0 and n_interior > 0
    d["crosses"] = n_interior > 0 and n_off > 0
    d["touches"] = n_interior == 0
    return _finish(d)


def _relate_points_polygon(pts: list[Pt], rings) -> dict[str, bool]:
    """Point-set vs polygon region (dim 0 vs 2).

    Locates on the SEAM-NORMALIZED scaled-integer rings (relate_poly.
    normalize_rings, r12) so a point exactly on a cancelled collinear
    seam of an OGC-invalid multipolygon answers interior/exterior —
    the same region the polygon×polygon and line×polygon paths see,
    matching JTS after noding. Valid polygons normalize to themselves
    and the location math is the identical even-odd parity either way."""
    from ds_jedai_spark.operators import relate_poly

    pt_parts, poly_parts = relate_poly._scale_parts(
        [[list(p)] for p in pts], rings
    )
    nr = relate_poly.normalize_rings(relate_poly._rings(poly_parts))
    d = _false()
    n_in = n_on = n_out = 0
    for part in pt_parts:
        loc = relate_poly.point_location(relate_poly._hpt(part[0]), nr)
        if loc == 2:
            n_in += 1
        elif loc == 1:
            n_on += 1
        else:
            n_out += 1
    if n_in + n_on == 0:
        return _finish(d)
    d["intersects"] = True
    d["coveredby"] = n_out == 0
    d["within"] = n_out == 0 and n_in > 0
    d["crosses"] = n_in > 0 and n_out > 0
    d["touches"] = n_in == 0
    return _finish(d)


def _relate_points_points(pa: list[Pt], pb: list[Pt]) -> dict[str, bool]:
    """Point-set vs point-set: pure set algebra (points have no boundary,
    so touches is identically false and overlaps needs proper overlap)."""
    d = _false()
    sa, sb = set(pa), set(pb)
    common = sa & sb
    if not common:
        return _finish(d)
    d["intersects"] = True
    d["coveredby"] = sa <= sb
    d["within"] = sa <= sb
    d["covers"] = sb <= sa
    d["contains"] = sb <= sa
    d["equals"] = sa == sb
    d["overlaps"] = bool(sa - sb) and bool(sb - sa)
    return _finish(d)


def relate_pair(gtype_a: str, parts_a, gtype_b: str, parts_b) -> dict[str, bool]:
    a_point = gtype_a in ("POINT",)
    b_point = gtype_b in ("POINT",)
    a_line = gtype_a in ("LINESTRING", "MULTILINESTRING")
    b_line = gtype_b in ("LINESTRING", "MULTILINESTRING")
    a_poly = gtype_a in ("POLYGON", "MULTIPOLYGON")
    b_poly = gtype_b in ("POLYGON", "MULTIPOLYGON")

    def swap(d: dict[str, bool]) -> dict[str, bool]:
        out = dict(d)
        out["contains"], out["within"] = d["within"], d["contains"]
        out["covers"], out["coveredby"] = d["coveredby"], d["covers"]
        return out

    if a_point and b_point:
        return _relate_point_point(tuple(parts_a[0][0]), tuple(parts_b[0][0]))
    if a_point and b_line:
        return _relate_point_line(tuple(parts_a[0][0]), parts_b)
    if b_point and a_line:
        return swap(_relate_point_line(tuple(parts_b[0][0]), parts_a))
    if a_point and b_poly:
        return _relate_point_polygon(tuple(parts_a[0][0]), parts_b)
    if b_point and a_poly:
        return swap(_relate_point_polygon(tuple(parts_b[0][0]), parts_a))
    if a_line and b_line:
        return _relate_line_line(parts_a, parts_b)
    if a_line and b_poly and _is_rect(parts_b):
        return _relate_line_rect(parts_a, _env(parts_b))
    if b_line and a_poly and _is_rect(parts_a):
        return swap(_relate_line_rect(parts_b, _env(parts_a)))
    if a_poly and b_poly and _is_rect(parts_a) and _is_rect(parts_b):
        return _relate_rect_rect(_env(parts_a), _env(parts_b))
    # Exact rational-arithmetic general paths (operators/relate_poly.py).
    from ds_jedai_spark.operators import relate_poly

    if a_line and b_poly:
        return relate_poly.relate_line_polygon(parts_a, parts_b)
    if b_line and a_poly:
        return swap(relate_poly.relate_line_polygon(parts_b, parts_a))
    if a_poly and b_poly:
        return relate_poly.relate_polygon_polygon(parts_a, parts_b)
    # MULTIPOINT combos: exact per-point location aggregation.
    def pts(parts):
        return [tuple(p) for part in parts for p in part]

    a_mp = gtype_a == "MULTIPOINT" or a_point
    b_mp = gtype_b == "MULTIPOINT" or b_point
    if a_mp and b_mp:
        return _relate_points_points(pts(parts_a), pts(parts_b))
    if a_mp and b_line:
        return _relate_points_line(pts(parts_a), parts_b)
    if b_mp and a_line:
        return swap(_relate_points_line(pts(parts_b), parts_a))
    if a_mp and b_poly:
        return _relate_points_polygon(pts(parts_a), parts_b)
    if b_mp and a_poly:
        return swap(_relate_points_polygon(pts(parts_b), parts_a))
    raise AssertionError(f"unhandled geometry pair: {gtype_a} x {gtype_b}")


def _flatten3(arr):
    """Zero-copy view of a list<list<list<double>>> arrow array:
    (o1, o2, o3, vals) where row i's parts are o1[i]:o1[i+1] (indices
    into o2), part j's points are o2[j]:o2[j+1] (indices into o3), and
    point p's doubles are vals[o3[p]:o3[p+1]]. Offsets index the FULL
    (unsliced) child arrays, so they are valid globally."""
    import numpy as np

    o1 = arr.offsets.to_numpy().astype(np.int64)
    a2 = arr.values
    o2 = a2.offsets.to_numpy().astype(np.int64)
    a3 = a2.values
    o3 = a3.offsets.to_numpy().astype(np.int64)
    vals = a3.values.to_numpy()
    return o1, o2, o3, vals


def _row_parts(f, i):
    """Row i of a flattened coords column as a list of (k, 2) float64
    views — no copies, no Python point objects."""
    o1, o2, o3, vals = f
    return [
        vals[o3[o2[j]]:o3[o2[j + 1]]].reshape(-1, 2)
        for j in range(o1[i], o1[i + 1])
    ]


def _checked_flat(g_col, c_col, g_name, c_name):
    """``_flatten3`` of one side's coords column, after checking the
    verifier's input contract: no null gtype or coords value, and every
    coords leaf an [x, y] pair. Raises ValueError naming the column."""
    import numpy as np

    for col, name in ((g_col, g_name), (c_col, c_name)):
        if col.null_count:
            raise ValueError(
                f"general verifier: column {name!r} holds nulls; every "
                "row needs a gtype and coords of [x, y] leaves"
            )
    f = _flatten3(c_col)
    if not bool(np.all(np.diff(f[2]) == 2)):
        raise ValueError(
            f"general verifier: column {c_name!r} has coords leaves "
            "that are not [x, y] pairs; only 2-D coordinates are supported"
        )
    return f


class Verdict:
    """The DE-9IM verdict on the rows of one batch of candidate pairs
    (``{s}gtype``/``{s}coords`` against ``{t}gtype``/``{t}coords``).

    The constructor checks and flattens each side (``_checked_flat``)
    and pre-classifies every row (``relate_fast.preclassify``) into
    ``codes``. ``exact(i)`` is ``relate_pair`` on row i, memoised and run
    only when asked. ``flags(rows)`` gives the ten ``r_<relation>``
    arrays of ``rows``: ``CODE_FLAGS`` where the pre-classifier decided,
    ``exact`` where it left the row UNDECIDED."""

    def __init__(self, batch, s: str = "s_", t: str = "t_"):
        from ds_jedai_spark.operators.relate_fast import preclassify

        sg, sc, tg, tc = (f"{p}{c}" for p in (s, t) for c in ("gtype", "coords"))
        self._sg, self._tg = batch.column(sg), batch.column(tg)
        self._fs = _checked_flat(self._sg, batch.column(sc), sg, sc)
        self._ft = _checked_flat(self._tg, batch.column(tc), tg, tc)
        self.codes = preclassify(self._sg, self._fs, self._tg, self._ft)
        self._exact: dict[int, dict[str, bool]] = {}

    def _relate(self, i: int, ga: str, gb: str) -> dict[str, bool]:
        d = self._exact[i] = relate_pair(
            ga, _row_parts(self._fs, i), gb, _row_parts(self._ft, i)
        )
        return d

    def exact(self, i: int) -> dict[str, bool]:
        d = self._exact.get(i)
        if d is None:
            d = self._relate(i, self._sg[i].as_py(), self._tg[i].as_py())
        return d

    def flags(self, rows) -> dict:
        import numpy as np
        import pyarrow as pa

        from ds_jedai_spark.operators.relate_fast import CODE_FLAGS, UNDECIDED

        codes = self.codes[rows]
        out = {f"r_{r}": CODE_FLAGS[r][codes] for r in RELATIONS}
        js = np.nonzero(codes == UNDECIDED)[0]
        und = rows[js].tolist()
        # gtypes of the rows not yet related, in one read per side
        new = [i for i in und if i not in self._exact]
        idx = pa.array(new, pa.int64())
        for i, ga, gb in zip(new, self._sg.take(idx).to_pylist(),
                             self._tg.take(idx).to_pylist()):
            self._relate(i, ga, gb)
        for j, i in zip(js.tolist(), und):
            d = self._exact[i]
            for r in RELATIONS:
                out[f"r_{r}"][j] = d[r]
        return out


def with_general_relations(
    pairs: DataFrame, s: str = "s_", t: str = "t_", spread: bool = True
) -> DataFrame:
    """Append r_<relation> booleans computed by the general-path verifier.
    Requires {s}gtype/{s}coords and {t}gtype/{t}coords columns. Every
    gtype and coords value must be non-null and every coords leaf an
    [x, y] pair; a batch that breaks this raises ValueError naming the
    column.

    Arrow-native (``mapInArrow``): the verifier reads the nested coords
    columns through their raw offset/value buffers and passes every input
    column back untouched, so NO pandas<->Arrow conversion of nested
    arrays ever happens. This is the dominant cost at scale, not the
    geometry math: on the sf0.1 triangle soak (31.4M pairs) an identity
    ``mapInPandas`` round-trip alone measures 319s on local[32] — 70% of
    the old 453s wall — while the plain JVM count is 19.5s. Each batch
    takes one path: ``relate_fast.preclassify`` buckets its rows by
    (kind, arity) and decides each bucket with one dense tensor gathered
    straight from the buffers; only the rows it leaves UNDECIDED pay the
    per-pair exact path, fed by zero-copy row views.

    ``spread`` round-robin-repartitions the candidate stream first: a
    broadcast tile join preserves the scan's input partitioning, so a
    small file count would otherwise funnel every pair through one
    Python worker (measured 494s -> ~20s on the sf0.01 triangle batch).
    The exact verifier dominates the added shuffle by orders of
    magnitude; pass spread=False only when the input is already
    well-partitioned (e.g. straight after a shuffling equi-join).

    Caller audit: the four tile-join composites in plans/giant.py,
    reader_plans.wkt_hole_relate_counts, api.run's full-verification path
    and its top-budget progressive paths all feed from BroadcastHashJoin
    (the tile join, and on the top-budget paths the budget semi-join,
    which also broadcasts), which preserves the scan's single input
    partition, so each one needs the spread. The one caller whose input
    comes out of an exchange is relate_convex.with_relations_convex_fast:
    it passes ``spread=False`` on the output of with_convex_code's own
    round-robin exchange. DYNAMIC_PROGRESSIVE_GIANT and EARLY_STOPPING
    do not call it: their Arrow scan reads the same ``Verdict`` in place
    (operators/progressive_state.py). Do NOT gate this on a static
    ``rdd.getNumPartitions()`` probe: under AQE the static count can
    read spark.sql.shuffle.partitions while the runtime-coalesced
    exchange hands the verifier far fewer partitions, silently
    single-threading it again."""
    names = [f.name for f in pairs.schema]

    def run(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            res = Verdict(batch, s, t).flags(np.arange(batch.num_rows))
            yield pa.RecordBatch.from_arrays(
                [batch.column(j) for j in range(batch.num_columns)]
                + [pa.array(v) for v in res.values()],
                names=names + list(res),
            )

    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pairs.schema
    )
    rel_fields = ", ".join(f"r_{r} boolean" for r in RELATIONS)
    if spread:
        from ds_jedai_spark.operators.ranking import shuffle_parts

        pairs = pairs.repartition(shuffle_parts(pairs))
    return pairs.mapInArrow(run, f"{in_fields}, {rel_fields}")
