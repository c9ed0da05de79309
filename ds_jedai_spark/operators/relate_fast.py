"""Vectorized exact pre-classifier for the general DE-9IM verifier.

The general verifier (`relate_general.Verdict`, behind both
`with_general_relations` and the progressive scan) would otherwise call
`relate_pair` once per candidate row: exact, but ~100-300 us of
interpreter work per pair. Most candidate pairs of a tile join are either
cleanly separated or cleanly nested, overlapping or crossing, with no
boundary contact. Against a convex polygon those cases are decided by one
orientation-sign tensor over a whole bucket of rows. ``preclassify``, the
verifier's one entry, buckets an Arrow batch by (kind, arity) per side
and gathers each bucket straight from the coords buffers, so every kernel
here sees one shared vertex count per side:

* convex ring x convex ring, 3..MAX_DENSE_VERTS vertices each
  (``preclassify_dense``);
* vertex set (point, multipoint, polyline) x convex ring
  (``preclassify_points_vs_poly``);
* point set x point set, point set x polyline, polyline x polyline
  (set algebra and proven-disjoint tests).

Every kernel runs in row chunks of at most CHUNK_ELEMS orientation
entries, so memory stays bounded for any batch size or arity. Rows of
any other shape (holes, multipolygons, larger rings or vertex sets,
other kinds) stay UNDECIDED.

Exactness argument (no epsilons anywhere):
- Eligible coordinates must be integers after scaling by 512 (covers the
  testdata 1/16-dyadic contract and the 1/512 decomposition lattice) and
  bounded by 2^24. Then every cross product used here is a difference of
  products of integers bounded by 2^25, i.e. < 2^51, whatever the arity:
  exactly representable in float64, so every sign this module reads is
  the true integer sign. Anything that fails the integrality/bound probe
  falls back to the scaled-integer exact path (`relate_poly`), which
  handles arbitrary dyadic floats.
- Separating-axis reasoning is only applied to rings verified strictly
  convex (all consecutive-edge cross signs identical and nonzero, and
  the edge direction winding once), where SAT over edge normals is an
  exact theorem, and only STRICT sign configurations are classified:
    * strict separation on some edge axis        -> DISJOINT
    * every B vertex strictly inside every A half-plane -> B in interior(A)
    * symmetric                                  -> A in interior(B)
    * no weak separating axis on either side and each polygon has a
      vertex strictly outside the other          -> proper OVERLAPS
  If interiors were disjoint a weak separating axis parallel to an edge
  of A or B would exist (the extreme line of the separating cone lies
  along an adjacent edge), so "no weak axis" proves interiors intersect.
- A vertex set A (dimension 0 or 1) against a convex polygon B is
  CROSSES when one vertex of A lies strictly inside every edge
  half-plane of B and another lies strictly outside one edge. B's
  interior and exterior are open sets, so each of those vertices has
  interior points of A next to it in the same set: I(A) meets I(B) and
  E(B), which is the crosses pattern for dim 0/1 against dim 2 (and
  rules out within, touches and disjoint). The claim is symmetric, so
  the swapped orientation keeps it as is.
Every configuration involving a zero sign that matters (boundary
contact, touches, covers-with-contact, equals) returns UNDECIDED and
takes the per-pair exact path. The two paths therefore never disagree;
the fast path only skips work, never changes a flag
(tests/test_relate_fast.py cross-checks every decided row).
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

SCALE = 512.0
MAX_SCALED = float(1 << 24)
# Largest ring (vertices, without closure) or vertex set the dense
# kernels take; larger geometries go to the per-pair exact path.
MAX_DENSE_VERTS = 64
# Row chunks keep rows * ka * kb (entries of one orientation tensor)
# within this budget: 16 MB of float64, whatever the batch size.
CHUNK_ELEMS = 1 << 21

UNDECIDED, DISJOINT, A_IN_B, B_IN_A, OVERLAP, CROSSES = 0, 1, 2, 3, 4, 5

_ALL = (
    "intersects", "contains", "within", "covers", "coveredby",
    "equals", "touches", "overlaps", "crosses", "disjoint",
)


def _code_dict(**true_flags) -> dict[str, bool]:
    d = {k: False for k in _ALL}
    d.update(true_flags)
    return d


CODE_DICTS = {
    DISJOINT: _code_dict(disjoint=True),
    A_IN_B: _code_dict(intersects=True, within=True, coveredby=True),
    B_IN_A: _code_dict(intersects=True, contains=True, covers=True),
    OVERLAP: _code_dict(intersects=True, overlaps=True),
    CROSSES: _code_dict(intersects=True, crosses=True),
}

# CODE_FLAGS[rel][code] -> bool; lets the verifier assemble whole result
# columns as one numpy gather per relation instead of per-row appends.
# The gather indexes by code value, so the codes must be 1..len.
assert sorted(CODE_DICTS) == list(range(1, len(CODE_DICTS) + 1))
CODE_FLAGS = {
    rel: np.array([False] + [CODE_DICTS[c][rel] for c in sorted(CODE_DICTS)])
    for rel in _ALL
}


def _row_chunked(kernel):
    """Run a kernel over ``(n, Ka, 2)`` x ``(n, Kb, 2)`` operands in row
    slices of at most CHUNK_ELEMS // (Ka * Kb) rows and concatenate the
    codes."""

    @functools.wraps(kernel)
    def run(a, b):
        n = a.shape[0]
        step = max(1, CHUNK_ELEMS // (a.shape[1] * b.shape[1]))
        if n <= step:
            return kernel(a, b)
        return np.concatenate(
            [kernel(a[i:i + step], b[i:i + step]) for i in range(0, n, step)]
        )

    return run


def _orient_tensor(A, sa, B):
    """O[n, i, j]: sign of orient(a_i, a_{i+1}, b_j) normalized so that
    positive means 'strictly inside edge i's half-plane'."""
    E = np.roll(A, -1, axis=1) - A                  # [n, Ka(edges), 2]
    rel = B[:, None, :, :] - A[:, :, None, :]       # [n, Ka, Kb(verts), 2]
    O = E[:, :, None, 0] * rel[:, :, :, 1] - E[:, :, None, 1] * rel[:, :, :, 0]
    O *= sa[:, None, None]
    return O


def _dense_ring_checks(ring):
    """Scaling / integrality / convexity / closure checks over a dense
    batch of closed rings ``ring[n, P, 2]`` (first vertex repeated
    last, 3..MAX_DENSE_VERTS vertices). Returns (verts[n,k,2], sign[n],
    valid[n]); rows failing any probe (closure included) come back
    invalid."""
    k = ring.shape[1] - 1  # vertices sans closure
    assert 3 <= k <= MAX_DENSE_VERTS, k
    r = ring[:, :-1] * SCALE
    valid = (
        np.all(ring[:, 0] == ring[:, -1], axis=1)
        & np.all(np.abs(r) <= MAX_SCALED, axis=(1, 2))
        & np.all(r == np.rint(r), axis=(1, 2))
    )
    e = np.roll(r, -1, axis=1) - r
    e2 = np.roll(e, -1, axis=1)
    cr = e[:, :, 0] * e2[:, :, 1] - e[:, :, 1] * e2[:, :, 0]
    sign = np.where(
        np.all(cr > 0, axis=1), 1.0, np.where(np.all(cr < 0, axis=1), -1.0, 0.0)
    )
    # Same-sign turns alone also admit stars that wind more than once (a
    # pentagram turns left at every vertex); the edge direction of a
    # simple convex ring passes +x exactly once per traversal.
    ys = e[:, :, 1] * sign[:, None]
    once = np.sum((ys < 0) & (np.roll(ys, -1, axis=1) >= 0), axis=1) == 1
    return r, sign, valid & (sign != 0.0) & once


def _scaled_points(pts):
    """(scaled points, per-row lattice-validity) for a (n, K, 2) batch."""
    ps = pts * SCALE
    valid = (
        np.all(np.abs(ps) <= MAX_SCALED, axis=(1, 2))
        & np.all(ps == np.rint(ps), axis=(1, 2))
    )
    return ps, valid


@_row_chunked
def preclassify_dense(ring_a, ring_b) -> np.ndarray:
    """Codes for a dense pair batch: ``ring_a``/``ring_b`` are float64
    arrays of shape (n, P, 2) holding CLOSED single rings of 3 to
    MAX_DENSE_VERTS vertices. Rows failing the integrality/convexity
    probe come back UNDECIDED."""
    A, sa, va = _dense_ring_checks(ring_a)
    B, sb, vb = _dense_ring_checks(ring_b)
    OA = _orient_tensor(A, sa, B)   # A's edge axes vs B's vertices
    OB = _orient_tensor(B, sb, A)   # B's edge axes vs A's vertices
    pos_a, neg_a = OA > 0, OA < 0
    pos_b, neg_b = OB > 0, OB < 0
    sep = np.any(neg_a.all(axis=2), axis=1) | np.any(neg_b.all(axis=2), axis=1)
    b_in_a = pos_a.all(axis=(1, 2))
    a_in_b = pos_b.all(axis=(1, 2))
    # no weak separating axis anywhere -> interiors intersect
    no_weak_axis = np.all(pos_a.any(axis=2), axis=1) & np.all(
        pos_b.any(axis=2), axis=1
    )
    b_out = neg_a.any(axis=(1, 2))   # some B vertex strictly outside A
    a_out = neg_b.any(axis=(1, 2))
    overlap = no_weak_axis & b_out & a_out & ~b_in_a & ~a_in_b

    out = np.zeros(OA.shape[0], dtype=np.int8)
    out[sep] = DISJOINT
    out[b_in_a] = B_IN_A
    out[a_in_b] = A_IN_B
    out[overlap] = OVERLAP
    out[~(va & vb)] = UNDECIDED
    return out


@_row_chunked
def preclassify_points_vs_poly(pts, ring) -> np.ndarray:
    """Codes for point-set/polyline A vs convex single-ring polygon B.

    ``pts[n, K, 2]`` holds EVERY vertex of A (POINT / MULTIPOINT /
    LINESTRING / MULTILINESTRING — for dim < 2 geometries the vertex set
    is enough: on any linear axis the polyline's extremes are vertices,
    and a convex region containing all vertices contains every segment
    between them). ``ring[n, P, 2]`` is the closed ring. Claims are
    conservative and strict-sign only:
      * every vertex strictly inside every edge half-plane -> A_IN_B
        (intersects + within + coveredby; no boundary contact possible)
      * some edge axis with every vertex strictly outside -> DISJOINT
      * some vertex strictly inside every edge half-plane and some
        vertex strictly outside one edge -> CROSSES (intersects +
        crosses; other vertices may touch the boundary, see the module
        docstring for why that cannot change the flags)
      * anything else (contact, degenerate, off-lattice) -> UNDECIDED.
    Exactness: same scaled-integer float64 argument as the polygon pair
    path. Swapped callers map A_IN_B -> B_IN_A themselves; DISJOINT and
    CROSSES are symmetric."""
    B, sb, vb = _dense_ring_checks(ring)
    ps, va = _scaled_points(pts)
    OB = _orient_tensor(B, sb, ps)
    vert_in = np.all(OB > 0, axis=1)      # (n, K): strictly interior
    vert_out = np.any(OB < 0, axis=1)     # (n, K): strictly exterior
    sep = np.any(np.all(OB < 0, axis=2), axis=1)
    out = np.zeros(ring.shape[0], dtype=np.int8)
    out[sep] = DISJOINT
    out[vert_in.all(axis=1)] = A_IN_B
    out[vert_in.any(axis=1) & vert_out.any(axis=1)] = CROSSES
    out[~(va & vb)] = UNDECIDED
    return out


@_row_chunked
def preclassify_pts_vs_pts(A, B) -> np.ndarray:
    """Codes for point-set x point-set (POINT/MULTIPOINT both sides —
    the vertex set IS the geometry). Pure set algebra on the equality
    tensor, exact on ANY float coordinates (no lattice probe needed):
    no common point -> DISJOINT; proper subset -> A_IN_B / B_IN_A;
    common + residue both sides -> OVERLAP (point sets never touch or
    cross); equal sets -> UNDECIDED (the code table carries no equals)."""
    eq = (A[:, :, None, 0] == B[:, None, :, 0]) & (
        A[:, :, None, 1] == B[:, None, :, 1]
    )
    common = eq.any(axis=(1, 2))
    a_in_b = eq.any(axis=2).all(axis=1)
    b_in_a = eq.any(axis=1).all(axis=1)
    out = np.zeros(A.shape[0], dtype=np.int8)
    out[~common] = DISJOINT
    out[common & a_in_b & ~b_in_a] = A_IN_B
    out[common & b_in_a & ~a_in_b] = B_IN_A
    out[common & ~a_in_b & ~b_in_a] = OVERLAP
    return out


@_row_chunked
def preclassify_pts_vs_line(P, L) -> np.ndarray:
    """Codes for point-set vs polyline: DISJOINT iff no point is
    incident to any segment of the vertex chain (orientation zero AND
    inside the segment bbox — integer-exact under the lattice probe),
    else UNDECIDED. Multi-part lines enter as their flat vertex chain:
    the phantom bridge segments can only ADD incidences, i.e. only
    withhold a DISJOINT claim — conservative, never wrong."""
    ps, va = _scaled_points(P)
    ls, vb = _scaled_points(L)
    a, b = ls[:, :-1, :], ls[:, 1:, :]
    e = b - a                                     # (n, S, 2)
    rel = ps[:, :, None, :] - a[:, None, :, :]    # (n, K, S, 2)
    o = e[:, None, :, 0] * rel[:, :, :, 1] - e[:, None, :, 1] * rel[:, :, :, 0]
    lox = np.minimum(a[:, None, :, 0], b[:, None, :, 0])
    hix = np.maximum(a[:, None, :, 0], b[:, None, :, 0])
    loy = np.minimum(a[:, None, :, 1], b[:, None, :, 1])
    hiy = np.maximum(a[:, None, :, 1], b[:, None, :, 1])
    px, py = ps[:, :, None, 0], ps[:, :, None, 1]
    incident = (
        (o == 0) & (px >= lox) & (px <= hix) & (py >= loy) & (py <= hiy)
    )
    out = np.zeros(P.shape[0], dtype=np.int8)
    out[~incident.any(axis=(1, 2))] = DISJOINT
    out[~(va & vb)] = UNDECIDED
    return out


@_row_chunked
def preclassify_line_vs_line(A, B) -> np.ndarray:
    """Codes for polyline vs polyline: DISJOINT iff every segment pair
    exhibits a strict straddle separation (one segment's endpoints
    strictly on one side of the other's line — sign tests only), else
    UNDECIDED. Same conservative flat-vertex-chain treatment for
    multi-part rows as preclassify_pts_vs_line."""
    sa, va = _scaled_points(A)
    sb, vb = _scaled_points(B)
    a0, a1 = sa[:, :-1, :], sa[:, 1:, :]
    b0, b1 = sb[:, :-1, :], sb[:, 1:, :]

    def orient(p0, p1, q):
        # p0/p1: (n, S, 2) broadcast vs q: (n, T, 2) -> (n, S, T)
        e = p1 - p0
        return (
            e[:, :, None, 0] * (q[:, None, :, 1] - p0[:, :, None, 1])
            - e[:, :, None, 1] * (q[:, None, :, 0] - p0[:, :, None, 0])
        )

    d1 = orient(b0, b1, a0)                      # (n, SB, SA)
    d2 = orient(b0, b1, a1)
    d3 = orient(a0, a1, b0)                      # (n, SA, SB)
    d4 = orient(a0, a1, b1)
    sep_b = ((d1 > 0) & (d2 > 0)) | ((d1 < 0) & (d2 < 0))
    sep_a = ((d3 > 0) & (d4 > 0)) | ((d3 < 0) & (d4 < 0))
    no_int = sep_b.transpose(0, 2, 1) | sep_a    # (n, SA, SB)
    out = np.zeros(A.shape[0], dtype=np.int8)
    out[no_int.all(axis=(1, 2))] = DISJOINT
    out[~(va & vb)] = UNDECIDED
    return out


# preclassify's kind per gtype: 1 polygon, 2 point set, 3 polyline, 0 other
_KIND_OF = ("POLYGON", "POINT", "MULTIPOINT", "LINESTRING", "MULTILINESTRING")
_KIND_CODE = np.array([1, 2, 2, 3, 3, 0], dtype=np.int8)


def _kinds(gtype) -> np.ndarray:
    """int8 kind per row of an Arrow string column, in one vectorized
    lookup (gtypes outside _KIND_OF map to 0)."""
    idx = pc.index_in(gtype, value_set=pa.array(_KIND_OF))
    return _KIND_CODE[idx.fill_null(len(_KIND_OF)).to_numpy()]


def _dense_subset(f, rows, P):
    """(len(rows), P, 2) gather of single-part rows with P points each."""
    o1, o2, o3, vals = f
    pp = o2[o1[rows]][:, None] + np.arange(P)[None, :]
    return vals[o3[pp][..., None] + np.arange(2)]


def _dense_points_subset(f, rows, P):
    """(len(rows), P, 2) gather of ALL points of each row (across parts)
    — valid because a row's points are contiguous in the flat buffer."""
    o1, o2, o3, vals = f
    starts = o3[o2[o1[rows]]]
    return vals[starts[:, None] + np.arange(2 * P)].reshape(len(rows), P, 2)


def _shape_info(f):
    """Per row: single part?, points of that single part (0 otherwise),
    points across all parts."""
    o1, o2 = f[0], f[1]
    single = np.diff(o1) == 1
    ring_pts = np.where(
        single,
        o2[np.minimum(o1[:-1] + 1, len(o2) - 1)]
        - o2[np.minimum(o1[:-1], len(o2) - 2)],
        0,
    )
    return single, ring_pts, o2[o1[1:]] - o2[o1[:-1]]


def preclassify(gtype_a, fs, gtype_b, ft) -> np.ndarray:
    """An int8 code per row of an Arrow pair batch: UNDECIDED (take
    relate_pair) or a CODE_DICTS key.

    ``gtype_*`` are the Arrow string columns; ``fs``/``ft`` are the
    ``relate_general._flatten3`` views of the coords columns, whose
    leaves must all be [x, y] pairs (the caller validates that). Rows
    are bucketed by their (kind, arity) pair and each bucket is gathered
    straight from the value buffer into one dense tensor. Bucket
    families: polygon x polygon (full SAT codes, convex rings of 3 to
    MAX_DENSE_VERTS vertices), any dim<2 vertex set x polygon and its
    swap (strict inside, disjoint, or crossing: a vertex strictly inside
    and one strictly outside), point-set x point-set (full set algebra
    sans equals), point-set x line and line x line (proven-disjoint
    only). Everything else stays UNDECIDED."""
    n = len(gtype_a)
    codes = np.zeros(n, dtype=np.int8)
    if n == 0:
        return codes
    kind_a, kind_b = _kinds(gtype_a), _kinds(gtype_b)
    single_a, ring_a, pts_a = _shape_info(fs)
    single_b, ring_b, pts_b = _shape_info(ft)
    # Arity caps bound the per-bucket work (bigger rows go exact); the
    # quadratic families get tighter caps than the vs-polygon ones.
    maxp = MAX_DENSE_VERTS
    poly_a = (kind_a == 1) & single_a & (ring_a - 1 >= 3) & (ring_a - 1 <= maxp)
    poly_b = (kind_b == 1) & single_b & (ring_b - 1 >= 3) & (ring_b - 1 <= maxp)
    vset_a = (kind_a >= 2) & (pts_a >= 1) & (pts_a <= maxp)
    vset_b = (kind_b >= 2) & (pts_b >= 1) & (pts_b <= maxp)
    pp_a, pp_b = vset_a & (kind_a == 2), vset_b & (kind_b == 2)
    ln_a = (kind_a == 3) & (pts_a >= 2) & (pts_a <= maxp)
    ln_b = (kind_b == 3) & (pts_b >= 2) & (pts_b <= maxp)

    def buckets(mask, na, nb, runner, cap_a=maxp, cap_b=maxp):
        mask = mask & (na <= cap_a) & (nb <= cap_b)
        if not mask.any():
            return
        key = na * (maxp + 2) + nb
        for k in np.unique(key[mask]):
            rows = np.nonzero(mask & (key == k))[0]
            codes[rows] = runner(rows, int(na[rows[0]]), int(nb[rows[0]]))

    buckets(
        poly_a & poly_b,
        ring_a,
        ring_b,
        lambda rows, pa, pb: preclassify_dense(
            _dense_subset(fs, rows, pa), _dense_subset(ft, rows, pb)
        ),
    )
    buckets(
        vset_a & poly_b,
        pts_a,
        ring_b,
        lambda rows, pa, pb: preclassify_points_vs_poly(
            _dense_points_subset(fs, rows, pa), _dense_subset(ft, rows, pb)
        ),
    )

    def swapped(rows, pa, pb):
        got = preclassify_points_vs_poly(
            _dense_points_subset(ft, rows, pb), _dense_subset(fs, rows, pa)
        )
        out = got.copy()  # DISJOINT and CROSSES are symmetric
        out[got == A_IN_B] = B_IN_A
        return out

    buckets(poly_a & vset_b, ring_a, pts_b, swapped)
    buckets(
        pp_a & pp_b,
        pts_a,
        pts_b,
        lambda rows, pa, pb: preclassify_pts_vs_pts(
            _dense_points_subset(fs, rows, pa), _dense_points_subset(ft, rows, pb)
        ),
    )
    buckets(
        pp_a & ln_b,
        pts_a,
        pts_b,
        lambda rows, pa, pb: preclassify_pts_vs_line(
            _dense_points_subset(fs, rows, pa), _dense_points_subset(ft, rows, pb)
        ),
        cap_b=32,
    )
    buckets(
        ln_a & pp_b,
        pts_a,
        pts_b,
        # DISJOINT is symmetric and it is this classifier's only claim.
        lambda rows, pa, pb: preclassify_pts_vs_line(
            _dense_points_subset(ft, rows, pb), _dense_points_subset(fs, rows, pa)
        ),
        cap_a=32,
    )
    buckets(
        ln_a & ln_b,
        pts_a,
        pts_b,
        lambda rows, pa, pb: preclassify_line_vs_line(
            _dense_points_subset(fs, rows, pa), _dense_points_subset(ft, rows, pb)
        ),
        cap_a=16,
        cap_b=16,
    )
    return codes
