"""Vectorized exact pre-classifier for the general DE-9IM verifier.

The general verifier (`relate_general.with_general_relations`) calls
`relate_pair` once per candidate row: exact, but ~100-300 us of
interpreter work per pair. Most candidate pairs of a tile join are either
cleanly separated or cleanly nested, overlapping or crossing, with no
boundary contact. Against a convex polygon those cases are decided by one
orientation-sign tensor over a whole bucket of rows. The verifier buckets
a batch by (kind, arity) per side, so every kernel here sees one shared
vertex count per side and nothing is padded:

* convex ring x convex ring, 3..MAX_DENSE_VERTS vertices each
  (``preclassify_dense``);
* vertex set (point, multipoint, polyline) x convex ring
  (``preclassify_points_vs_poly``);
* point set x point set, point set x polyline, polyline x polyline
  (set algebra and proven-disjoint tests).

Every kernel runs in row chunks of at most CHUNK_ELEMS orientation
entries, so memory stays bounded for any batch size or arity.

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

SCALE = 512.0
MAX_SCALED = float(1 << 24)
# Largest ring (vertices, without closure) or vertex set the exact-arity
# dense kernels take; larger geometries go to the per-pair exact path.
MAX_DENSE_VERTS = 64
# Ring cap of the padded fallback (preclassify_batch / _extract_ring)
# only: that layout pads every row to the batch maximum, so one large
# ring would inflate the tensor of every row in the batch.
MAX_VERTS = 8
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
# columns as one numpy gather per relation instead of per-row appends
CODE_FLAGS = {
    rel: np.array([False] + [CODE_DICTS[c][rel] for c in sorted(CODE_DICTS)])
    for rel in _ALL
}


def _row_chunked(kernel):
    """Run a kernel over ``(n, Ka, 2)`` x ``(n, Kb, 2)`` operands in row
    slices of at most CHUNK_ELEMS // (Ka * Kb) rows and concatenate the
    codes. A kernel's None (shared shape outside its envelope) depends
    on the shapes only, so every slice returns it at once."""

    @functools.wraps(kernel)
    def run(a, b):
        n = a.shape[0]
        step = max(1, CHUNK_ELEMS // (a.shape[1] * b.shape[1]))
        if n <= step:
            return kernel(a, b)
        parts = [kernel(a[i:i + step], b[i:i + step]) for i in range(0, n, step)]
        return None if parts[0] is None else np.concatenate(parts)

    return run


def _extract_ring(gtype, parts):
    """Scaled integer ring (list of (x, y) float-int tuples), vertex
    count and orientation sign, or None when this geometry is ineligible
    for the fast path. Pure Python on purpose: per-row numpy calls cost
    more than the whole decision tensor (measured 94 us/pair -> 6 us)."""
    if gtype != "POLYGON" or len(parts) != 1:
        return None
    ring = parts[0]
    k = len(ring)
    p0, plast = ring[0], ring[-1]
    if k >= 2 and p0[0] == plast[0] and p0[1] == plast[1]:
        k -= 1
    if not 3 <= k <= MAX_VERTS:
        return None
    out = []
    for idx in range(k):
        p = ring[idx]
        x = float(p[0]) * SCALE
        y = float(p[1]) * SCALE
        if x % 1.0 or y % 1.0 or x > MAX_SCALED or x < -MAX_SCALED \
                or y > MAX_SCALED or y < -MAX_SCALED:
            return None
        out.append((x, y))
    # strict convexity + consistent orientation (zero cross -> slow path),
    # winding once (see _dense_ring_checks)
    sign = wraps = 0
    for i in range(k):
        ax, ay = out[i]
        bx, by = out[i + 1 - k * (i + 1 == k)]
        cx, cy = out[i + 2 - k * (i + 2 >= k)]
        cr = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        if cr > 0:
            s = 1
        elif cr < 0:
            s = -1
        else:
            return None
        if sign == 0:
            sign = s
        elif s != sign:
            return None
        if (by - ay) * s < 0 <= (cy - by) * s:
            wraps += 1
    if wraps != 1:
        return None
    return out, k, float(sign)


def _orient_tensor(A, ka, sa, B, kmax):
    """OA[n, i, j]: sign of orient(a_i, a_{i+1}, b_j) normalized so that
    positive means 'strictly inside edge i's half-plane', with padded
    edges masked out via edge_valid."""
    nxt = np.roll(A, -1, axis=1)
    E = nxt - A                                     # [n, K, 2]
    rel = B[:, None, :, :] - A[:, :, None, :]       # [n, K(edges), K(verts), 2]
    O = E[:, :, None, 0] * rel[:, :, :, 1] - E[:, :, None, 1] * rel[:, :, :, 0]
    O *= sa[:, None, None]
    idx = np.arange(kmax)[None, :]
    # padding repeats the last real vertex: edges k-1..K-2 are zero-length,
    # edge K-1 (pad -> vertex 0) duplicates the closing edge k-1 -> 0.
    edge_valid = (idx < ka[:, None] - 1) | (idx == kmax - 1)
    return O, edge_valid


def _dense_ring_checks(ring, max_k=MAX_DENSE_VERTS):
    """Scaling / integrality / convexity / closure checks over a dense
    batch of closed rings ``ring[n, P, 2]`` (first vertex repeated
    last). Returns (verts[n,k,2], k, sign[n], valid[n]) or None when the
    shared arity is outside 3..max_k; rows failing any PER-ROW probe
    (closure included) come back invalid, not batch-fatal."""
    k = ring.shape[1] - 1  # vertices sans closure
    if not 3 <= k <= max_k:
        return None
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
    return r, k, sign, valid & (sign != 0.0) & once


def _scaled_points(pts):
    """(scaled points, per-row lattice-validity) for a (n, K, 2) batch."""
    ps = pts * SCALE
    valid = (
        np.all(np.abs(ps) <= MAX_SCALED, axis=(1, 2))
        & np.all(ps == np.rint(ps), axis=(1, 2))
    )
    return ps, valid


@_row_chunked
def preclassify_dense(ring_a, ring_b) -> np.ndarray | None:
    """Codes for a dense pair batch: ``ring_a``/``ring_b`` are float64
    arrays of shape (n, P, 2) holding CLOSED single rings of 3 to
    MAX_DENSE_VERTS vertices (the layout the Arrow-native verifier
    gathers straight from the list-array buffers — no per-row objects
    anywhere). Rows failing the integrality/convexity probe come back
    UNDECIDED; a shared shape outside the envelope returns None (caller
    takes the ragged path)."""
    ha = _dense_ring_checks(ring_a)
    if ha is None:
        return None
    hb = _dense_ring_checks(ring_b)
    if hb is None:
        return None
    n = ring_a.shape[0]
    A, ka, sa, va = ha
    B, kb, sb, vb = hb
    OA, eva = _orient_tensor(A, np.full(n, ka), sa, B, ka)
    OB, evb = _orient_tensor(B, np.full(n, kb), sb, A, kb)
    out = _decide(OA, eva, OB, evb)
    out[~(va & vb)] = UNDECIDED
    return out


@_row_chunked
def preclassify_points_vs_poly(pts, ring) -> np.ndarray | None:
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
    hb = _dense_ring_checks(ring)
    if hb is None:
        return None
    B, kb, sb, vb = hb
    ps, va = _scaled_points(pts)
    n = ring.shape[0]
    OB, evb = _orient_tensor(B, np.full(n, kb), sb, ps, kb)
    ev = evb[:, :, None]
    vert_in = np.all((OB > 0) | ~ev, axis=1)     # (n, K): strictly interior
    vert_out = np.any((OB < 0) & ev, axis=1)     # (n, K): strictly exterior
    sep = np.any(np.all(OB < 0, axis=2) & evb, axis=1)
    out = np.zeros(n, dtype=np.int8)
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


def _extract_homogeneous(gtypes, coords):
    """Batch extraction when every row is a single closed ring of the
    same vertex count (the shape every tile-join candidate batch has):
    one np.asarray for the whole column, then scaling / integrality /
    convexity as batched array ops. Returns (verts[n,k,2], k, sign[n],
    valid[n]) or None when the batch is not homogeneous."""
    for g in gtypes:
        if g != "POLYGON":
            return None
    try:
        arr = np.asarray(coords, dtype=np.float64)
    except (ValueError, TypeError):
        return None
    if arr.ndim != 4 or arr.shape[1] != 1:
        return None
    return _dense_ring_checks(arr[:, 0], MAX_VERTS)


def _decide(OA, eva, OB, evb):
    """The strict-sign decision logic shared by both batch layouts."""
    allj_neg_A = np.all(OA < 0, axis=2)
    allj_pos_A = np.all(OA > 0, axis=2)
    anyj_pos_A = np.any(OA > 0, axis=2)
    anyj_neg_A = np.any(OA < 0, axis=2)
    allj_neg_B = np.all(OB < 0, axis=2)
    allj_pos_B = np.all(OB > 0, axis=2)
    anyj_pos_B = np.any(OB > 0, axis=2)
    anyj_neg_B = np.any(OB < 0, axis=2)

    def any_axis(per_axis, ev):
        return np.any(per_axis & ev, axis=1)

    def all_axes(per_axis, ev):
        return np.all(per_axis | ~ev, axis=1)

    sep = any_axis(allj_neg_A, eva) | any_axis(allj_neg_B, evb)
    b_in_a = all_axes(allj_pos_A, eva)
    a_in_b = all_axes(allj_pos_B, evb)
    # no weak separating axis anywhere -> interiors intersect
    no_weak_axis = all_axes(anyj_pos_A, eva) & all_axes(anyj_pos_B, evb)
    b_out = any_axis(anyj_neg_A, eva)   # some B vertex strictly outside A
    a_out = any_axis(anyj_neg_B, evb)
    overlap = no_weak_axis & b_out & a_out & ~b_in_a & ~a_in_b

    out = np.zeros(OA.shape[0], dtype=np.int8)
    out[sep] = DISJOINT
    out[b_in_a] = B_IN_A
    out[a_in_b] = A_IN_B
    out[overlap] = OVERLAP
    return out


def preclassify_batch(gta, ca, gtb, cb) -> np.ndarray:
    """Return an int8 code per row: UNDECIDED (use relate_pair) or one of
    DISJOINT / A_IN_B / B_IN_A / OVERLAP (look up CODE_DICTS)."""
    n = len(gta)
    codes = np.zeros(n, dtype=np.int8)
    if n == 0:
        return codes

    ha = _extract_homogeneous(gta, ca)
    hb = _extract_homogeneous(gtb, cb) if ha is not None else None
    if ha is not None and hb is not None:
        A, ka, sa, va = ha
        B, kb, sb, vb = hb
        kan = np.full(n, ka)
        kbn = np.full(n, kb)
        OA, eva = _orient_tensor(A, kan, sa, B, ka)
        OB, evb = _orient_tensor(B, kbn, sb, A, kb)
        out = _decide(OA, eva, OB, evb)
        out[~(va & vb)] = UNDECIDED
        return out
    rows, As, Bs, kas, kbs, sas, sbs = [], [], [], [], [], [], []
    for i in range(n):
        ga = _extract_ring(gta[i], ca[i])
        if ga is None:
            continue
        gb = _extract_ring(gtb[i], cb[i])
        if gb is None:
            continue
        ra, ka, sa = ga
        rb, kb, sb = gb
        rows.append(i)
        As.append(ra)
        Bs.append(rb)
        kas.append(ka)
        kbs.append(kb)
        sas.append(sa)
        sbs.append(sb)
    if not rows:
        return codes

    # pad to the batch's max ring size, not MAX_VERTS: a triangle batch
    # then runs a 4x4 tensor instead of 8x8 (4x less arithmetic)
    kmax = max(max(kas), max(kbs))
    A = np.asarray(
        [r + [r[-1]] * (kmax - k) for r, k in zip(As, kas)], dtype=np.float64
    )
    B = np.asarray(
        [r + [r[-1]] * (kmax - k) for r, k in zip(Bs, kbs)], dtype=np.float64
    )
    ka = np.asarray(kas)
    kb = np.asarray(kbs)
    sa = np.asarray(sas)
    sb = np.asarray(sbs)

    OA, eva = _orient_tensor(A, ka, sa, B, kmax)   # A's axes vs B's vertices
    OB, evb = _orient_tensor(B, kb, sb, A, kmax)   # B's axes vs A's vertices
    codes[np.asarray(rows)] = _decide(OA, eva, OB, evb)
    return codes
