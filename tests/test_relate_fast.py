"""Cross-validation of the vectorized convex pre-classifier against the
exact per-pair path: on every decided row the two must agree flag-for-flag,
and every boundary-contact configuration must come back UNDECIDED-or-right
(the fast path may never change a relation, only skip work)."""

import random

import numpy as np
import pyarrow as pa
import pytest

from ds_jedai_spark.operators.relate_fast import (
    A_IN_B,
    B_IN_A,
    CODE_DICTS,
    DISJOINT,
    OVERLAP,
    UNDECIDED,
    preclassify,
)
from ds_jedai_spark.operators.relate_general import _flatten3, relate_pair

_COORDS = pa.list_(pa.list_(pa.list_(pa.float64())))


def _codes(ga, ca, gb, cb):
    """Codes of relate_fast.preclassify on Arrow columns built from
    per-row (gtype, parts) lists: the verifier's real entry."""
    return preclassify(
        pa.array(ga, pa.string()), _flatten3(pa.array(ca, _COORDS)),
        pa.array(gb, pa.string()), _flatten3(pa.array(cb, _COORDS)),
    )


def _cross(o, a, b):
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _convex_poly(rng, maxr=48):
    while True:
        cx, cy = rng.randint(-800, 800) / 16, rng.randint(-800, 800) / 16
        pts = set()
        while len(pts) < rng.choice([3, 3, 4, 5, 6]):
            pts.add(
                (
                    cx + rng.randint(-maxr, maxr) / 16,
                    cy + rng.randint(-maxr, maxr) / 16,
                )
            )
        hull = _hull(pts)
        if len(hull) >= 3:
            hull.append(hull[0])
            return [[list(p) for p in hull]]


def _hull(pts):
    """Strict convex hull (collinear points dropped), counter-clockwise,
    not closed."""
    pts = sorted(pts)
    lower = []
    for p in pts:
        while len(lower) >= 2 and _cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper = []
    for p in reversed(pts):
        while len(upper) >= 2 and _cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def _check_agreement(ca, cb):
    n = len(ca)
    codes = _codes(["POLYGON"] * n, ca, ["POLYGON"] * n, cb)
    decided = 0
    for i in range(n):
        if codes[i] == UNDECIDED:
            continue
        decided += 1
        exact = relate_pair("POLYGON", ca[i], "POLYGON", cb[i])
        fast = CODE_DICTS[int(codes[i])]
        assert fast == {k: exact[k] for k in fast}, (
            f"row {i}: fast={fast} exact={exact}"
        )
    return decided


def test_random_convex_pairs_agree_with_exact_path():
    rng = random.Random(991)
    ca, cb = [], []
    for i in range(3000):
        a, b = _convex_poly(rng), _convex_poly(rng)
        if i % 2 == 0:
            # overlap-biased: translate B near A's first vertex
            ax, ay = a[0][0]
            dx, dy = rng.randint(-16, 16) / 16, rng.randint(-16, 16) / 16
            b = [
                [
                    [p[0] - b[0][0][0] + ax + dx, p[1] - b[0][0][1] + ay + dy]
                    for p in b[0]
                ]
            ]
        ca.append(a)
        cb.append(b)
    decided = _check_agreement(ca, cb)
    assert decided > 2500  # the point of the fast path is deciding most rows


@pytest.mark.parametrize(
    "a,b",
    [
        # shared-edge neighbours (touches): must not be classified
        ([[[0, 0], [2, 0], [1, 2], [0, 0]]], [[[0, 0], [2, 0], [1, -2], [0, 0]]]),
        # vertex-on-edge touch
        ([[[0, 0], [4, 0], [2, 3], [0, 0]]], [[[2, 0], [5, -2], [3, -4], [2, 0]]]),
        # identical triangles (equals)
        ([[[0, 0], [2, 0], [1, 2], [0, 0]]], [[[0, 0], [2, 0], [1, 2], [0, 0]]]),
        # covered with boundary contact (B inside A, one vertex on edge)
        ([[[0, 0], [8, 0], [4, 8], [0, 0]]], [[[2, 0], [6, 0], [4, 2], [2, 0]]]),
    ],
)
def test_contact_cases_fall_back(a, b):
    codes = _codes(["POLYGON"], [a], ["POLYGON"], [b])
    assert codes[0] == UNDECIDED


def test_box_batch_is_decided_without_contact():
    """A homogeneous batch of closed rectangles on the 1/16 lattice (the
    progressive workload's shape), with edge-sharing and corner-touching
    neighbours and both ring orientations: every pair without boundary
    contact is decided, and every decided row equals relate_pair."""
    rng = np.random.default_rng(17)

    def box(x0, y0, x1, y1):
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
        if rng.random() < 0.5:
            ring = ring[::-1]
        ring = [[x / 16, y / 16] for x, y in ring]
        return [ring + [ring[0]]]

    env_a, env_b = [], []
    for i in range(1200):
        x0, y0 = (int(v) for v in rng.integers(-400, 400, 2))
        x1, y1 = x0 + int(rng.integers(1, 40)), y0 + int(rng.integers(1, 40))
        if i % 4 == 0:    # edge-sharing neighbour, right or above
            w, h = (int(v) for v in rng.integers(1, 40, 2))
            nb = (x1, y0, x1 + w, y1) if i % 8 == 0 else (x0, y1, x1, y1 + h)
        elif i % 4 == 1:  # corner-touching neighbour
            nb = (x1, y1, x1 + int(rng.integers(1, 40)),
                  y1 + int(rng.integers(1, 40)))
        else:             # anything near: disjoint, nested, overlapping
            bx, by = x0 + int(rng.integers(-40, 40)), y0 + int(rng.integers(-40, 40))
            nb = (bx, by, bx + int(rng.integers(1, 60)), by + int(rng.integers(1, 60)))
        env_a.append((x0, y0, x1, y1))
        env_b.append(nb)
    ea, eb = np.array(env_a), np.array(env_b)
    ca = [box(*e) for e in env_a]
    cb = [box(*e) for e in env_b]
    n = len(ca)
    codes = _codes(["POLYGON"] * n, ca, ["POLYGON"] * n, cb)
    decided = _assert_decided_rows_exact(
        ["POLYGON"] * n, ca, ["POLYGON"] * n, cb, codes
    )
    # boundary contact: the closed boxes meet and share an edge line
    meet = np.all(ea[:, :2] <= eb[:, 2:], axis=1) & np.all(eb[:, :2] <= ea[:, 2:], axis=1)
    shared = (
        (ea[:, [0, 2]][:, :, None] == eb[:, [0, 2]][:, None, :]).any(axis=(1, 2))
        | (ea[:, [1, 3]][:, :, None] == eb[:, [1, 3]][:, None, :]).any(axis=(1, 2))
    )
    contact = meet & shared
    assert np.all(codes[~contact] != UNDECIDED)
    # the neighbours touch, and touches has no code
    touching = np.arange(n) % 4 < 2
    assert contact[touching].all() and np.all(codes[touching] == UNDECIDED)
    assert set(codes[decided].tolist()) == {DISJOINT, A_IN_B, B_IN_A, OVERLAP}
    assert len(decided) > 0.4 * n


def test_nonconvex_and_general_fall_back():
    # nonconvex quad -> slow path
    nc = [[[0, 0], [4, 0], [1, 1], [0, 4], [0, 0]]]
    tri = [[[10, 10], [12, 10], [11, 12], [10, 10]]]
    assert _codes(["POLYGON"], [nc], ["POLYGON"], [tri])[0] == UNDECIDED
    # polygon with hole -> slow path
    holed = [
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
        [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]],
    ]
    assert _codes(["POLYGON"], [holed], ["POLYGON"], [tri])[0] == UNDECIDED
    # non-dyadic-on-the-512-lattice coordinates -> slow path
    off = [[[0.001, 0], [2, 0], [1, 2], [0.001, 0]]]
    assert _codes(["POLYGON"], [off], ["POLYGON"], [tri])[0] == UNDECIDED


@pytest.mark.parametrize("clockwise", [False, True])
def test_star_rings_fall_back(clockwise):
    """A pentagram turns the same way at every vertex but winds twice:
    its centre is exterior under the even-odd rule, so no convex claim
    may be made about it, against a polygon, a point or a line."""
    star = [[0.0, 16.0], [-9.0, -13.0], [15.0, 5.0], [-15.0, 5.0],
            [9.0, -13.0], [0.0, 16.0]]
    if clockwise:
        star = star[::-1]
    tri = [[-1.0, -1.0], [1.0, -1.0], [0.0, 1.0], [-1.0, -1.0]]
    assert relate_pair("POLYGON", [star], "POLYGON", [tri])["disjoint"]
    assert _codes(["POLYGON"], [[star]], ["POLYGON"], [[tri]])[0] == UNDECIDED
    assert _codes(
        ["POLYGON"] * 2, [[star], [tri]], ["POLYGON"] * 2, [[tri], [star]]
    ).tolist() == [UNDECIDED, UNDECIDED]
    codes = _codes(
        ["POLYGON", "POINT", "LINESTRING"],
        [[star], [[[0.0, 0.0]]], [[[0.0, 0.0], [30.0, 0.0]]]],
        ["POLYGON", "POLYGON", "POLYGON"],
        [[tri], [star], [star]],
    )
    assert codes.tolist() == [UNDECIDED] * 3


def test_clean_cases_decide():
    tri_a = [[[0.0, 0.0], [2.0, 0.0], [1.0, 2.0], [0.0, 0.0]]]
    far = [[[100.0, 100.0], [102.0, 100.0], [101.0, 102.0], [100.0, 100.0]]]
    inner = [[[0.75, 0.25], [1.25, 0.25], [1.0, 0.75], [0.75, 0.25]]]
    outer = [[[-10.0, -10.0], [20.0, -10.0], [1.0, 20.0], [-10.0, -10.0]]]
    overlap = [[[1.0, -1.0], [3.0, -1.0], [1.0, 1.5], [1.0, -1.0]]]
    codes = _codes(
        ["POLYGON"] * 4,
        [tri_a, tri_a, tri_a, tri_a],
        ["POLYGON"] * 4,
        [far, inner, outer, overlap],
    )
    assert list(codes) == [1, 3, 2, 4]  # DISJOINT, B_IN_A, A_IN_B, OVERLAP
    for code, b in zip(codes, [far, inner, outer, overlap]):
        exact = relate_pair("POLYGON", tri_a, "POLYGON", b)
        fast = CODE_DICTS[int(code)]
        assert fast == {k: exact[k] for k in fast}


def test_points_vs_poly_preclassifier_agrees_with_exact_path():
    """Dense point-set/polyline vs convex polygon codes must match
    relate_pair flags on every decided row (interior / separated /
    boundary-contact mixes)."""
    import numpy as np

    from ds_jedai_spark.operators.relate_fast import (
        A_IN_B,
        CODE_DICTS,
        DISJOINT,
        UNDECIDED,
        preclassify_points_vs_poly,
    )

    rng = random.Random(808)
    rows = []
    for i in range(600):
        poly = _convex_poly(rng)
        ring = poly[0]
        # point sets of 1..4 points: sometimes a polygon vertex (contact)
        pts = []
        for _ in range(rng.choice([1, 2, 3, 4])):
            if rng.random() < 0.2:
                pts.append(list(ring[rng.randrange(len(ring) - 1)]))
            else:
                pts.append(
                    [rng.randint(-900, 900) / 16, rng.randint(-900, 900) / 16]
                )
        rows.append((pts, poly))
    keys = sorted({(len(p), len(poly[0])) for p, poly in rows})
    n_decided_total = 0
    for npts, rlen in keys:
        sel = [r for r in rows if len(r[0]) == npts and len(r[1][0]) == rlen]
        if not sel:
            continue
        pts = np.array([r[0] for r in sel], dtype=float)
        rings = np.array([r[1][0] for r in sel], dtype=float)
        codes = preclassify_points_vs_poly(pts, rings)
        assert codes is not None
        decided = 0
        for i, (p, poly) in enumerate(sel):
            if codes[i] == UNDECIDED:
                continue
            decided += 1
            gtype = "POINT" if len(p) == 1 else "MULTIPOINT"
            parts = [[q] for q in p] if len(p) > 1 else [p]
            exact = relate_pair(gtype, parts, "POLYGON", poly)
            want = CODE_DICTS[int(codes[i])]
            assert {k: exact[k] for k in want} == want, (p, poly, exact)
        n_decided_total += decided
    assert n_decided_total > 200


def test_pts_line_and_line_line_classifiers_agree_with_exact_path():
    """The proven-disjoint classifiers (point-set vs line, line vs line)
    and the point-set set-algebra codes must agree with relate_pair on
    every decided row."""
    import numpy as np

    from ds_jedai_spark.operators.relate_fast import (
        preclassify_line_vs_line,
        preclassify_pts_vs_line,
        preclassify_pts_vs_pts,
    )

    rng = random.Random(515)

    def rnd_pts(k):
        return [[rng.randint(-300, 300) / 16, rng.randint(-300, 300) / 16]
                for _ in range(k)]

    def rnd_chain(k):
        pts = [[rng.randint(-300, 300) / 16, rng.randint(-300, 300) / 16]]
        for _ in range(k - 1):
            pts.append([pts[-1][0] + rng.randint(-48, 48) / 16,
                        pts[-1][1] + rng.randint(-48, 48) / 16])
        return pts

    # point-set vs point-set (with forced shares for subset/overlap rows)
    A, B = [], []
    for i in range(400):
        a = rnd_pts(3)
        if i % 4 == 0:
            b = list(a)                    # equal sets -> UNDECIDED
        elif i % 4 == 1:
            b = a[:2] + rnd_pts(1)         # shared points -> overlap/subset
        elif i % 4 == 2:
            b = a[:1] + rnd_pts(2)         # one shared point
        else:
            b = rnd_pts(3)                 # usually disjoint
        B.append(b)
        A.append(a)
    An, Bn = np.array(A, float), np.array(B, float)
    codes = preclassify_pts_vs_pts(An, Bn)
    from ds_jedai_spark.operators.relate_fast import CODE_DICTS, UNDECIDED
    decided = 0
    for i in range(len(A)):
        if codes[i] == UNDECIDED:
            continue
        decided += 1
        exact = relate_pair("MULTIPOINT", [[p] for p in A[i]],
                            "MULTIPOINT", [[p] for p in B[i]])
        want = CODE_DICTS[int(codes[i])]
        assert {k: exact[k] for k in want} == want, (A[i], B[i], exact)
    assert decided > 100

    # point-set vs line
    decided = 0
    for _ in range(60):
        P = [rnd_pts(2) for _ in range(40)]
        L = [rnd_chain(3) for _ in range(40)]
        # force some incidences: put a point ON a segment midpoint
        for j in range(0, 40, 5):
            a, b = L[j][0], L[j][1]
            P[j][0] = [(a[0] + b[0]) / 2, (a[1] + b[1]) / 2]
        codes = preclassify_pts_vs_line(np.array(P, float), np.array(L, float))
        for i in range(40):
            if codes[i] == UNDECIDED:
                continue
            decided += 1
            exact = relate_pair("MULTIPOINT", [[p] for p in P[i]],
                                "LINESTRING", [L[i]])
            want = CODE_DICTS[int(codes[i])]
            assert {k: exact[k] for k in want} == want, (P[i], L[i], exact)
    assert decided > 500

    # line vs line
    decided = 0
    for _ in range(60):
        LA = [rnd_chain(3) for _ in range(40)]
        LB = [rnd_chain(3) for _ in range(40)]
        for j in range(0, 40, 7):
            LB[j] = [list(p) for p in LA[j]]   # identical -> intersecting
        codes = preclassify_line_vs_line(np.array(LA, float), np.array(LB, float))
        for i in range(40):
            if codes[i] == UNDECIDED:
                continue
            decided += 1
            exact = relate_pair("LINESTRING", [LA[i]], "LINESTRING", [LB[i]])
            want = CODE_DICTS[int(codes[i])]
            assert {k: exact[k] for k in want} == want, (LA[i], LB[i], exact)
    assert decided > 500


# --- mixed kinds and large rings through the bucketed kernels ---


def _assert_decided_rows_exact(ga, ca, gb, cb, codes):
    """Every decided row's code flags equal relate_pair's; returns the
    decided row indices."""
    decided = np.nonzero(codes != UNDECIDED)[0]
    for i in decided:
        exact = relate_pair(ga[i], ca[i], gb[i], cb[i])
        fast = CODE_DICTS[int(codes[i])]
        assert fast == {k: exact[k] for k in fast}, (
            f"row {i}: {ga[i]} {ca[i]} x {gb[i]} {cb[i]}: "
            f"fast={fast} exact={exact}"
        )
    return decided


def _lattice_convex(rng, lo, hi, r_lo, r_hi, center):
    """Closed ring of a strictly convex polygon with lo..hi vertices on
    the 1/16 lattice, around ``center`` (lattice units); clockwise about
    a third of the time."""
    while True:
        k = int(rng.integers(lo, hi + 1))
        r = int(rng.integers(r_lo, r_hi + 1))
        ang = np.sort(rng.random(k)) * 2 * np.pi
        pts = np.rint(center + r * np.stack([np.cos(ang), np.sin(ang)], 1))
        hull = _hull([tuple(int(v) for v in p) for p in pts])
        if lo <= len(hull) <= hi:
            if rng.random() < 0.33:
                hull = hull[::-1]
            ring = [[x / 16, y / 16] for x, y in hull]
            return [ring + [ring[0]]]


def test_large_convex_polygons_agree_with_exact_path():
    """9-64-gons against points, multipoints, linestrings and 3-16-gons,
    in both orientations, through the bucketed verifier kernels: every
    decided row equals relate_pair, large rings are actually decided,
    and the CROSSES code shows up with the polygon on either side."""
    from ds_jedai_spark.operators.relate_fast import CROSSES

    rng = np.random.default_rng(2024)
    rows, other_kind, big_is_a = [], [], []
    for i in range(480):
        c = rng.integers(-2000, 2000, 2)
        big = _lattice_convex(rng, 9, 64, 80, 400, c)
        ring = big[0]
        r = max(abs(ring[0][0] - c[0] / 16), abs(ring[0][1] - c[1] / 16))

        def near():
            # a polygon vertex (boundary contact) now and then, else a
            # lattice point around the polygon
            if rng.random() < 0.1:
                return list(ring[int(rng.integers(len(ring) - 1))])
            d = rng.integers(-int(24 * r), int(24 * r) + 1, 2) / 16
            return [c[0] / 16 + d[0], c[1] / 16 + d[1]]

        kind = ("POINT", "MULTIPOINT", "LINESTRING", "POLYGON")[i % 4]
        other_kind.append(kind)
        if kind == "POINT":
            other = [[near()]]
        elif kind == "MULTIPOINT":
            other = [[near()] for _ in range(int(rng.integers(2, 6)))]
        elif kind == "LINESTRING":
            other = [[near() for _ in range(int(rng.integers(2, 7)))]]
        else:
            q = np.rint(np.array(near()) * 16)
            other = _lattice_convex(rng, 3, 16, 8, 160, q)
        big_is_a.append(i // 4 % 2 == 1)
        pair = [("POLYGON", big), (kind, other)]
        rows.append(pair if big_is_a[-1] else pair[::-1])
    ga, ca = zip(*(a for a, _ in rows))
    gb, cb = zip(*(b for _, b in rows))
    codes = _codes(ga, ca, gb, cb)
    decided = _assert_decided_rows_exact(ga, ca, gb, cb, codes)
    assert len(decided) > 0.8 * len(ga)
    other_kind = np.array(other_kind)
    for kind in ("POINT", "MULTIPOINT", "LINESTRING", "POLYGON"):
        assert (codes[other_kind == kind] != UNDECIDED).mean() > 0.5, kind
    big_is_a = np.array(big_is_a)
    crosses = codes == CROSSES
    assert crosses[big_is_a].any() and crosses[~big_is_a].any()


def _mixed_candidates(seed, n_src=400, n_tgt=400, domain=486):
    """Envelope-overlap candidates shaped like the GIA.nt mixed WKT
    benchmark: convex 5-16-gon sources against points, linestrings and
    convex 3-8-gons, every coordinate on the 1/16 lattice."""
    rng = np.random.default_rng(seed)

    def convex(lo, hi, r_lo, r_hi):
        r = int(rng.integers(r_lo, r_hi + 1))
        return _lattice_convex(
            rng, lo, hi, r_lo, r_hi, rng.integers(r + 1, domain - r - 1, 2)
        )

    src = [convex(5, 16, 10, 48) for _ in range(n_src)]
    tgt = []
    for kind in rng.choice(["POINT", "LINESTRING", "POLYGON"], n_tgt):
        if kind == "POINT":
            tgt.append(("POINT", [[list(rng.integers(0, domain, 2) / 16)]]))
        elif kind == "LINESTRING":
            start = rng.integers(40, domain - 40, 2)
            steps = rng.integers(-16, 17, (int(rng.integers(1, 6)), 2))
            chain = np.vstack([start, start + np.cumsum(steps, axis=0)])
            tgt.append(("LINESTRING", [(chain / 16).tolist()]))
        else:
            tgt.append(("POLYGON", convex(3, 8, 3, 24)))

    def env(parts):
        xy = np.array([p for part in parts for p in part])
        return np.r_[xy.min(0), xy.max(0)]

    se = np.array([env(p) for p in src])
    te = np.array([env(p) for _, p in tgt])
    si, ti = np.nonzero(
        (se[:, None, 0] <= te[None, :, 2]) & (te[None, :, 0] <= se[:, None, 2])
        & (se[:, None, 1] <= te[None, :, 3]) & (te[None, :, 1] <= se[:, None, 3])
    )
    return (
        ["POLYGON"] * len(si), [src[i] for i in si],
        [tgt[j][0] for j in ti], [tgt[j][1] for j in ti],
    )


def test_mixed_batch_is_decided_by_the_dense_kernels():
    """On a candidate batch shaped like the mixed WKT benchmark at least
    95% of rows are decided without relate_pair, and every decided row
    is exact."""
    ga, ca, gb, cb = _mixed_candidates(7)
    assert len(ga) > 1000
    codes = _codes(ga, ca, gb, cb)
    decided = _assert_decided_rows_exact(ga, ca, gb, cb, codes)
    assert len(decided) >= 0.95 * len(ga)


def test_row_chunks_give_identical_codes(monkeypatch):
    """A tiny element budget splits every bucket into many row chunks;
    the codes must not change, on a mixed batch and on one
    homogeneous 20-gon x 12-gon batch."""
    from ds_jedai_spark.operators import relate_fast

    ga, ca, gb, cb = _mixed_candidates(11, n_src=200, n_tgt=200, domain=344)
    rng = np.random.default_rng(5)
    ra, rb = [], []
    for _ in range(203):
        c = rng.integers(0, 600, 2)
        ra.append(_lattice_convex(rng, 20, 20, 60, 120, c)[0])
        rb.append(_lattice_convex(rng, 12, 12, 20, 80, c + rng.integers(-90, 91, 2))[0])
    ra, rb = np.array(ra), np.array(rb)
    whole = _codes(ga, ca, gb, cb)
    whole_dense = relate_fast.preclassify_dense(ra, rb)
    monkeypatch.setattr(relate_fast, "CHUNK_ELEMS", 13 * 21 * 7)
    np.testing.assert_array_equal(_codes(ga, ca, gb, cb), whole)
    np.testing.assert_array_equal(relate_fast.preclassify_dense(ra, rb), whole_dense)
    assert (whole_dense != UNDECIDED).sum() > 100
