"""JVM convex classifier (operators/relate_convex.py): the SQL decision
must be code-identical to the numpy pre-classifier on every pair, and the
fast+slow union must reproduce the exact path's flags."""

import random

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.operators.relate import RELATIONS
from ds_jedai_spark.operators.relate_convex import (
    with_convex_code,
    with_relations_convex_fast,
)
from ds_jedai_spark.operators.relate_fast import UNDECIDED
from ds_jedai_spark.operators.relate_general import relate_pair

from tests.test_relate_fast import _codes, _convex_poly


def _mixed_pairs(n, seed, contact_frac=0.25):
    """Convex pairs, a fraction forced into contact/degenerate shapes so
    the UNDECIDED branch is genuinely exercised."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        ca = _convex_poly(rng)
        if rng.random() < contact_frac:
            # shared-vertex contact: translate b so one vertex coincides
            cb = _convex_poly(rng)
            dx = ca[0][0][0] - cb[0][1][0]
            dy = ca[0][0][1] - cb[0][1][1]
            cb = [[[p[0] + dx, p[1] + dy] for p in cb[0]]]
        else:
            cb = _convex_poly(rng)
        rows.append((ca, cb))
    return rows


def _to_df(spark, rows):
    flat = []
    for ca, cb in rows:
        ra, rb = ca[0][:-1], cb[0][:-1]
        if len(ra) != 3 or len(rb) != 3:
            continue
        flat.append(
            tuple(v for p in ra for v in p) + tuple(v for p in rb for v in p)
            + (ca, cb)
        )
    schema = (
        "s_x1 double, s_y1 double, s_x2 double, s_y2 double, s_x3 double, "
        "s_y3 double, t_x1 double, t_y1 double, t_x2 double, t_y2 double, "
        "t_x3 double, t_y3 double, s_coords array<array<array<double>>>, "
        "t_coords array<array<array<double>>>"
    )
    return spark.createDataFrame(flat, schema).selectExpr(
        "*", "'POLYGON' AS s_gtype", "'POLYGON' AS t_gtype"
    )


S_PTS = [("s_x1", "s_y1"), ("s_x2", "s_y2"), ("s_x3", "s_y3")]
T_PTS = [("t_x1", "t_y1"), ("t_x2", "t_y2"), ("t_x3", "t_y3")]


def test_sql_codes_match_numpy_preclassifier(spark):
    rows = _mixed_pairs(400, seed=1311)
    df = _to_df(spark, rows)
    got = (
        with_convex_code(df, S_PTS, T_PTS)
        .select("s_coords", "t_coords", "fast_code")
        .collect()
    )
    n = len(got)
    codes = _codes(
        ["POLYGON"] * n, [r["s_coords"] for r in got],
        ["POLYGON"] * n, [r["t_coords"] for r in got],
    )
    n_decided = 0
    for r, code in zip(got, codes):
        assert int(r["fast_code"]) == int(code)
        n_decided += int(r["fast_code"]) != UNDECIDED
    assert n_decided > len(got) // 2  # the fast path must actually decide


def test_union_flags_match_exact_path(spark):
    rows = _mixed_pairs(300, seed=47, contact_frac=0.4)
    # cand must NOT carry gtype/coords — the wrapper synthesizes them for
    # the slow-path subset only.
    cand = _to_df(spark, rows).drop(
        "s_gtype", "t_gtype", "s_coords", "t_coords"
    )
    out = with_relations_convex_fast(cand, S_PTS, T_PTS).collect()
    assert len(out) == cand.count()
    n_contact = 0
    for r in out:
        ca = [[[r["s_x1"], r["s_y1"]], [r["s_x2"], r["s_y2"]],
               [r["s_x3"], r["s_y3"]], [r["s_x1"], r["s_y1"]]]]
        cb = [[[r["t_x1"], r["t_y1"]], [r["t_x2"], r["t_y2"]],
               [r["t_x3"], r["t_y3"]], [r["t_x1"], r["t_y1"]]]]
        exact = relate_pair("POLYGON", ca, "POLYGON", cb)
        got = {rel: r[f"r_{rel}"] for rel in RELATIONS}
        assert got == exact
        n_contact += exact["touches"]
    assert n_contact > 0  # slow-path rows were present and correct


def test_plan_is_jvm_side_for_decided_rows(spark):
    """The decided branch must contain no Python/Arrow eval — pure
    whole-stage-codegen column algebra."""
    rows = _mixed_pairs(50, seed=9)
    df = _to_df(spark, rows)
    coded = with_convex_code(df, S_PTS, T_PTS)
    decided = coded.where(F.col("fast_code") != UNDECIDED)
    plan = decided._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInArrow" not in plan
    assert "mapInPandas" not in plan


def test_sql_star_ring_is_undecided(spark):
    """A pentagram turns the same way at every vertex but winds twice:
    the SQL classifier leaves it UNDECIDED in either orientation, as the
    numpy one does, while the convex pentagon on the same vertices is
    still decided."""
    pent = [(0.0, 16.0), (15.0, 5.0), (9.0, -13.0), (-9.0, -13.0), (-15.0, 5.0)]
    star = [pent[(2 * i) % 5] for i in range(5)]
    tri = [(-1.0, -1.0), (1.0, -1.0), (0.0, 1.0)]

    def code(ring):
        s_pts = [(repr(x), repr(y)) for x, y in ring]
        t_pts = [(repr(x), repr(y)) for x, y in tri]
        df = with_convex_code(spark.range(1), s_pts, t_pts, spread=False)
        got = int(df.first()["fast_code"])
        closed = [[list(p) for p in ring + [ring[0]]]]
        tri_c = [[list(p) for p in tri + [tri[0]]]]
        assert got == int(_codes(["POLYGON"], [closed], ["POLYGON"], [tri_c])[0])
        return got

    assert code(star) == UNDECIDED
    assert code(star[::-1]) == UNDECIDED
    assert code(pent) != UNDECIDED
