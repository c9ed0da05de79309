"""JVM-side exact pre-classifier for fixed-arity convex polygon pairs.

The measured truth about the Python exact path at scale (PLANS.md round-4
soak): geometry math is NOT the bottleneck — transporting 31.4M candidate
rows to Python workers is. Identity round-trips on the sf0.1 triangle
soak cost 327s (mapInPandas AND full-width mapInArrow) against a 19.5s
JVM-only count; the verifier math adds ~35s. So the scale fix is to not
ship decided rows at all: this module evaluates the SAME strict-sign
separating-axis decision as ``relate_fast.preclassify_dense`` as pure
Spark SQL column algebra over the flat per-vertex coordinate columns —
whole-stage-codegen'd, never leaving the JVM — and only the UNDECIDED
rows (boundary contact / degenerate / non-convex / off-lattice, ~3.5% of
a tile-join candidate stream) take the Arrow + exact-Python path.

Exactness mirrors relate_fast's argument, restated for raw coordinates:
eligible coords are integral after scaling by 512 and bounded by 2^24
(probed in SQL). A cross product over raw coords is then a difference of
products of dyadic numbers whose scaled numerators are < 2^25, i.e.
every term is < 2^50 and exactly representable in DOUBLE — the SQL signs
are the true integer signs, bit-identical to the numpy path (cross-
checked pairwise in tests/test_relate_convex.py). Only STRICT sign
configurations classify; any boundary contact falls to UNDECIDED, so the
two paths can never disagree (reference contract: JTS relate,
model/entities/EntityT.scala:42-45).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ds_jedai_spark.operators.relate import RELATIONS
from ds_jedai_spark.operators.relate_fast import (
    A_IN_B,
    B_IN_A,
    CODE_DICTS,
    DISJOINT,
    MAX_SCALED,
    OVERLAP,
    SCALE,
    UNDECIDED,
)

Pts = list[tuple[str, str]]  # [(x_sql, y_sql), ...] ring sans closure


def _cross(o: tuple[str, str], a: tuple[str, str], b: tuple[str, str]) -> str:
    return (
        f"(({a[0]}) - ({o[0]})) * (({b[1]}) - ({o[1]})) - "
        f"(({a[1]}) - ({o[1]})) * (({b[0]}) - ({o[0]}))"
    )


def _eligible(pts: Pts) -> str:
    probes = []
    for x, y in pts:
        for v in (x, y):
            probes.append(
                f"(abs({v}) <= {MAX_SCALED / SCALE} AND "
                f"({v}) * {SCALE} = floor(({v}) * {SCALE}))"
            )
    return "(" + " AND ".join(probes) + ")"


def _side_cols(p: str, pts: Pts, other: Pts) -> dict[str, str]:
    """Aliased intermediate columns for one side: convexity sign s{p} and
    the normalized orientation tensor o{p}_{i}_{j} (sign-positive means
    'other vertex j strictly inside edge i's half-plane')."""
    k = len(pts)
    cols: dict[str, str] = {}
    conv = [
        _cross(pts[i], pts[(i + 1) % k], pts[(i + 2) % k]) for i in range(k)
    ]
    allpos = " AND ".join(f"({c}) > 0" for c in conv)
    allneg = " AND ".join(f"({c}) < 0" for c in conv)
    if k > 3:
        # ...and winding once, as relate_fast._dense_ring_checks: the
        # edge direction passes +x (-x when clockwise) exactly once. A
        # triangle with same-sign turns is always simple, so the
        # triangle plans keep their expression size.
        dy = [f"(({pts[(i + 1) % k][1]}) - ({pts[i][1]}))" for i in range(k)]

        def once(lt: str, ge: str) -> str:
            hits = " + ".join(
                f"CASE WHEN {dy[i]} {lt} 0 AND {dy[(i + 1) % k]} {ge} 0 "
                "THEN 1 ELSE 0 END"
                for i in range(k)
            )
            return f"({hits}) = 1"

        allpos += f" AND {once('<', '>=')}"
        allneg += f" AND {once('>', '<=')}"
    cols[f"s{p}"] = f"CASE WHEN {allpos} THEN 1.0 WHEN {allneg} THEN -1.0 ELSE 0.0 END"
    for i in range(k):
        e0, e1 = pts[i], pts[(i + 1) % k]
        for j in range(len(other)):
            cols[f"o{p}_{i}_{j}"] = f"s{p} * ({_cross(e0, e1, other[j])})"
    return cols


def _decide_sql(ka: int, kb: int, elig: str) -> str:
    def allj(p, i, n, op):
        return "(" + " AND ".join(f"o{p}_{i}_{j} {op} 0" for j in range(n)) + ")"

    def anyj(p, i, n, op):
        return "(" + " OR ".join(f"o{p}_{i}_{j} {op} 0" for j in range(n)) + ")"

    sep = "(" + " OR ".join(
        [allj("a", i, kb, "<") for i in range(ka)]
        + [allj("b", i, ka, "<") for i in range(kb)]
    ) + ")"
    b_in_a = "(" + " AND ".join(allj("a", i, kb, ">") for i in range(ka)) + ")"
    a_in_b = "(" + " AND ".join(allj("b", i, ka, ">") for i in range(kb)) + ")"
    no_weak = "(" + " AND ".join(
        [anyj("a", i, kb, ">") for i in range(ka)]
        + [anyj("b", i, ka, ">") for i in range(kb)]
    ) + ")"
    b_out = "(" + " OR ".join(anyj("a", i, kb, "<") for i in range(ka)) + ")"
    a_out = "(" + " OR ".join(anyj("b", i, ka, "<") for i in range(kb)) + ")"
    return (
        f"CASE WHEN NOT ({elig}) OR sa = 0.0 OR sb = 0.0 THEN {UNDECIDED} "
        f"WHEN {sep} THEN {DISJOINT} "
        f"WHEN {b_in_a} THEN {B_IN_A} "
        f"WHEN {a_in_b} THEN {A_IN_B} "
        f"WHEN {no_weak} AND {b_out} AND {a_out} THEN {OVERLAP} "
        f"ELSE {UNDECIDED} END"
    )


def with_convex_code(
    df: DataFrame, s_pts: Pts, t_pts: Pts, spread: bool = True
) -> DataFrame:
    """Append an int ``fast_code`` column (relate_fast code semantics)
    computed entirely in the JVM. ``s_pts``/``t_pts`` are the ring
    vertices (sans closure) of each side as SQL expressions over ``df``'s
    columns.

    A round-robin exchange separates the (broadcast tile) join from the
    classifier projection. This is deliberate, not incidental: fused into
    the join's whole-stage codegen, the classifier expressions land
    inside ``bhj_doConsume`` where Spark CANNOT split code into helper
    methods (the join's outputs are Java locals), the method blows past
    Janino's 64KB limit, and the entire stage silently falls back to
    INTERPRETED evaluation — measured ~10x slower than the exchange it
    avoids (the sf0.1 soak spent ~150s/32 cores interpreting the fused
    stage; post-exchange the projection reads INPUT_ROW and Spark's
    expression splitter compiles it fine). The same exchange doubles as
    the spread the single-file broadcast-join partitioning needs anyway
    (see with_general_relations). ``spread=False`` fuses everything for
    already-exchanged inputs."""
    if spread:
        from ds_jedai_spark.operators.ranking import shuffle_parts

        df = df.repartition(shuffle_parts(df))
    sa = _side_cols("a", s_pts, t_pts)
    sb = _side_cols("b", t_pts, s_pts)
    df = df.selectExpr("*", f"{sa.pop('sa')} AS sa", f"{sb.pop('sb')} AS sb")
    df = df.selectExpr(
        "*", *[f"{sql} AS {name}" for name, sql in {**sa, **sb}.items()]
    )
    elig = f"({_eligible(s_pts)} AND {_eligible(t_pts)})"
    code = _decide_sql(len(s_pts), len(t_pts), elig)
    out = df.selectExpr("*", f"CAST({code} AS INT) AS fast_code")
    drop = list(sa) + list(sb) + ["sa", "sb"]
    return out.drop(*drop)


def _flags_from_code() -> list[str]:
    exprs = []
    for r in RELATIONS:
        whens = " ".join(
            f"WHEN fast_code = {c} THEN {str(CODE_DICTS[c][r]).lower()}"
            for c in (DISJOINT, A_IN_B, B_IN_A, OVERLAP)
        )
        exprs.append(f"CASE {whens} END AS r_{r}")
    return exprs


def _ring_coords_sql(pts: Pts) -> str:
    closed = list(pts) + [pts[0]]
    return (
        "array(array("
        + ", ".join(f"array({x}, {y})" for x, y in closed)
        + "))"
    )


def with_relations_convex_fast(
    cand: DataFrame,
    s_pts: Pts,
    t_pts: Pts,
    s: str = "s_",
    t: str = "t_",
) -> DataFrame:
    """r_<relation> flags for convex fixed-arity polygon pairs: decided
    rows never leave the JVM — and never even BUILD the nested coords
    arrays (constructing array<array<array<double>>> for 31M rows is
    itself a triple-digit-seconds JVM cost at sf0.1; the whole point is
    that decided rows touch only flat doubles). Only the UNDECIDED
    subset (contact/degenerate, ~3.5% of a tile-join stream) gets
    gtype/coords columns synthesized from the vertex expressions and
    routed through the Arrow-native exact verifier. ``cand`` must NOT
    already carry {s}gtype/{s}coords. The candidate stream is consumed
    twice (decided + undecided filters); upstream of a broadcast tile
    join that recompute is a cheap scan — a caller with an expensive
    upstream should persist it first."""
    # with_convex_code's internal exchange both spreads the single-file
    # broadcast-join partitioning across cores and acts as the
    # CollapseProject barrier (see its docstring). Both branches filter
    # the same exchange, so Catalyst plans it once (ReusedExchange).
    coded = with_convex_code(cand, s_pts, t_pts, spread=True)
    base = [c for c in cand.columns]
    decided = (
        coded.where(F.col("fast_code") != UNDECIDED)
        .selectExpr(*base, *_flags_from_code())
    )
    from ds_jedai_spark.operators.relate_general import with_general_relations

    slow_in = coded.where(F.col("fast_code") == UNDECIDED).selectExpr(
        *base,
        f"'POLYGON' AS {s}gtype",
        f"{_ring_coords_sql(s_pts)} AS {s}coords",
        f"'POLYGON' AS {t}gtype",
        f"{_ring_coords_sql(t_pts)} AS {t}coords",
    )
    undecided = with_general_relations(slow_in, s=s, t=t, spread=False).select(
        *base, *[f"r_{r}" for r in RELATIONS]
    )
    return decided.unionByName(undecided)
