"""End-to-end GIA.nt batch plans + their DuckDB oracle SQL.

Mirrors the contract of the reference flagship ``experiments.GiantExp``
(reference: experiments/GiantExp.scala:104-121 — log the 9 DE-9IM relation
counts + verifications + qualifying pairs) and the single-relation pair
mode ``GIAnt.relate`` (linkers/GIAnt.scala:19-25).

Both the Spark plan and the oracle are generated from the same predicate
text (operators/relate.py) and the same geometry derivation SQL
(io/synthetic.py), so correctness comparisons exercise the *engine*
(tile join + dedup + aggregation), not formula transcription.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark import pins
from ds_jedai_spark.io.synthetic import (
    line_sql,
    load_sql,
    point_sql,
    source_box_sql,
    target_box_sql,
    temporal_source_sql,
    temporal_target_sql,
)
from ds_jedai_spark.operators.relate import RELATIONS, relation_predicates, with_relations
from ds_jedai_spark.operators.spatial_join import tile_join

COUNT_RELATIONS = [r for r in RELATIONS if r != "disjoint"]


# Theta is a deterministic scalar per (session, sf_dir, dataset); computing
# it is a full source scan, so repeat queries reuse the cached value.
def cached_theta(spark: SparkSession, sf_dir: str, tag: str, source: DataFrame):
    from ds_jedai_spark.model.tiles import compute_theta

    return pins.cached(
        spark, f"theta:{tag}", sf_dir, lambda: compute_theta(source)
    )


def _candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    source = load_sql(spark, sf_dir, source_box_sql())
    target = load_sql(spark, sf_dir, target_box_sql())
    theta = cached_theta(spark, sf_dir, "source_box", source)
    return with_relations(tile_join(source, target, theta=theta))


def counts_agg(cand: DataFrame) -> DataFrame:
    """The GiantExp 11-counter aggregation over relation-flagged candidates."""
    aggs = [F.count(F.lit(1)).alias("verifications"),
            F.count(F.when(F.col("r_intersects"), True)).alias("qualifying_pairs")]
    for r in COUNT_RELATIONS:
        aggs.append(F.count(F.when(F.col(f"r_{r}"), True)).alias(f"n_{r}"))
    return cand.agg(*aggs)


def giant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: verifications + qualifying pairs + 9 relation counts."""
    return counts_agg(_candidates(spark, sf_dir))


def relation_pairs(relation: str):
    """Single-relation pair discovery (the GIAnt.relate contract)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        cand = _candidates(spark, sf_dir)
        return cand.where(F.col(f"r_{relation}")).select("s_id", "t_id")

    return q


def _pairs_cte() -> str:
    preds = relation_predicates("s.", "t.")
    cols = ", ".join(
        f"s.{c} AS s_{c}, t.{c} AS t_{c}"
        for c in ("id", "minx", "miny", "maxx", "maxy")
    )
    return (
        f"WITH source AS ({source_box_sql()}), target AS ({target_box_sql()}), "
        f"pairs AS (SELECT {cols} FROM source s JOIN target t ON {preds['intersects']})"
    )


def giant_counts_oracle() -> str:
    preds = relation_predicates("s_", "t_")
    sel = [
        "COUNT(*) AS verifications",
        f"COUNT(*) FILTER (WHERE {preds['intersects']}) AS qualifying_pairs",
    ]
    for r in COUNT_RELATIONS:
        sel.append(f"COUNT(*) FILTER (WHERE {preds[r]}) AS n_{r}")
    return f"{_pairs_cte()} SELECT {', '.join(sel)} FROM pairs"


def relation_pairs_oracle(relation: str) -> str:
    preds = relation_predicates("s_", "t_")
    return f"{_pairs_cte()} SELECT s_id, t_id FROM pairs WHERE {preds[relation]}"


def total_blocks_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell count of the global source extent under theta — the
    reference's computeTotalBlocks scalar (utils/readers/
    GridPartitioner.scala:85-93, mirrored by api._total_blocks), as a
    one-row oracle-checked query. Theta (avg envelope extents) compares
    exactly across engines because all coordinates are multiples of
    1/16 (the io/synthetic exactness contract: the double sum is exact,
    so avg and floor agree bit-for-bit)."""
    from ds_jedai_spark.model.tiles import MIN_THETA

    src = load_sql(spark, sf_dir, source_box_sql())
    agg = src.agg(
        F.greatest(
            F.avg(F.col("maxx") - F.col("minx")), F.lit(MIN_THETA)
        ).alias("tx"),
        F.greatest(
            F.avg(F.col("maxy") - F.col("miny")), F.lit(MIN_THETA)
        ).alias("ty"),
        F.min("minx").alias("a"),
        F.max("maxx").alias("b"),
        F.min("miny").alias("c"),
        F.max("maxy").alias("d"),
    )
    nx = F.floor(F.col("b") / F.col("tx")) - F.floor(F.col("a") / F.col("tx")) + 1
    ny = F.floor(F.col("d") / F.col("ty")) - F.floor(F.col("c") / F.col("ty")) + 1
    return agg.select(
        F.greatest(F.lit(1).cast("long"), (nx * ny).cast("long")).alias(
            "blocks_total"
        )
    )


def total_blocks_stats_oracle() -> str:
    from ds_jedai_spark.model.tiles import MIN_THETA

    return (
        f"WITH source AS ({source_box_sql()}), "
        f"th AS (SELECT greatest(avg(maxx - minx), {MIN_THETA!r}) AS tx, "
        f"greatest(avg(maxy - miny), {MIN_THETA!r}) AS ty, "
        "min(minx) AS a, max(maxx) AS b, min(miny) AS c, max(maxy) AS d "
        "FROM source) "
        "SELECT greatest(1, CAST((floor(b / tx) - floor(a / tx) + 1) * "
        "(floor(d / ty) - floor(c / ty) + 1) AS BIGINT)) AS blocks_total "
        "FROM th"
    )


def spatiotemporal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal interlinking: envelope intersection AND |Δdays| < 2
    (reference: model/entities/SpatioTemporalEntity.scala:18-28)."""
    source = load_sql(spark, sf_dir, temporal_source_sql())
    target = load_sql(spark, sf_dir, temporal_target_sql())
    cand = tile_join(source, target, source_extra=("dt",), target_extra=("dt",))
    return cand.where(F.abs(F.datediff(F.col("s_dt"), F.col("t_dt"))) < 2).select(
        "s_id", "t_id"
    )


def spatiotemporal_pairs_oracle() -> str:
    preds = relation_predicates("s.", "t.")
    return (
        f"WITH source AS ({temporal_source_sql()}), target AS ({temporal_target_sql()}) "
        f"SELECT s.id AS s_id, t.id AS t_id FROM source s JOIN target t "
        f"ON {preds['intersects']} AND abs(date_diff('day', t.dt, s.dt)) < 2"
    )


def point_in_box_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-containment join: customer points covered by part boxes
    (mixed-dimension verification path)."""
    source = load_sql(spark, sf_dir, source_box_sql())
    target = load_sql(spark, sf_dir, point_sql())
    cand = with_relations(tile_join(source, target))
    return cand.where(F.col("r_covers")).select("s_id", "t_id")


def partitioned_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIA.nt counts through the sampled quantile-grid partitioner instead
    of the tile join — partitioning is physical, so the result must equal
    plain giant_counts (the oracle is the same SQL)."""
    from ds_jedai_spark.operators.partitioner import partitioned_join

    source = load_sql(spark, sf_dir, source_box_sql())
    target = load_sql(spark, sf_dir, target_box_sql())
    return counts_agg(with_relations(partitioned_join(source, target)))


def _line_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box×segment candidates: tile join on envelopes, segment coords kept."""
    source = load_sql(spark, sf_dir, source_box_sql())
    lines = load_sql(spark, sf_dir, line_sql())
    theta = cached_theta(spark, sf_dir, "source_box", source)
    return tile_join(source, lines, theta=theta, target_extra=("x1", "y1", "x2", "y2"))


def line_box_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment×box DE-9IM counts — exercises the line dimension (CROSSES
    has real support here, unlike the pure box algebra)."""
    from ds_jedai_spark.operators.relate_lines import seg_box_predicates

    preds = seg_box_predicates(s="t_", t="s_")
    cand = _line_candidates(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("verifications")]
    for r in ("intersects", "crosses", "touches", "within", "coveredby"):
        aggs.append(F.count(F.when(F.expr(preds[r]), True)).alias(f"n_{r}"))
    return cand.agg(*aggs)


def line_box_crosses_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_jedai_spark.operators.relate_lines import seg_box_predicates

    preds = seg_box_predicates(s="t_", t="s_")
    return (
        _line_candidates(spark, sf_dir)
        .where(F.expr(preds["crosses"]))
        .select("s_id", "t_id")
    )


def triangle_point_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-triangle through the GENERAL Python verifier: triangles
    and points are joined on envelopes, coords columns are assembled
    JVM-side, and relate_pair (the exact rational/orientation path) runs
    in mapInPandas. The oracle recomputes covered/interior/boundary with
    closed-form orientation signs in SQL — putting the Python verifier
    itself under the DuckDB gate."""
    from ds_jedai_spark.io.synthetic import triangle_sql
    from ds_jedai_spark.operators.relate_general import with_general_relations

    tris = load_sql(spark, sf_dir, triangle_sql())
    pts = load_sql(spark, sf_dir, point_sql())
    cand = tile_join(
        tris, pts, theta=(1.0, 1.0),
        source_extra=("x1", "y1", "x2", "y2", "x3", "y3"),
    )
    cand = cand.selectExpr(
        "*",
        "'POLYGON' AS s_gtype",
        "array(array(array(s_x1, s_y1), array(s_x2, s_y2), "
        "array(s_x3, s_y3), array(s_x1, s_y1))) AS s_coords",
        "'POINT' AS t_gtype",
        "array(array(array(t_minx, t_miny))) AS t_coords",
    )
    v = with_general_relations(cand)
    return v.agg(
        F.count(F.lit(1)).alias("verifications"),
        F.count(F.when(F.col("r_covers"), True)).alias("n_covered"),
        F.count(F.when(F.col("r_contains"), True)).alias("n_interior"),
        F.count(F.when(F.col("r_touches"), True)).alias("n_boundary"),
    )


def triangle_point_counts_oracle() -> str:
    from ds_jedai_spark.io.synthetic import triangle_sql

    env = (
        "s.minx <= t.maxx AND t.minx <= s.maxx AND "
        "s.miny <= t.maxy AND t.miny <= s.maxy"
    )
    d = {
        i: f"((s.x{j} - s.x{i}) * (t.miny - s.y{i}) - "
           f"(s.y{j} - s.y{i}) * (t.minx - s.x{i}))"
        for i, j in ((1, 2), (2, 3), (3, 1))
    }
    has_pos = f"({d[1]} > 0 OR {d[2]} > 0 OR {d[3]} > 0)"
    has_neg = f"({d[1]} < 0 OR {d[2]} < 0 OR {d[3]} < 0)"
    covered = f"(NOT ({has_pos} AND {has_neg}))"
    interior = (
        f"(({d[1]} > 0 AND {d[2]} > 0 AND {d[3]} > 0) OR "
        f"({d[1]} < 0 AND {d[2]} < 0 AND {d[3]} < 0))"
    )
    return (
        f"WITH tri AS ({triangle_sql()}), pt AS ({point_sql()}) "
        f"SELECT count(*) AS verifications, "
        f"COUNT(*) FILTER (WHERE {covered}) AS n_covered, "
        f"COUNT(*) FILTER (WHERE {interior}) AS n_interior, "
        f"COUNT(*) FILTER (WHERE {covered} AND NOT {interior}) AS n_boundary "
        f"FROM tri s JOIN pt t ON {env}"
    )


def triangle_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-in-triangle through the general verifier's exact
    LINESTRING×POLYGON path (relate_poly). Convexity makes the oracle
    closed-form: a segment is covered iff both endpoints are covered, and
    it lies ON an edge iff both endpoints are collinear with one edge."""
    from ds_jedai_spark.io.synthetic import line_sql, triangle_sql
    from ds_jedai_spark.operators.relate_general import with_general_relations

    tris = load_sql(spark, sf_dir, triangle_sql())
    lines = load_sql(spark, sf_dir, line_sql())
    cand = tile_join(
        tris, lines, theta=(1.0, 1.0),
        source_extra=("x1", "y1", "x2", "y2", "x3", "y3"),
        target_extra=("x1", "y1", "x2", "y2"),
    )
    cand = cand.selectExpr(
        "*",
        "'POLYGON' AS s_gtype",
        "array(array(array(s_x1, s_y1), array(s_x2, s_y2), "
        "array(s_x3, s_y3), array(s_x1, s_y1))) AS s_coords",
        "'LINESTRING' AS t_gtype",
        "array(array(array(t_x1, t_y1), array(t_x2, t_y2))) AS t_coords",
    )
    v = with_general_relations(cand)
    return v.agg(
        F.count(F.lit(1)).alias("verifications"),
        F.count(F.when(F.col("r_covers"), True)).alias("n_covered"),
        F.count(F.when(F.col("r_contains"), True)).alias("n_contained"),
        F.count(
            F.when(F.col("r_covers") & F.col("r_touches"), True)
        ).alias("n_on_edge"),
    )


def triangle_line_counts_oracle() -> str:
    from ds_jedai_spark.io.synthetic import line_sql, triangle_sql

    env = (
        "s.minx <= t.maxx AND t.minx <= s.maxx AND "
        "s.miny <= t.maxy AND t.miny <= s.maxy"
    )

    def orients(px: str, py: str) -> dict[int, str]:
        return {
            i: f"((s.x{j} - s.x{i}) * ({py} - s.y{i}) - "
               f"(s.y{j} - s.y{i}) * ({px} - s.x{i}))"
            for i, j in ((1, 2), (2, 3), (3, 1))
        }

    def covered(px: str, py: str) -> str:
        d = orients(px, py)
        has_pos = f"({d[1]} > 0 OR {d[2]} > 0 OR {d[3]} > 0)"
        has_neg = f"({d[1]} < 0 OR {d[2]} < 0 OR {d[3]} < 0)"
        return f"(NOT ({has_pos} AND {has_neg}))"

    dp, dq = orients("t.x1", "t.y1"), orients("t.x2", "t.y2")
    both = f"({covered('t.x1', 't.y1')} AND {covered('t.x2', 't.y2')})"
    on_edge = " OR ".join(f"({dp[i]} = 0 AND {dq[i]} = 0)" for i in (1, 2, 3))
    return (
        f"WITH tri AS ({triangle_sql()}), seg AS ({line_sql()}) "
        f"SELECT count(*) AS verifications, "
        f"COUNT(*) FILTER (WHERE {both}) AS n_covered, "
        f"COUNT(*) FILTER (WHERE {both} AND NOT ({on_edge})) AS n_contained, "
        f"COUNT(*) FILTER (WHERE {both} AND ({on_edge})) AS n_on_edge "
        f"FROM tri s JOIN seg t ON {env}"
    )


def triangle_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle×triangle through the exact POLYGON×POLYGON machinery:
    the JVM convex classifier (relate_convex, whole-stage codegen)
    decides clean pairs without ever leaving the JVM; contact/degenerate
    rows take the Arrow-native exact path
    (relate_poly.relate_polygon_polygon). The oracle is the separating-
    axis theorem in closed form — valid because triangles are convex:
    closures intersect iff no edge strictly separates; interiors
    intersect iff no edge separates even non-strictly; coverage is
    all-vertices-covered."""
    from ds_jedai_spark.io.synthetic import triangle_sql
    from ds_jedai_spark.operators.relate_convex import with_relations_convex_fast

    a = load_sql(spark, sf_dir, triangle_sql())
    b = load_sql(spark, sf_dir, triangle_sql("orders", "o_orderkey"))
    vex = ("x1", "y1", "x2", "y2", "x3", "y3")
    cand = tile_join(a, b, theta=(2.0, 2.0), source_extra=vex, target_extra=vex)
    v = with_relations_convex_fast(
        cand,
        [("s_x1", "s_y1"), ("s_x2", "s_y2"), ("s_x3", "s_y3")],
        [("t_x1", "t_y1"), ("t_x2", "t_y2"), ("t_x3", "t_y3")],
    )
    aggs = [F.count(F.lit(1)).alias("verifications")]
    for r in ("intersects", "touches", "overlaps", "covers", "contains", "equals"):
        aggs.append(F.count(F.when(F.col(f"r_{r}"), True)).alias(f"n_{r}"))
    return v.agg(*aggs)


def triangle_triangle_counts_oracle() -> str:
    from ds_jedai_spark.io.synthetic import triangle_sql

    env = (
        "a.minx <= b.maxx AND b.minx <= a.maxx AND "
        "a.miny <= b.maxy AND b.miny <= a.maxy"
    )

    def sgn(p: str) -> str:
        area2 = (
            f"(({p}.x2 - {p}.x1) * ({p}.y3 - {p}.y1) - "
            f"({p}.y2 - {p}.y1) * ({p}.x3 - {p}.x1))"
        )
        return f"(CASE WHEN {area2} > 0 THEN 1 ELSE -1 END)"

    def edge_seps(p: str, q: str, strict: bool) -> list[str]:
        """One clause per edge of p: all q vertices on the outer side."""
        op = "<" if strict else "<="
        out = []
        for i, j in ((1, 2), (2, 3), (3, 1)):
            terms = []
            for k in (1, 2, 3):
                o = (
                    f"(({p}.x{j} - {p}.x{i}) * ({q}.y{k} - {p}.y{i}) - "
                    f"({p}.y{j} - {p}.y{i}) * ({q}.x{k} - {p}.x{i}))"
                )
                terms.append(f"{sgn(p)} * {o} {op} 0")
            out.append("(" + " AND ".join(terms) + ")")
        return out

    def separated(strict: bool) -> str:
        return "(" + " OR ".join(
            edge_seps("a", "b", strict) + edge_seps("b", "a", strict)
        ) + ")"

    def covers(p: str, q: str) -> str:
        terms = []
        for k in (1, 2, 3):
            for i, j in ((1, 2), (2, 3), (3, 1)):
                o = (
                    f"(({p}.x{j} - {p}.x{i}) * ({q}.y{k} - {p}.y{i}) - "
                    f"({p}.y{j} - {p}.y{i}) * ({q}.x{k} - {p}.x{i}))"
                )
                terms.append(f"{sgn(p)} * {o} >= 0")
        return "(" + " AND ".join(terms) + ")"

    inter = f"(NOT {separated(True)})"
    ii = f"(NOT {separated(False)})"
    cov, covby = covers("a", "b"), covers("b", "a")
    sel = [
        "count(*) AS verifications",
        f"COUNT(*) FILTER (WHERE {inter}) AS n_intersects",
        f"COUNT(*) FILTER (WHERE {inter} AND NOT {ii}) AS n_touches",
        f"COUNT(*) FILTER (WHERE {ii} AND NOT {cov} AND NOT {covby}) AS n_overlaps",
        f"COUNT(*) FILTER (WHERE {inter} AND {cov}) AS n_covers",
        f"COUNT(*) FILTER (WHERE {inter} AND {cov} AND {ii}) AS n_contains",
        f"COUNT(*) FILTER (WHERE {inter} AND {cov} AND {covby}) AS n_equals",
    ]
    return (
        f"WITH ta AS ({triangle_sql()}), "
        f"tb AS ({triangle_sql('orders', 'o_orderkey')}) "
        f"SELECT {', '.join(sel)} FROM ta a JOIN tb b ON {env}"
    )


def _multipoint_coords(p: str) -> str:
    return (
        f"array(array(array({p}p1x, {p}p1y)), array(array({p}p2x, {p}p2y)), "
        f"array(array({p}p3x, {p}p3y)))"
    )


def multipoint_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPOINT×LINESTRING through the exact per-point location
    aggregation path (relate_general._relate_points_line) — the combo the
    reference approximates with envelopes (model/entities/EntityT.scala:35);
    here it is exact and oracled: the SQL recomputes each point's
    interior/boundary/off classification with closed-form collinearity."""
    from ds_jedai_spark.io.synthetic import multipoint_sql
    from ds_jedai_spark.operators.relate_general import with_general_relations

    mps = load_sql(spark, sf_dir, multipoint_sql())
    lines = load_sql(spark, sf_dir, line_sql())
    cand = tile_join(
        mps, lines, theta=(1.0, 1.0),
        source_extra=("p1x", "p1y", "p2x", "p2y", "p3x", "p3y"),
        target_extra=("x1", "y1", "x2", "y2"),
    )
    cand = cand.selectExpr(
        "*",
        "'MULTIPOINT' AS s_gtype",
        f"{_multipoint_coords('s_')} AS s_coords",
        "'LINESTRING' AS t_gtype",
        "array(array(array(t_x1, t_y1), array(t_x2, t_y2))) AS t_coords",
    )
    v = with_general_relations(cand)
    return v.agg(
        F.count(F.lit(1)).alias("verifications"),
        F.count(F.when(F.col("r_intersects"), True)).alias("n_intersects"),
        F.count(F.when(F.col("r_within"), True)).alias("n_within"),
        F.count(F.when(F.col("r_coveredby"), True)).alias("n_coveredby"),
        F.count(F.when(F.col("r_crosses"), True)).alias("n_crosses"),
        F.count(F.when(F.col("r_touches"), True)).alias("n_touches"),
    )


def multipoint_line_counts_oracle() -> str:
    from ds_jedai_spark.io.synthetic import multipoint_sql

    env = (
        "s.minx <= t.maxx AND t.minx <= s.maxx AND "
        "s.miny <= t.maxy AND t.miny <= s.maxy"
    )
    on, bnd = [], []
    for k in (1, 2, 3):
        px, py = f"s.p{k}x", f"s.p{k}y"
        cross = (
            f"((t.x2 - t.x1) * ({py} - t.y1) - (t.y2 - t.y1) * ({px} - t.x1))"
        )
        on.append(
            f"({cross} = 0 AND least(t.x1, t.x2) <= {px} AND "
            f"{px} <= greatest(t.x1, t.x2) AND least(t.y1, t.y2) <= {py} AND "
            f"{py} <= greatest(t.y1, t.y2))"
        )
        bnd.append(
            f"(({px} = t.x1 AND {py} = t.y1) OR ({px} = t.x2 AND {py} = t.y2))"
        )
    interior = [f"({on[k]} AND NOT {bnd[k]})" for k in range(3)]
    any_on = "(" + " OR ".join(on) + ")"
    all_on = "(" + " AND ".join(on) + ")"
    any_int = "(" + " OR ".join(interior) + ")"
    return (
        f"WITH mp AS ({multipoint_sql()}), seg AS ({line_sql()}) "
        f"SELECT count(*) AS verifications, "
        f"COUNT(*) FILTER (WHERE {any_on}) AS n_intersects, "
        f"COUNT(*) FILTER (WHERE {all_on} AND {any_int}) AS n_within, "
        f"COUNT(*) FILTER (WHERE {all_on}) AS n_coveredby, "
        f"COUNT(*) FILTER (WHERE {any_int} AND NOT {all_on}) AS n_crosses, "
        f"COUNT(*) FILTER (WHERE {any_on} AND NOT {any_int}) AS n_touches "
        f"FROM mp s JOIN seg t ON {env}"
    )


def multipoint_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPOINT×POLYGON through the exact per-point location aggregation
    (relate_general._relate_points_polygon); oracle classifies each point
    against the triangle with orientation signs (covered / strict
    interior), mirroring triangle_point_counts."""
    from ds_jedai_spark.io.synthetic import multipoint_sql, triangle_sql
    from ds_jedai_spark.operators.relate_general import with_general_relations

    mps = load_sql(spark, sf_dir, multipoint_sql())
    tris = load_sql(spark, sf_dir, triangle_sql())
    cand = tile_join(
        mps, tris, theta=(2.0, 2.0),
        source_extra=("p1x", "p1y", "p2x", "p2y", "p3x", "p3y"),
        target_extra=("x1", "y1", "x2", "y2", "x3", "y3"),
    )
    cand = cand.selectExpr(
        "*",
        "'MULTIPOINT' AS s_gtype",
        f"{_multipoint_coords('s_')} AS s_coords",
        "'POLYGON' AS t_gtype",
        "array(array(array(t_x1, t_y1), array(t_x2, t_y2), "
        "array(t_x3, t_y3), array(t_x1, t_y1))) AS t_coords",
    )
    v = with_general_relations(cand)
    return v.agg(
        F.count(F.lit(1)).alias("verifications"),
        F.count(F.when(F.col("r_intersects"), True)).alias("n_intersects"),
        F.count(F.when(F.col("r_within"), True)).alias("n_within"),
        F.count(F.when(F.col("r_coveredby"), True)).alias("n_coveredby"),
        F.count(F.when(F.col("r_crosses"), True)).alias("n_crosses"),
        F.count(F.when(F.col("r_touches"), True)).alias("n_touches"),
    )


def multipoint_triangle_counts_oracle() -> str:
    from ds_jedai_spark.io.synthetic import multipoint_sql, triangle_sql

    env = (
        "s.minx <= t.maxx AND t.minx <= s.maxx AND "
        "s.miny <= t.maxy AND t.miny <= s.maxy"
    )
    cov, inn = [], []
    for k in (1, 2, 3):
        px, py = f"s.p{k}x", f"s.p{k}y"
        d = {
            i: f"((t.x{j} - t.x{i}) * ({py} - t.y{i}) - "
               f"(t.y{j} - t.y{i}) * ({px} - t.x{i}))"
            for i, j in ((1, 2), (2, 3), (3, 1))
        }
        has_pos = f"({d[1]} > 0 OR {d[2]} > 0 OR {d[3]} > 0)"
        has_neg = f"({d[1]} < 0 OR {d[2]} < 0 OR {d[3]} < 0)"
        cov.append(f"(NOT ({has_pos} AND {has_neg}))")
        inn.append(
            f"(({d[1]} > 0 AND {d[2]} > 0 AND {d[3]} > 0) OR "
            f"({d[1]} < 0 AND {d[2]} < 0 AND {d[3]} < 0))"
        )
    any_cov = "(" + " OR ".join(cov) + ")"
    all_cov = "(" + " AND ".join(cov) + ")"
    any_in = "(" + " OR ".join(inn) + ")"
    return (
        f"WITH mp AS ({multipoint_sql()}), tri AS ({triangle_sql()}) "
        f"SELECT count(*) AS verifications, "
        f"COUNT(*) FILTER (WHERE {any_cov}) AS n_intersects, "
        f"COUNT(*) FILTER (WHERE {all_cov} AND {any_in}) AS n_within, "
        f"COUNT(*) FILTER (WHERE {all_cov}) AS n_coveredby, "
        f"COUNT(*) FILTER (WHERE {any_in} AND NOT {all_cov}) AS n_crosses, "
        f"COUNT(*) FILTER (WHERE {any_cov} AND NOT {any_in}) AS n_touches "
        f"FROM mp s JOIN tri t ON {env}"
    )


DISTANCE_RADIUS = 2.0


def distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-point distance join (within DISTANCE_RADIUS): the expanded-MBR
    tile join (operators/spatial_join.distance_join) against a closed-form
    distance-predicate oracle — proves the expansion yields a superset and
    the exact filter trims it precisely."""
    from ds_jedai_spark.operators.spatial_join import distance_join

    src = load_sql(spark, sf_dir, point_sql())
    tgt = load_sql(spark, sf_dir, point_sql("supplier", "s_suppkey"))
    return distance_join(src, tgt, radius=DISTANCE_RADIUS, theta=(1.0, 1.0))


GEO_RADIUS_M = 200_000.0  # 200 km on the MEAN_R sphere


def _lonlat_cte(sql: str) -> str:
    """Remap a lattice point derivation into valid lon/lat range
    (lon = x - 48, lat = y/2 - 24 — exact halves of 1/16 multiples)."""
    return (f"SELECT id, minx - 48.0 AS lon, miny / 2.0 - 24.0 AS lat "
            f"FROM ({sql})")


def geodesic_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance join (within GEO_RADIUS_M meters) over the
    lon/lat-remapped point datasets: the latitude-aware degree-expansion
    tile join (operators/spatial_join.geodesic_distance_join) against a
    brute-force haversine oracle — proves the degree expansion yields a
    superset and the exact haversine trims it precisely. Distances
    round to integer meters for the cross-engine hash (libm dust
    ~1e-10 m at this radius)."""
    from ds_jedai_spark.operators.spatial_join import geodesic_distance_join

    def lonlat(sql: str) -> DataFrame:
        return load_sql(spark, sf_dir, sql).selectExpr(
            "id",
            "minx - 48.0 AS minx", "miny / 2.0 - 24.0 AS miny",
            "maxx - 48.0 AS maxx", "maxy / 2.0 - 24.0 AS maxy",
        )

    src = lonlat(point_sql())
    tgt = lonlat(point_sql("supplier", "s_suppkey"))
    out = geodesic_distance_join(src, tgt, radius_m=GEO_RADIUS_M)
    return out.select(
        "s_id", "t_id",
        F.round(F.col("dist_m")).cast("bigint").alias("dist_m_int"),
    )


def geodesic_distance_pairs_oracle() -> str:
    from ds_jedai_spark.operators.measures import haversine_sql

    hav = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return (
        f"WITH a AS ({_lonlat_cte(point_sql())}), "
        f"b AS ({_lonlat_cte(point_sql('supplier', 's_suppkey'))}) "
        f"SELECT a.id AS s_id, b.id AS t_id, "
        f"CAST(round({hav}) AS BIGINT) AS dist_m_int "
        f"FROM a JOIN b ON {hav} <= {GEO_RADIUS_M!r}"
    )


def _seam_cte(sql: str) -> str:
    """Remap a lattice point derivation into a 6°-wide lon band
    STRADDLING the antimeridian — lon in [177, 180) ∪ [-180, -177),
    lat = y/2 - 24. All arithmetic stays on dyadic lattice values
    (minx = k/16, the mod-6 residue and the ±360 shift are exact), so
    Spark and DuckDB derive bit-identical lon/lat and the haversine
    differs only by libm dust (absorbed by integer-meter rounding)."""
    return (
        "SELECT id, CASE WHEN l0 >= 180.0 THEN l0 - 360.0 ELSE l0 END "
        "AS lon, lat FROM (SELECT id, "
        "minx - floor(minx / 6.0) * 6.0 + 177.0 AS l0, "
        f"miny / 2.0 - 24.0 AS lat FROM ({sql}))"
    )


def geodesic_wrap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTIMERIDIAN leg of the geodesic distance join: both datasets are
    remapped into a narrow lon band straddling ±180 (_seam_cte), so a
    material share of the within-200km pairs cross the seam (measured
    at sf0.01: 597 of 4132 result pairs have |lon_s - lon_t| > 300°,
    i.e. tile-match ONLY via the wrapped envelope piece). The oracle is
    the brute-force haversine join on the same remap — haversine itself
    is seam-invariant (sin²(Δlon/2)), so DuckDB needs no wrap logic;
    only the tile pruning does, which is exactly what this row gates."""
    from ds_jedai_spark.operators.spatial_join import geodesic_distance_join

    def seam(sql: str) -> DataFrame:
        return load_sql(spark, sf_dir, _seam_cte(sql)).selectExpr(
            "id", "lon AS minx", "lat AS miny",
            "lon AS maxx", "lat AS maxy",
        )

    src = seam(point_sql())
    tgt = seam(point_sql("supplier", "s_suppkey"))
    out = geodesic_distance_join(src, tgt, radius_m=GEO_RADIUS_M)
    return out.select(
        "s_id", "t_id",
        F.round(F.col("dist_m")).cast("bigint").alias("dist_m_int"),
    )


KNN_GEO_K = 3


def knn_geodesic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT geodesic kNN (operators/spatial_join.knn_join_exact_geodesic)
    from the supplier points to the customer points on the lon/lat
    remap: iterative great-circle radius expansion vs the brute-force
    haversine window oracle. Ranking and the cross-engine hash use
    integer-millimeter distances (ties break on t_id identically in
    both engines; raw float order could flip mathematically-tied
    neighbors on last-ulp libm differences)."""
    from ds_jedai_spark.operators.spatial_join import (
        knn_join_exact_geodesic,
    )

    def lonlat(sql: str) -> DataFrame:
        return load_sql(spark, sf_dir, _lonlat_cte(sql)).selectExpr(
            "id", "lon AS minx", "lat AS miny",
            "lon AS maxx", "lat AS maxy",
        )

    src = lonlat(point_sql("supplier", "s_suppkey"))
    tgt = lonlat(point_sql())
    out = knn_join_exact_geodesic(src, tgt, k=KNN_GEO_K)
    return out.select("s_id", "t_id", "dist_mm")


def knn_geodesic_pairs_oracle() -> str:
    from ds_jedai_spark.operators.measures import haversine_sql

    hav = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return (
        f"WITH a AS ({_lonlat_cte(point_sql('supplier', 's_suppkey'))}), "
        f"b AS ({_lonlat_cte(point_sql())}), "
        f"d AS (SELECT a.id AS s_id, b.id AS t_id, "
        f"CAST(round(({hav}) * 1000) AS BIGINT) AS dist_mm "
        f"FROM a CROSS JOIN b), "
        f"r AS (SELECT s_id, t_id, dist_mm, row_number() OVER ("
        f"PARTITION BY s_id ORDER BY dist_mm, t_id) AS rn FROM d) "
        f"SELECT s_id, t_id, dist_mm FROM r WHERE rn <= {KNN_GEO_K}"
    )


def geodesic_wrap_pairs_oracle() -> str:
    from ds_jedai_spark.operators.measures import haversine_sql

    hav = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return (
        f"WITH a AS ({_seam_cte(point_sql())}), "
        f"b AS ({_seam_cte(point_sql('supplier', 's_suppkey'))}) "
        f"SELECT a.id AS s_id, b.id AS t_id, "
        f"CAST(round({hav}) AS BIGINT) AS dist_m_int "
        f"FROM a JOIN b ON {hav} <= {GEO_RADIUS_M!r}"
    )


def distance_pairs_oracle() -> str:
    r2 = DISTANCE_RADIUS * DISTANCE_RADIUS
    d2 = (
        "(a.minx - b.minx) * (a.minx - b.minx) + "
        "(a.miny - b.miny) * (a.miny - b.miny)"
    )
    return (
        f"WITH a AS ({point_sql()}), "
        f"b AS ({point_sql('supplier', 's_suppkey')}) "
        f"SELECT a.id AS s_id, b.id AS t_id, {d2} AS dist2 "
        f"FROM a JOIN b ON {d2} <= {r2!r}"
    )


KNN_K = 3
KNN_RADIUS = 3.0


def knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded kNN self-join: the KNN_K nearest other points within
    KNN_RADIUS per point (deterministic tie-break on t_id; ~4.6 avg
    candidates per point at this density, so the k-cap genuinely binds).
    The radius bound is what keeps the operator scale-safe — candidates
    come from the expanded-MBR tile join, ranking is a per-source window
    (partitioned, no global sort); an unbounded kNN would need iterative
    radius expansion on the miss set (same plan shape, more rounds)."""
    from pyspark.sql import Window

    from ds_jedai_spark.operators.spatial_join import distance_join

    pts = load_sql(spark, sf_dir, point_sql())
    pairs = distance_join(pts, pts, radius=KNN_RADIUS, theta=(1.0, 1.0)).where(
        F.col("s_id") != F.col("t_id")
    )
    w = Window.partitionBy("s_id").orderBy("dist2", "t_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= KNN_K)
        .select("s_id", "t_id", "dist2")
    )


def knn_pairs_oracle() -> str:
    r2 = KNN_RADIUS * KNN_RADIUS
    d2 = (
        "(a.minx - b.minx) * (a.minx - b.minx) + "
        "(a.miny - b.miny) * (a.miny - b.miny)"
    )
    return (
        f"WITH p AS ({point_sql()}), "
        f"pr AS (SELECT a.id AS s_id, b.id AS t_id, {d2} AS dist2 "
        f"FROM p a JOIN p b ON {d2} <= {r2!r} AND a.id <> b.id) "
        f"SELECT s_id, t_id, dist2 FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY s_id ORDER BY dist2, t_id) AS rn FROM pr) "
        f"WHERE rn <= {KNN_K}"
    )


def knn_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT kNN self-join (iterative radius expansion,
    operators/spatial_join.knn_join_exact) — the oracle is plain
    all-pairs kNN, so the radius-expansion machinery must reproduce the
    brute-force truth precisely."""
    from ds_jedai_spark.operators.spatial_join import knn_join_exact

    pts = load_sql(spark, sf_dir, point_sql())
    return knn_join_exact(pts, pts, k=KNN_K, theta=(1.0, 1.0), self_join=True)


def knn_exact_pairs_oracle() -> str:
    d2 = (
        "(a.minx - b.minx) * (a.minx - b.minx) + "
        "(a.miny - b.miny) * (a.miny - b.miny)"
    )
    return (
        f"WITH p AS ({point_sql()}), "
        f"pr AS (SELECT a.id AS s_id, b.id AS t_id, {d2} AS dist2 "
        f"FROM p a JOIN p b ON a.id <> b.id) "
        f"SELECT s_id, t_id, dist2 FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY s_id ORDER BY dist2, t_id) AS rn FROM pr) "
        f"WHERE rn <= {KNN_K}"
    )


def dirty_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty (self) interlinking of the source dataset: each unordered
    intersecting pair once, via id ordering (reference
    linkers/DirtyGIAnt.scala:1-80)."""
    source = load_sql(spark, sf_dir, source_box_sql())
    theta = cached_theta(spark, sf_dir, "source_box", source)
    cand = tile_join(source, source, theta=theta)
    return cand.where(F.col("s_id") < F.col("t_id")).select("s_id", "t_id")


def dirty_self_pairs_oracle() -> str:
    env = (
        "s.minx <= t.maxx AND t.minx <= s.maxx AND "
        "s.miny <= t.maxy AND t.miny <= s.maxy"
    )
    return (
        f"WITH source AS ({source_box_sql()}) "
        f"SELECT s.id AS s_id, t.id AS t_id FROM source s JOIN source t "
        f"ON {env} AND s.id < t.id"
    )


def envelope_rank_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of envelope-intersection ranks over candidate pairs
    (EnvelopeOp.scala:14-30 RANK0-3; all candidates overlap, so rank>=1)."""
    from ds_jedai_spark.operators.envelopes import envelope_rank_expr

    cand = _candidates(spark, sf_dir)
    return (
        cand.withColumn("rank", F.expr(envelope_rank_expr()))
        .groupBy("rank")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def envelope_rank_counts_oracle() -> str:
    from ds_jedai_spark.operators.envelopes import envelope_rank_expr

    return (
        f"{_pairs_cte()} SELECT {envelope_rank_expr()} AS rank, count(*) AS n "
        f"FROM pairs GROUP BY 1"
    )


def pair_ref_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference point of every candidate pair in theta units + epsilon
    (GeometryApproximationT.scala:35-44) — the dedup primitive exposed."""
    from ds_jedai_spark.operators.envelopes import reference_point_exprs

    e = reference_point_exprs()
    cand = _candidates(spark, sf_dir)
    return cand.select(
        "s_id",
        "t_id",
        F.expr(e["ref_x"]).alias("ref_x"),
        F.expr(e["ref_y"]).alias("ref_y"),
    )


def pair_ref_points_oracle() -> str:
    from ds_jedai_spark.operators.envelopes import reference_point_exprs

    e = reference_point_exprs()
    return (
        f"{_pairs_cte()} SELECT s_id, t_id, {e['ref_x']} AS ref_x, "
        f"{e['ref_y']} AS ref_y FROM pairs"
    )


def finegrained_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line×box counts through the FineGrainedEnvelopes pre-filter: each
    segment is refined into 4 closed-form slice envelopes and a candidate
    survives only if the box overlaps one of them. Verification count drops
    (pruning power) while every true-relation count is provably unchanged —
    slice envelopes cover the segment, so intersecting pairs always pass
    (reference: model/approximations/FineGrainedEnvelopes.scala:22-55)."""
    from ds_jedai_spark.operators.decompose import seg_fine_filter_sql
    from ds_jedai_spark.operators.relate_lines import seg_box_predicates

    preds = seg_box_predicates(s="t_", t="s_")
    cand = _line_candidates(spark, sf_dir).where(
        F.expr(seg_fine_filter_sql("s_", "t_", 4))
    )
    aggs = [F.count(F.lit(1)).alias("verifications")]
    for r in ("intersects", "crosses", "touches", "within", "coveredby"):
        aggs.append(F.count(F.when(F.expr(preds[r]), True)).alias(f"n_{r}"))
    return cand.agg(*aggs)


def finegrained_line_counts_oracle() -> str:
    from ds_jedai_spark.operators.decompose import seg_fine_filter_sql
    from ds_jedai_spark.operators.relate_lines import seg_box_predicates

    preds = seg_box_predicates(s="t_", t="s_")
    sel = ["COUNT(*) AS verifications"]
    for r in ("intersects", "crosses", "touches", "within", "coveredby"):
        sel.append(f"COUNT(*) FILTER (WHERE {preds[r]}) AS n_{r}")
    return (
        f"{_line_pairs_cte()} SELECT {', '.join(sel)} FROM pairs "
        f"WHERE {seg_fine_filter_sql('s_', 't_', 4)}"
    )


def _line_pairs_cte() -> str:
    env = (
        "s.minx <= t.maxx AND t.minx <= s.maxx AND "
        "s.miny <= t.maxy AND t.miny <= s.maxy"
    )
    scols = ", ".join(
        f"s.{c} AS s_{c}" for c in ("id", "minx", "miny", "maxx", "maxy")
    )
    tcols = ", ".join(
        f"t.{c} AS t_{c}"
        for c in ("id", "minx", "miny", "maxx", "maxy", "x1", "y1", "x2", "y2")
    )
    return (
        f"WITH source AS ({source_box_sql()}), lines AS ({line_sql()}), "
        f"pairs AS (SELECT {scols}, {tcols} FROM source s JOIN lines t ON {env})"
    )


def line_box_counts_oracle() -> str:
    from ds_jedai_spark.operators.relate_lines import seg_box_predicates

    preds = seg_box_predicates(s="t_", t="s_")
    sel = ["COUNT(*) AS verifications"]
    for r in ("intersects", "crosses", "touches", "within", "coveredby"):
        sel.append(f"COUNT(*) FILTER (WHERE {preds[r]}) AS n_{r}")
    return f"{_line_pairs_cte()} SELECT {', '.join(sel)} FROM pairs"


def line_box_crosses_pairs_oracle() -> str:
    from ds_jedai_spark.operators.relate_lines import seg_box_predicates

    preds = seg_box_predicates(s="t_", t="s_")
    return f"{_line_pairs_cte()} SELECT s_id, t_id FROM pairs WHERE {preds['crosses']}"


def point_in_box_pairs_oracle() -> str:
    preds = relation_predicates("s.", "t.")
    return (
        f"WITH source AS ({source_box_sql()}), target AS ({point_sql()}) "
        f"SELECT s.id AS s_id, t.id AS t_id FROM source s JOIN target t "
        f"ON {preds['covers']}"
    )


def disjoint_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``relation: DISJOINT`` mode as a complement count.

    A tile join can only enumerate envelope-OVERLAPPING pairs, so at scale
    DISJOINT (utils/configuration/Constants.scala:14-37, model/IM.scala:13)
    must never be materialized pair-by-pair: |S|x|T| disjoint pairs is
    ~|S|x|T| rows at 100 TB. The scalable plan is three cheap aggregates —
    |S|, |T|, and the deduplicated intersecting-pair count from the tile
    join — combined as n_disjoint = |S|*|T| - n_intersecting. Integer
    arithmetic end-to-end, so the oracle comparison is exact.
    """
    source = load_sql(spark, sf_dir, source_box_sql())
    target = load_sql(spark, sf_dir, target_box_sql())
    theta = cached_theta(spark, sf_dir, "source_box", source)
    inter = tile_join(source, target, theta=theta).agg(
        F.count(F.lit(1)).alias("n_intersecting")
    )
    ns = source.agg(F.count(F.lit(1)).alias("n_source"))
    nt = target.agg(F.count(F.lit(1)).alias("n_target"))
    return (
        ns.crossJoin(nt)
        .crossJoin(inter)
        .select(
            "n_source",
            "n_target",
            "n_intersecting",
            (F.col("n_source") * F.col("n_target") - F.col("n_intersecting")).alias(
                "n_disjoint"
            ),
        )
    )


def disjoint_counts_oracle() -> str:
    preds = relation_predicates("s.", "t.")
    return (
        f"WITH source AS ({source_box_sql()}), target AS ({target_box_sql()}), "
        f"ns AS (SELECT COUNT(*) AS n_source FROM source), "
        f"nt AS (SELECT COUNT(*) AS n_target FROM target), "
        f"ni AS (SELECT COUNT(*) AS n_intersecting FROM source s "
        f"JOIN target t ON {preds['intersects']}) "
        f"SELECT n_source, n_target, n_intersecting, "
        f"n_source * n_target - n_intersecting AS n_disjoint FROM ns, nt, ni"
    )


def decompose_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive polygon decomposition under the oracle gate via its
    conservation law: the pieces of every triangle must tile it exactly,
    so the summed piece area equals the summed triangle area (scaled
    x512 to an integer — lattice triangle areas are multiples of 1/512,
    and rounding absorbs the float dust of rational cut points).
    Reference: RecursiveDecomposer.scala:123-246; the oracle only needs
    the closed-form shoelace area of the undecomposed triangles."""
    import pandas as pd

    from ds_jedai_spark.io.synthetic import triangle_sql
    from ds_jedai_spark.operators.decompose import decompose_polygon

    tris = load_sql(spark, sf_dir, triangle_sql())
    theta = (0.5, 0.5)

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            # Round per input triangle, not once globally: each lattice
            # triangle's x512 area is an exact integer, and the float
            # dust of its few rational cut points stays far below 1/2,
            # so the per-row round is exact and the integer sum cannot
            # drift no matter how many rows the scale factor adds.
            area512 = 0
            for x1, y1, x2, y2, x3, y3 in zip(
                pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"], pdf["x3"], pdf["y3"]
            ):
                ring = [(x1, y1), (x2, y2), (x3, y3), (x1, y1)]
                area = 0.0
                for piece in decompose_polygon([ring], theta):
                    for r in piece:
                        s = 0.0
                        for (ax, ay), (bx, by) in zip(r, r[1:]):
                            s += ax * by - bx * ay
                        area += abs(s) / 2.0
                area512 += round(area * 512.0)
            yield pd.DataFrame({"n": [n], "area512": [area512]})

    part = tris.select("x1", "y1", "x2", "y2", "x3", "y3").mapInPandas(
        run, "n long, area512 long"
    )
    return part.agg(
        F.sum("n").alias("n_polygons"),
        F.sum("area512").cast("bigint").alias("area512"),
    )


def decompose_polygon_stats_oracle() -> str:
    from ds_jedai_spark.io.synthetic import triangle_sql

    area2 = "abs((x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1))"
    return (
        f"WITH tri AS ({triangle_sql()}) "
        f"SELECT CAST(count(*) AS BIGINT) AS n_polygons, "
        f"CAST(round(sum({area2}) / 2 * 512) AS BIGINT) AS area512 FROM tri"
    )


def decompose_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid (blade) line decomposition under the oracle gate via its
    conservation laws: blade cuts split each segment into collinear
    pieces, so the per-axis displacement sums |dx|, |dy| are preserved
    exactly (scaled x512 to integers — cut points are rational, the
    round absorbs float dust). Reference: GridDecomposer blade
    splitting; the oracle needs only the undecomposed segments."""
    import pandas as pd

    from ds_jedai_spark.io.synthetic import line_sql
    from ds_jedai_spark.operators.decompose import decompose_line

    lines = load_sql(spark, sf_dir, line_sql())
    theta = (0.5, 0.5)

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            # Per-segment rounding for the same reason as the polygon
            # variant: each segment's x512 displacement is an exact
            # integer, so rounding per row keeps the integer sum exact
            # at any scale factor.
            sdx512 = sdy512 = 0
            for x1, y1, x2, y2 in zip(
                pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]
            ):
                sdx = sdy = 0.0
                for chain in decompose_line([[(x1, y1), (x2, y2)]], theta):
                    for (ax, ay), (bx, by) in zip(chain, chain[1:]):
                        sdx += abs(bx - ax)
                        sdy += abs(by - ay)
                sdx512 += round(sdx * 512.0)
                sdy512 += round(sdy * 512.0)
            yield pd.DataFrame(
                {"n": [n], "sdx512": [sdx512], "sdy512": [sdy512]}
            )

    part = lines.select("x1", "y1", "x2", "y2").mapInPandas(
        run, "n long, sdx512 long, sdy512 long"
    )
    return part.agg(
        F.sum("n").alias("n_lines"),
        F.sum("sdx512").cast("bigint").alias("sdx512"),
        F.sum("sdy512").cast("bigint").alias("sdy512"),
    )


def decompose_line_stats_oracle() -> str:
    from ds_jedai_spark.io.synthetic import line_sql

    return (
        f"WITH seg AS ({line_sql()}) "
        f"SELECT CAST(count(*) AS BIGINT) AS n_lines, "
        f"CAST(round(sum(abs(x2 - x1)) * 512) AS BIGINT) AS sdx512, "
        f"CAST(round(sum(abs(y2 - y1)) * 512) AS BIGINT) AS sdy512 FROM seg"
    )
