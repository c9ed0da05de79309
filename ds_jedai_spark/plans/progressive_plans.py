"""Progressive-mode query plans + DuckDB oracles.

Covers the reference's progressive algorithm suite (SURVEY.md §2.9) in its
relationally-expressible forms: PROGRESSIVE_GIANT, TOPK, RECIPROCAL_TOPK,
RANDOM, plus the PGR evaluation metric and the supporting aggregate
queries (theta stats, per-target skew cost). The stateful variants
(DYNAMIC_PROGRESSIVE_GIANT, EARLY_STOPPING) live in
operators/progressive_state.py (applyInArrow; rows-only checks).

All weight queries pin theta to exact literals (1.0) and the contingency
universe to a constant so Spark and DuckDB evaluate identical IEEE
arithmetic (weights come out bit-equal; see io/synthetic.py exactness
contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark.io.synthetic import (
    load_sql,
    mixed_target_sql,
    source_box_sql,
    target_box_sql,
)
from ds_jedai_spark.operators import progressive as prog
from ds_jedai_spark.operators.relate import with_relations
from ds_jedai_spark.operators.spatial_join import tile_join
from ds_jedai_spark.operators.weights import weight_exprs
from ds_jedai_spark.pins import pin
from ds_jedai_spark.plans.giant import _pairs_cte

THETA = (1.0, 1.0)
TOTAL_BLOCKS = 10000
PROG_BUDGET = 2000
TOPK_K = 5
RECIP_K = 3

# Coarse spatial-partition id of an envelope's min corner (coords < 96,
# so 12x12 cells of 8.0 units; 64 keeps x/y digits disjoint).
def _pid_sql(p: str) -> str:
    return (
        f"(CAST(floor({p}minx / 8.0) AS BIGINT) * 64 + "
        f"CAST(floor({p}miny / 8.0) AS BIGINT))"
    )

WEXPR = weight_exprs("s_", "t_", THETA[0], THETA[1], TOTAL_BLOCKS)


def _cand(spark: SparkSession, sf_dir: str) -> DataFrame:
    source = load_sql(spark, sf_dir, source_box_sql())
    target = load_sql(spark, sf_dir, target_box_sql())
    return tile_join(source, target, theta=THETA)


def progressive_giant_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prog.progressive_top_budget(_cand(spark, sf_dir), WEXPR["js"], PROG_BUDGET)


def topk_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prog.topk_per_entity(_cand(spark, sf_dir), WEXPR["cf"], TOPK_K)


def reciprocal_topk_mbro(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prog.reciprocal_topk(_cand(spark, sf_dir), WEXPR["mbro"], RECIP_K)


def random_sched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prog.random_scheduling(_cand(spark, sf_dir), PROG_BUDGET)


def progressive_giant_x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prog.progressive_top_budget(_cand(spark, sf_dir), WEXPR["x2"], PROG_BUDGET)


def composite_js_mbro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE scheme: JS main weight, MBRO breaks ties."""
    return prog.composite_top_budget(
        _cand(spark, sf_dir), WEXPR["js"], WEXPR["mbro"], PROG_BUDGET
    )


def hybrid_js_mbro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID scheme: JS x MBRO product weight."""
    return prog.hybrid_top_budget(
        _cand(spark, sf_dir), WEXPR["js"], WEXPR["mbro"], PROG_BUDGET
    )


def thin_multi_js_cf_mbro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THIN_MULTI_COMPOSITE scheme: lexicographic (JS, CF, MBRO) — the
    fixed triple used by the reference's early-stopping linker."""
    return prog.thin_multi_top_budget(
        _cand(spark, sf_dir), WEXPR["js"], WEXPR["cf"], WEXPR["mbro"], PROG_BUDGET
    )


def progressive_isp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE_GIANT with the ISP weight over a mixed boxes+points
    target, where the boundary-point count actually varies."""
    source = load_sql(spark, sf_dir, source_box_sql())
    target = load_sql(spark, sf_dir, mixed_target_sql())
    cand = tile_join(source, target, theta=THETA)
    return prog.progressive_top_budget(cand, WEXPR["isp"], PROG_BUDGET)


def local_budget_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget split proportionally to per-spatial-partition source counts
    (reference ProgressiveGIAnt.scala:26), JS weights."""
    source = load_sql(spark, sf_dir, source_box_sql())
    return prog.local_budget_top(
        _cand(spark, sf_dir),
        source,
        WEXPR["js"],
        PROG_BUDGET,
        _pid_sql("s_"),
        _pid_sql(""),
    )


LARGE_AMP = 20
LARGE_PROG_BUDGET = 120_000


def local_budget_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-regime scheduler path: budget >= api.LARGE_BUDGET dispatches
    to the partitioned ``local_budget_top`` (never TakeOrderedAndProject's
    driver merge — reference budgets reach 5M-100M,
    TSAS-Experiments/scalabilityExp.sh). The sf0.01 candidate set is
    amplified x20 (t_id' = t_id * 32 + rep, identical weights) so the
    per-partition limits actually bind and the proportional-split formula
    is exercised, not just the trivial keep-everything regime."""
    from ds_jedai_spark.api import _grid_pid_sql

    source = load_sql(spark, sf_dir, source_box_sql())
    amp = (
        prog.with_weight(_cand(spark, sf_dir), WEXPR["js"])
        .selectExpr(
            "s_id",
            "t_id",
            "w AS w0",
            "s_minx",
            "s_miny",
            f"explode(sequence(0, {LARGE_AMP - 1})) AS rep",
        )
        .selectExpr("s_id", "t_id * 32 + rep AS t_id", "w0", "s_minx", "s_miny")
    )
    return prog.local_budget_top(
        amp,
        source,
        "w0",
        LARGE_PROG_BUDGET,
        _grid_pid_sql("s_", THETA),
        _grid_pid_sql("", THETA),
    )


def local_budget_large_oracle() -> str:
    from ds_jedai_spark.api import _grid_pid_sql

    pid_s, pid_src = _grid_pid_sql("s_", THETA), _grid_pid_sql("", THETA)
    return (
        f"{_w_cte()}, "
        f"amp AS (SELECT s_id, t_id * 32 + rep AS t_id, w_js AS w, "
        f"s_minx, s_miny FROM ww, "
        f"(SELECT unnest(range(0, {LARGE_AMP})) AS rep)), "
        f"pidc AS (SELECT {pid_src} AS pid, count(*) AS cnt FROM source GROUP BY 1), "
        f"tot AS (SELECT sum(cnt) AS total FROM pidc), "
        f"lims AS (SELECT pid, CAST(floor(({LARGE_PROG_BUDGET} * cnt + total - 1.0) "
        f"/ total) AS BIGINT) AS lbv FROM pidc, tot), "
        f"rr AS (SELECT s_id, t_id, w, {pid_s} AS pid, "
        f"row_number() OVER (PARTITION BY {pid_s} "
        f"ORDER BY w DESC, s_id, t_id) AS rn FROM amp) "
        f"SELECT s_id, t_id, w FROM rr JOIN lims USING (pid) WHERE rn <= lbv"
    )


def pgr_js_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PGR of JS-ordered verification with OVERLAPS as the target relation."""
    cand = with_relations(_cand(spark, sf_dir))
    sched = (
        prog.with_weight(cand, WEXPR["js"])
        .withColumn("qualifies", F.col("r_overlaps"))
        .select("s_id", "t_id", "w", "qualifies")
        .orderBy(F.desc("w"), "s_id", "t_id")
        .limit(PROG_BUDGET)
    )
    return prog.pgr_metrics(sched)


def dynamic_progressive_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC_PROGRESSIVE_GIANT: JS weights, OVERLAPS hits boost neighbors.
    Sequential PQ semantics; the DuckDB oracle replays the same scan as a
    recursive CTE (one verification per group per recursion step)."""
    from ds_jedai_spark.operators.progressive_state import dynamic_progressive

    cand = with_relations(_cand(spark, sf_dir))
    return dynamic_progressive(cand, WEXPR["js"], "r_overlaps", PROG_BUDGET)


def early_stopping_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EARLY_STOPPING: batch-verified JS ordering with the reference's
    stopping rule; oracled via a gaps-and-islands SQL replay (consecutive
    violating batches = batch index minus last non-violating batch index).

    Qualifying relation is EQUALS: identical boxes have JS=1 and sort to
    the head of the scan, so match density decays and the stopping rule
    actually fires (with OVERLAPS it never would on this data)."""
    from ds_jedai_spark.operators.progressive_state import early_stopping

    cand = with_relations(_cand(spark, sf_dir))
    # num_parts sized so each group sees enough batches for the violation
    # counter to be meaningful (~20 batches/group at sf0.01).
    return early_stopping(cand, WEXPR["js"], "r_equals", num_parts=4)


def progressive_eval_js_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics of the budget-limited JS schedule against the full
    ground truth (reference experiments/progressive/
    ProgressiveEvaluation.scala:124-140): recall = qualifying pairs found
    within budget / all qualifying pairs, precision = found / verified."""
    # Eager localCheckpoint, not persist(): the totals aggregate and the
    # schedule both re-consume cand, and cache substitution misses
    # self-referential consumers (see pins.pin).
    cand = pin(with_relations(_cand(spark, sf_dir)))
    totals = cand.agg(
        F.sum(F.col("r_overlaps").cast("long")).alias("total_qp")
    )
    sched = (
        prog.with_weight(cand, WEXPR["js"])
        .select("s_id", "t_id", "w", F.col("r_overlaps").cast("long").alias("q"))
        .orderBy(F.desc("w"), "s_id", "t_id")
        .limit(PROG_BUDGET)
    )
    in_budget = sched.agg(
        F.count(F.lit(1)).alias("verifications"),
        F.sum("q").alias("qp_in_budget"),
    )
    return (
        in_budget.crossJoin(totals)
        .withColumn(
            "recall",
            F.expr("CAST(qp_in_budget AS DOUBLE) / CAST(total_qp AS DOUBLE)"),
        )
        .withColumn(
            "precision",
            F.expr("CAST(qp_in_budget AS DOUBLE) / CAST(verifications AS DOUBLE)"),
        )
    )


def common_tiles_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair common-tile count via materialized tile SETS and
    array_intersect (the IndexedDecomposedEntity tile-set pre-filter,
    reference model/entities/segmented/IndexedDecomposedEntity.scala:24-31)
    — the oracle computes the same number in closed form, so the two
    implementations cross-check each other."""
    tx, ty = THETA
    tiles = (
        "flatten(transform(sequence(CAST(floor({p}minx / %r) AS BIGINT), "
        "CAST(floor({p}maxx / %r) AS BIGINT)), "
        "x -> transform(sequence(CAST(floor({p}miny / %r) AS BIGINT), "
        "CAST(floor({p}maxy / %r) AS BIGINT)), y -> x * 65536 + y)))"
        % (tx, tx, ty, ty)
    )
    cand = _cand(spark, sf_dir)
    return cand.select(
        "s_id",
        "t_id",
        F.size(
            F.array_intersect(
                F.expr(tiles.format(p="s_")), F.expr(tiles.format(p="t_"))
            )
        ).cast("long").alias("n_common"),
    )


def common_tiles_array_oracle() -> str:
    from ds_jedai_spark.operators.weights import common_tiles_expr

    cb = common_tiles_expr("s_", "t_", THETA[0], THETA[1])
    return (
        f"{_pairs_cte()} SELECT s_id, t_id, CAST({cb} AS BIGINT) AS n_common "
        f"FROM pairs"
    )


def theta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-granularity statistics over the source (TileGranularities modes:
    min/max/avg — reference model/TileGranularities.scala:21-47)."""
    src = load_sql(spark, sf_dir, source_box_sql())
    w, h = F.col("maxx") - F.col("minx"), F.col("maxy") - F.col("miny")
    return src.agg(
        F.avg(w).alias("avg_w"),
        F.avg(h).alias("avg_h"),
        F.min(w).alias("min_w"),
        F.min(h).alias("min_h"),
        F.max(w).alias("max_w"),
        F.max(h).alias("max_h"),
        F.count(F.lit(1)).alias("n"),
    )


def skew_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targets whose verification-cost z-score exceeds 3 — the skew set of
    WellBalancedDistributedInterlinking.scala:45-57."""
    from ds_jedai_spark.operators.loadbalance import skew_targets

    return skew_targets(_cand(spark, sf_dir))


def well_balanced_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIA.nt counts through the skew-split two-path join: the balanced
    physical plan must produce the identical logical result (the oracle is
    the plain giant_counts oracle)."""
    from ds_jedai_spark.operators.loadbalance import well_balanced_candidates
    from ds_jedai_spark.plans.giant import counts_agg

    cand = well_balanced_candidates(_cand(spark, sf_dir), skew_parts=8)
    return counts_agg(with_relations(cand))


def segment_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target verification-unit statistics of trie-style segment
    grouping: line targets are refined into 4 slice envelopes, each slice
    finds its source candidates through the tile join, and slices sharing
    an identical candidate set collapse into one verification group
    (reference IndicesPrefixTrie semantics, exposed as counts)."""
    from ds_jedai_spark.io.synthetic import line_sql
    from ds_jedai_spark.operators.decompose import seg_slice_envelope_exprs
    from ds_jedai_spark.operators.loadbalance import segment_group_units

    source = load_sql(spark, sf_dir, source_box_sql())
    lines = load_sql(spark, sf_dir, line_sql())
    structs = []
    for i, e in enumerate(seg_slice_envelope_exprs("", k=4)):
        structs.append(
            f"struct({e['minx']} AS minx, {e['miny']} AS miny, "
            f"{e['maxx']} AS maxx, {e['maxy']} AS maxy, {i} AS seg_idx)"
        )
    slices = lines.selectExpr(
        "id", f"explode(array({', '.join(structs)})) AS sl"
    ).selectExpr("id", "sl.minx", "sl.miny", "sl.maxx", "sl.maxy", "sl.seg_idx")
    cand = tile_join(source, slices, theta=THETA, target_extra=("seg_idx",))
    seg_cand = cand.select(
        "t_id", F.col("t_seg_idx").alias("seg_idx"), "s_id"
    )
    return segment_group_units(seg_cand)


def segment_groups_oracle() -> str:
    from ds_jedai_spark.io.synthetic import line_sql

    env = (
        "s.minx <= sl.maxx AND sl.minx <= s.maxx AND "
        "s.miny <= sl.maxy AND sl.miny <= s.maxy"
    )
    return (
        f"WITH source AS ({source_box_sql()}), lines AS ({line_sql()}), "
        "idx AS (SELECT unnest(range(0, 4)) AS i), "
        "slices AS (SELECT id AS t_id, i AS seg_idx, "
        "least(x1 + (x2 - x1) * (i / 4.0), x1 + (x2 - x1) * ((i + 1) / 4.0)) AS minx, "
        "least(y1 + (y2 - y1) * (i / 4.0), y1 + (y2 - y1) * ((i + 1) / 4.0)) AS miny, "
        "greatest(x1 + (x2 - x1) * (i / 4.0), x1 + (x2 - x1) * ((i + 1) / 4.0)) AS maxx, "
        "greatest(y1 + (y2 - y1) * (i / 4.0), y1 + (y2 - y1) * ((i + 1) / 4.0)) AS maxy "
        "FROM lines, idx), "
        f"cand AS (SELECT s.id AS s_id, sl.t_id, sl.seg_idx FROM source s "
        f"JOIN slices sl ON {env}), "
        "per_seg AS (SELECT t_id, seg_idx, list_sort(list(DISTINCT s_id)) AS cs, "
        "count(*) AS n_cand FROM cand GROUP BY 1, 2), "
        "groups AS (SELECT t_id, cs, count(*) AS n_segs, len(cs) AS set_size, "
        "sum(n_cand) AS naive FROM per_seg GROUP BY 1, 2) "
        "SELECT t_id, CAST(sum(n_segs) AS BIGINT) AS n_segments, "
        "count(*) AS n_groups, CAST(sum(set_size) AS BIGINT) AS grouped_pairs, "
        "CAST(sum(naive) AS BIGINT) AS naive_pairs FROM groups GROUP BY t_id"
    )


def skew_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target verification cost (candidate count) — the load-balancing
    statistic of WellBalancedDistributedInterlinking.scala:42-57."""
    return (
        _cand(spark, sf_dir)
        .groupBy("t_id")
        .agg(F.count(F.lit(1)).alias("cost"))
    )


# ---------------------------------------------------------------- oracles

def _w_cte() -> str:
    return (
        f"{_pairs_cte()}, ww AS (SELECT s_id, t_id, "
        + ", ".join(f"{WEXPR[k]} AS w_{k}" for k in ("cf", "js", "x2", "mbro"))
        + f", {prog.RANDOM_WEIGHT_SQL} AS w_rand, "
        + "s_minx, s_miny, s_maxx, s_maxy, t_minx, t_miny, t_maxx, t_maxy FROM pairs)"
    )


def progressive_giant_js_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, w_js AS w FROM ww "
        f"ORDER BY w DESC, s_id, t_id LIMIT {PROG_BUDGET}"
    )


def progressive_giant_x2_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, w_x2 AS w FROM ww "
        f"ORDER BY w DESC, s_id, t_id LIMIT {PROG_BUDGET}"
    )


def topk_cf_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, w FROM ("
        f"SELECT s_id, t_id, w_cf AS w, row_number() OVER "
        f"(PARTITION BY s_id ORDER BY w_cf DESC, t_id) AS rn FROM ww) WHERE rn <= {TOPK_K}"
    )


def reciprocal_topk_mbro_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, w FROM ("
        f"SELECT s_id, t_id, w_mbro AS w, "
        f"row_number() OVER (PARTITION BY s_id ORDER BY w_mbro DESC, t_id) AS rn_s, "
        f"row_number() OVER (PARTITION BY t_id ORDER BY w_mbro DESC, s_id) AS rn_t "
        f"FROM ww) WHERE rn_s <= {RECIP_K} AND rn_t <= {RECIP_K}"
    )


def composite_js_mbro_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, w_js AS w, w_mbro AS w2 FROM ww "
        f"ORDER BY w DESC, w2 DESC, s_id, t_id LIMIT {PROG_BUDGET}"
    )


def hybrid_js_mbro_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, (w_js * w_mbro) AS w FROM ww "
        f"ORDER BY w DESC, s_id, t_id LIMIT {PROG_BUDGET}"
    )


def thin_multi_js_cf_mbro_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, w_js AS w1, w_cf AS w2, w_mbro AS w3 "
        f"FROM ww ORDER BY w1 DESC, w2 DESC, w3 DESC, s_id, t_id LIMIT {PROG_BUDGET}"
    )


def progressive_isp_oracle() -> str:
    env = (
        "s.minx <= t.maxx AND t.minx <= s.maxx AND "
        "s.miny <= t.maxy AND t.miny <= s.maxy"
    )
    cols = ", ".join(
        f"s.{c} AS s_{c}, t.{c} AS t_{c}"
        for c in ("id", "minx", "miny", "maxx", "maxy")
    )
    return (
        f"WITH source AS ({source_box_sql()}), target AS ({mixed_target_sql()}), "
        f"pairs AS (SELECT {cols} FROM source s JOIN target t ON {env}) "
        f"SELECT s_id, t_id, {WEXPR['isp']} AS w FROM pairs "
        f"ORDER BY w DESC, s_id, t_id LIMIT {PROG_BUDGET}"
    )


def local_budget_js_oracle() -> str:
    pid_s, pid_src = _pid_sql("s_"), _pid_sql("")
    return (
        f"{_w_cte()}, "
        f"pidc AS (SELECT {pid_src} AS pid, count(*) AS cnt FROM source GROUP BY 1), "
        f"tot AS (SELECT sum(cnt) AS total FROM pidc), "
        f"lims AS (SELECT pid, CAST(floor(({PROG_BUDGET} * cnt + total - 1.0) / total) "
        f"AS BIGINT) AS lbv FROM pidc, tot), "
        f"rnk AS (SELECT s_id, t_id, w_js AS w, {pid_s} AS pid FROM ww), "
        f"rr AS (SELECT *, row_number() OVER (PARTITION BY pid "
        f"ORDER BY w DESC, s_id, t_id) AS rn FROM rnk) "
        f"SELECT s_id, t_id, w FROM rr JOIN lims USING (pid) WHERE rn <= lbv"
    )


def random_sched_oracle() -> str:
    return (
        f"{_w_cte()} SELECT s_id, t_id, w_rand AS w FROM ww "
        f"ORDER BY w DESC, s_id, t_id LIMIT {PROG_BUDGET}"
    )


def dynamic_progressive_js_oracle() -> str:
    """Recursive-CTE replay of the dynamic-PQ scan (one verification per
    group per recursion level): among pending pairs pick the (eff DESC,
    s_id, t_id) minimum-rank pair, then boost every pending pair sharing an
    endpoint with a qualifying choice to ``w0 * (1 + relatedMatches)`` —
    byte-identical to operators/progressive_state._dynamic_order (reference
    DynamicProgressiveGIAnt.scala:25-88)."""
    from ds_jedai_spark.operators.relate import relation_predicates

    pred = relation_predicates("s_", "t_")["overlaps"]
    cte = _w_cte().replace("WITH ", "WITH RECURSIVE ", 1)
    boosted = (
        "(rnk IS NULL AND NOT chosen AND ch_q AND (s_id = ch_s OR t_id = ch_t))"
    )
    return (
        f"{cte}, "
        f"prep AS (SELECT s_id % 32 AS pid, s_id, t_id, w_js AS w0, "
        f"({pred}) AS qual FROM ww), "
        f"tot AS (SELECT count(*) AS n_total FROM prep), "
        f"lims AS (SELECT pid, GREATEST(1, ({PROG_BUDGET} * count(*) + n_total - 1) "
        f"// n_total) AS lb FROM prep, tot GROUP BY pid, n_total), "
        f"scan AS ("
        f"SELECT p.pid, p.s_id, p.t_id, p.w0, p.qual, l.lb, "
        f"0 AS rm, p.w0 AS eff, CAST(NULL AS BIGINT) AS rnk "
        f"FROM prep p JOIN lims l USING (pid) "
        f"UNION ALL "
        f"SELECT pid, s_id, t_id, w0, qual, lb, "
        f"CASE WHEN {boosted} THEN rm + 1 ELSE rm END AS rm, "
        f"CASE WHEN {boosted} THEN w0 * (2 + rm) ELSE eff END AS eff, "
        f"CASE WHEN chosen THEN done_cnt + 1 ELSE rnk END AS rnk "
        f"FROM ("
        f"SELECT *, "
        f"max(CASE WHEN chosen THEN s_id END) OVER (PARTITION BY pid) AS ch_s, "
        f"max(CASE WHEN chosen THEN t_id END) OVER (PARTITION BY pid) AS ch_t, "
        f"bool_or(chosen AND qual) OVER (PARTITION BY pid) AS ch_q, "
        f"bool_or(chosen) OVER () AS any_chosen "
        f"FROM ("
        f"SELECT *, (rnk IS NULL AND done_cnt < lb AND "
        f"row_number() OVER (PARTITION BY pid "
        f"ORDER BY (rnk IS NOT NULL), eff DESC, s_id, t_id) = 1) AS chosen "
        f"FROM (SELECT *, count(rnk) OVER (PARTITION BY pid) AS done_cnt FROM scan)"
        f")) WHERE any_chosen) "
        f"SELECT s_id, t_id, eff AS w, rnk AS verified_rank "
        f"FROM (SELECT DISTINCT s_id, t_id, eff, rnk FROM scan WHERE rnk IS NOT NULL)"
    )


def early_stopping_js_oracle() -> str:
    """Gaps-and-islands replay of the early-stopping batch scan: per group,
    batches of 100 in (w DESC, s_id, t_id) order; a batch violates when its
    match count falls below 0.18 x first-batch matches; the scan stops at
    the 4th consecutive violation, inclusive (reference
    EarlyStoppingLinker.scala:34-131)."""
    from ds_jedai_spark.operators.relate import relation_predicates

    pred = relation_predicates("s_", "t_")["equals"]
    return (
        f"{_w_cte()}, "
        f"prep AS (SELECT s_id % 4 AS pid, s_id, t_id, w_js AS w, "
        f"CAST({pred} AS INT) AS q FROM ww), "
        f"ordered AS (SELECT *, row_number() OVER (PARTITION BY pid "
        f"ORDER BY w DESC, s_id, t_id) AS rn FROM prep), "
        f"batched AS (SELECT *, (rn - 1) // 100 AS b FROM ordered), "
        f"bm AS (SELECT pid, b, sum(q) AS matches FROM batched GROUP BY pid, b), "
        f"fb AS (SELECT pid, GREATEST(matches, 1) AS fbm FROM bm WHERE b = 0), "
        f"flags AS (SELECT bm.pid, bm.b, "
        f"(bm.b > 0 AND bm.matches < 0.18 * fb.fbm) AS viol "
        f"FROM bm JOIN fb USING (pid)), "
        f"runs AS (SELECT pid, b, b - max(CASE WHEN NOT viol THEN b END) "
        f"OVER (PARTITION BY pid ORDER BY b ROWS UNBOUNDED PRECEDING) AS cv "
        f"FROM flags), "
        f"stops AS (SELECT pid, min(CASE WHEN cv >= 4 THEN b END) AS stop_b "
        f"FROM runs GROUP BY pid) "
        f"SELECT s_id, t_id, w, rn AS verified_rank "
        f"FROM batched JOIN stops USING (pid) "
        f"WHERE stop_b IS NULL OR b <= stop_b"
    )


def pgr_js_overlaps_oracle() -> str:
    from ds_jedai_spark.operators.relate import relation_predicates

    overlaps = relation_predicates("s_", "t_")["overlaps"]
    return (
        f"{_w_cte()}, sched AS ("
        f"SELECT s_id, t_id, w_js AS w, CAST({overlaps} AS BIGINT) AS q FROM ww "
        f"ORDER BY w DESC, s_id, t_id LIMIT {PROG_BUDGET}), "
        f"run AS (SELECT *, sum(q) OVER (ORDER BY w DESC, s_id, t_id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qp FROM sched) "
        f"SELECT count(*) AS verifications, CAST(sum(q) AS BIGINT) AS qualifying_pairs, "
        f"(CAST(sum(running_qp) AS DOUBLE) / CAST(sum(q) AS DOUBLE)) / count(*) AS pgr "
        f"FROM run"
    )


def progressive_eval_js_overlaps_oracle() -> str:
    from ds_jedai_spark.operators.relate import relation_predicates

    overlaps = relation_predicates("s_", "t_")["overlaps"]
    return (
        f"{_w_cte()}, "
        f"totals AS (SELECT CAST(sum(CAST({overlaps} AS BIGINT)) AS BIGINT) "
        f"AS total_qp FROM ww), "
        f"sched AS (SELECT CAST({overlaps} AS BIGINT) AS q FROM ww "
        f"ORDER BY w_js DESC, s_id, t_id LIMIT {PROG_BUDGET}), "
        f"ib AS (SELECT count(*) AS verifications, CAST(sum(q) AS BIGINT) "
        f"AS qp_in_budget FROM sched) "
        f"SELECT verifications, qp_in_budget, total_qp, "
        f"CAST(qp_in_budget AS DOUBLE) / CAST(total_qp AS DOUBLE) AS recall, "
        f"CAST(qp_in_budget AS DOUBLE) / CAST(verifications AS DOUBLE) AS precision "
        f"FROM ib, totals"
    )


def theta_stats_oracle() -> str:
    return (
        f"WITH source AS ({source_box_sql()}) SELECT "
        f"avg(maxx - minx) AS avg_w, avg(maxy - miny) AS avg_h, "
        f"min(maxx - minx) AS min_w, min(maxy - miny) AS min_h, "
        f"max(maxx - minx) AS max_w, max(maxy - miny) AS max_h, "
        f"count(*) AS n FROM source"
    )


def skew_cost_oracle() -> str:
    return f"{_pairs_cte()} SELECT t_id, count(*) AS cost FROM pairs GROUP BY t_id"


def skew_entities_oracle() -> str:
    from ds_jedai_spark.operators.loadbalance import MEAN_SQL, STD_SQL, Z_SCORE

    return (
        f"{_pairs_cte()}, "
        f"cost AS (SELECT t_id, count(*) AS cost FROM pairs GROUP BY t_id), "
        f"stats AS (SELECT count(*) AS n, sum(cost) AS sc, "
        f"sum(cost * cost) AS sc2 FROM cost) "
        f"SELECT t_id, cost FROM cost, stats "
        f"WHERE (CAST(cost AS DOUBLE) - {MEAN_SQL}) > {Z_SCORE!r} * {STD_SQL}"
    )
