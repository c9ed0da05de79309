"""Compute-skew load balancing for the spatial join.

Re-expresses the reference's WellBalancedDistributedInterlinking
(reference: src/main/scala/linkers/loadbalancing/
WellBalancedDistributedInterlinking.scala:33-92): per-target verification
cost, z-score > 3 marks "skew" targets, which are re-distributed
round-robin while the cheap majority keeps its spatial partitioning; the
two result sets are unioned. The *logical* result is identical to the
plain join — balancing is purely physical — which is exactly what the
equivalence oracle checks.

Scale notes: shuffle skew (dense tiles) is already covered by AQE skew-join
splitting; this operator addresses *compute* skew (targets with huge
candidate sets whose verification dominates a task). The skew id set is
tiny by construction (z>3) and is broadcast to both branches; the skew
branch is round-robin repartitioned so its verifications spread over all
cores. At 100 TB the candidate stream is persisted once and both branches
read the same materialization.

Float determinism: mean/stddev are derived from exact integer sums
(n, sum cost, sum cost^2) through ONE generated SQL expression evaluated
by both Spark and DuckDB, so the threshold is bit-identical across engines
(sample variance, matching the reference's Statistics.variance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ds_jedai_spark.model.tiles import ENVELOPE, prologue
from ds_jedai_spark.pins import pin

Z_SCORE = 3.0

# Sample stddev from exact integer sums; sqrt is correctly rounded IEEE so
# the whole expression is reproducible across engines. The greatest()
# guard makes n == 1 yield stddev 0 (then cost == mean, so z > 3 is
# false and nothing is skew) instead of an ANSI DIVIDE_BY_ZERO — Spark 4
# defaults spark.sql.ansi.enabled=true, and a single-target candidate
# set reached this through the AUTO dispatcher (found by the r11 e2e
# fuzz). For n > 1 the value is unchanged in both engines.
MEAN_SQL = "(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))"
STD_SQL = (
    "sqrt((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) "
    "/ CAST(n AS DOUBLE)) / greatest(CAST(n - 1 AS DOUBLE), 1.0))"
)


def target_cost(cand: DataFrame) -> DataFrame:
    """Per-target verification cost = candidate count (reference :42-44)."""
    return cand.groupBy("t_id").agg(F.count(F.lit(1)).alias("cost"))


def skew_targets(cand: DataFrame, z: float = Z_SCORE) -> DataFrame:
    """Targets whose cost z-score exceeds ``z`` (reference :45-57)."""
    cost = target_cost(cand)
    stats = cost.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cost").alias("sc"),
        F.sum(F.col("cost") * F.col("cost")).alias("sc2"),
    )
    return (
        cost.crossJoin(F.broadcast(stats))
        .where(F.expr(f"(CAST(cost AS DOUBLE) - {MEAN_SQL}) > {z!r} * {STD_SQL}"))
        .select("t_id", "cost")
    )


def segment_group_units(seg_cand: DataFrame) -> DataFrame:
    """Trie-style segment redistribution (reference:
    WellBalancedDistributedInterlinking.scala:95-166 +
    model/structures/IndicesPrefixTrie.scala:30-152): a skew target's
    segments are grouped by IDENTICAL source-candidate sets, so each group
    is verified once per candidate instead of once per segment.

    Input: (t_id, seg_idx, s_id) candidate rows (one per segment x source).
    Output per target: segment count, group count, grouped pair count
    (sum over groups of |candidate set|) and the naive pair count — the
    verification-work saving the trie grouping buys.

    Spark-first: the prefix trie is a groupBy on the sorted candidate-set
    key; batching (MAX_SIZE=256 per node) becomes AQE partition splitting
    of the exploded group rows.
    """
    per_seg = seg_cand.groupBy("t_id", "seg_idx").agg(
        F.sort_array(F.collect_set("s_id")).alias("cand_set"),
        F.count(F.lit(1)).alias("n_cand"),
    )
    groups = per_seg.groupBy("t_id", "cand_set").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.size(F.first("cand_set")).alias("set_size"),
        F.sum("n_cand").alias("naive_pairs"),
    )
    return groups.groupBy("t_id").agg(
        F.sum("n_segs").cast("long").alias("n_segments"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("set_size").cast("long").alias("grouped_pairs"),
        F.sum("naive_pairs").cast("long").alias("naive_pairs"),
    )


# Auto-dispatch threshold: avg per-pair verification cost proxy
# (mean source vertices x mean target vertices). The skew-split's
# candidate materialization + double join costs ~2x at box-algebra
# verification cost (5x5 = 25, measured in BENCH_SCALE giant_skew_x10),
# so it only pays when exact relate dominates — relate_poly is
# O(V_s * V_t) integer arithmetic per pair, which overtakes the split
# overhead around ~8x8-vertex geometries on the sf0.1 corpus.
VERTEX_COST_THRESHOLD = 64.0


def estimate_pair_cost(source: DataFrame, target: DataFrame) -> float:
    """Average per-pair verification cost proxy: the product of the two
    inputs' mean vertex counts per geometry, never an action over the
    exploded candidate set. A thin wrapper over ``tiles.prologue`` (one
    aggregate over both inputs; ``api.run`` reads the cost from its own
    prologue instead). The means are full scans, so the AUTO choice is
    exactly deterministic; on a row-format parquet input that is one
    columnar read of ``coords``, which the verifying query reads anyway.
    An input without envelope columns contributes its vertex count only;
    one without ``coords`` is all boxes (5 vertices)."""
    def enveloped(df: DataFrame) -> DataFrame:
        if "minx" in df.columns:
            return df
        return df.select("*", *(F.lit(None).cast("double").alias(c)
                                for c in ENVELOPE))

    return prologue(enveloped(source), enveloped(target), verts=True).pair_cost


def auto_balance(
    cand: DataFrame,
    source: DataFrame,
    target: DataFrame,
    mode: str = "AUTO",
    z: float = Z_SCORE,
    skew_parts: int | None = None,
    threshold: float = VERTEX_COST_THRESHOLD,
    cost: float | None = None,
) -> tuple[DataFrame, bool]:
    """Route candidates through the skew-split join only when per-pair
    verification is expensive enough to pay for it.

    ``mode``: ``AUTO`` (estimate, engage above ``threshold``), ``ON``
    (always split), ``OFF`` (never). Returns (candidates, engaged).
    ``cost`` is the per-pair cost estimate when the caller already has
    it (``api.run`` takes it from ``tiles.prologue``); without it the
    estimate is ``estimate_pair_cost``, one aggregate over both inputs.
    The estimate never touches ``cand`` — the cheap route keeps the
    single-pass streaming plan (no materialization is introduced).
    Reference: WellBalancedDistributedInterlinking.scala:33-92 applies
    the split unconditionally; the dispatch is this engine's addition.
    """
    mode = (mode or "AUTO").upper()
    if mode not in ("AUTO", "ON", "OFF"):
        # parse_config already hard-errors on YAML typos; this guards
        # programmatic callers to the same contract instead of silently
        # treating an unknown mode as AUTO.
        raise ValueError(f"loadBalancer mode {mode!r} not in AUTO/ON/OFF")
    if mode == "OFF":
        return cand, False
    if mode == "AUTO":
        if cost is None:
            cost = estimate_pair_cost(source, target)
        if cost < threshold:
            return cand, False
    return well_balanced_candidates(cand, z=z, skew_parts=skew_parts), True


def well_balanced_candidates(
    cand: DataFrame, z: float = Z_SCORE, skew_parts: int | None = None,
) -> DataFrame:
    """Split candidates into cheap / skew branches and reunite them.

    The skew branch is round-robin repartitioned (reference :58-92 uses a
    HashPartitioner over a fresh key) so its verification work spreads
    evenly; the cheap branch keeps its partitioning. Same rows out.
    """
    # Eager localCheckpoint, not persist(): cand feeds a self-referential
    # consumer pair (joins against an aggregate of itself), where cache
    # substitution misses and silently recomputes per branch — see
    # pins.pin for the measured evidence.
    cand = pin(cand)
    ids = F.broadcast(skew_targets(cand, z).select("t_id"))
    cheap = cand.join(ids, on="t_id", how="left_anti")
    skew = cand.join(ids, on="t_id", how="left_semi")
    if skew_parts:
        skew = skew.repartition(skew_parts)
    # Align column order: anti/semi joins moved t_id first.
    return cheap.select(*cand.columns).unionByName(skew.select(*cand.columns))
