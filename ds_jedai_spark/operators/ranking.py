"""Distributed total-order ranking — no single-task window anywhere.

A global ``row_number() OVER (ORDER BY ...)`` compiles to a
SinglePartition exchange: one task sees every row. This module implements
the equivalent rank as two parallel phases (the scheme proven for
vocabulary ids in textops.vocab and reused by the PGR metric):

1. ``repartitionByRange`` on the sort key — partition i sorts wholly
   before partition i+1 — then ``row_number`` within each partition
   (partition-local window, plan-shape tested).
2. Per-partition counts -> cumulative offsets computed driver-side from
   a <= numPartitions-row collect (the same per-partition count pass
   RDD.zipWithIndex makes) and broadcast-joined back onto the ranked
   rows. Driver work and transfer are O(numPartitions), never O(rows),
   and no unpartitioned WindowExec appears in any plan.

The ranked frame is pinned with an eager localCheckpoint: it feeds both
the offset aggregate and the final join, and repartitionByRange samples
its boundaries nondeterministically — unpinned recomputation could assign
different (part, rn) per consumer (see also the persist() cache-miss note
in pins.pin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ds_jedai_spark.pins import pin


def shuffle_parts(df: DataFrame) -> int:
    """spark.sql.shuffle.partitions, tolerating non-numeric settings such
    as 'auto' on managed platforms (falls back to defaultParallelism)."""
    spark = df.sparkSession
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def ranked_local(df: DataFrame, asc_cols: list[str]) -> DataFrame:
    """Phase 1 (pre-checkpoint): range-partitioned, partition-local
    row_number as columns ``part`` and ``rank``."""
    return (
        df.repartitionByRange(shuffle_parts(df), *asc_cols)
        .withColumn("part", F.spark_partition_id())
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.partitionBy("part").orderBy(*asc_cols))
            .cast("long"),
        )
    )


def global_rank(df: DataFrame, *, asc_cols: list[str]) -> DataFrame:
    """Append ``rank`` = row_number() OVER (ORDER BY asc_cols), computed
    distributedly. Requires the sort key to be unique per row (ties would
    otherwise rank nondeterministically across runs)."""
    local = pin(ranked_local(df, asc_cols))
    counts = sorted(
        (r["part"], r["cnt"])
        for r in local.groupBy("part").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offs, acc = [], 0
    for part, cnt in counts:
        offs.append((part, acc))
        acc += cnt
    offsets = df.sparkSession.createDataFrame(
        offs or [(0, 0)], "part int, off long"
    )
    return (
        local.join(F.broadcast(offsets), "part")
        .withColumn("rank", F.col("off") + F.col("rank"))
        .drop("part", "off")
    )


def exact_quantiles(
    df: DataFrame,
    col: str,
    permille: tuple[int, ...] = (10, 250, 500, 750, 900, 990),
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """EXACT quantiles of ``col``, distributed — (permille, value) with
    value = the element at rank ``1 + (p * (n - 1)) div 1000`` of the
    ascending sort (the lower-interpolation / type-1 quantile).

    Engines disagree on approximate sketches (t-digest vs KLL) and on
    float interpolation, so the contract here is EXACT SELECTION with
    the rank computed in INTEGER arithmetic — ``permille`` is the exact
    rational p/1000, never a float multiply whose floor could differ in
    the last ulp. The selected VALUE at a rank is well-defined even
    under ties (ties only permute equal values).

    Scale notes: the sort rank is the two-phase distributed scheme of
    this module (never a SinglePartition window); the count and the
    wanted-rank table ride in as one broadcast 1-row aggregate joined
    map-side, and the final equi-join keeps only len(permille) rows.
    This is the exact-answer complement to approx_percentile: one range
    shuffle instead of a sketch merge, for when the answer feeds a
    policy that must be reproducible across engines and runs.
    """
    if not permille or any(not 0 <= int(p) <= 1000 for p in permille):
        raise ValueError(f"permille values must be in 0..1000, got {permille}")
    asc = [col] + list(tiebreak or [])
    # Inlined global_rank (r17 optimization round): the offsets collect
    # already yields the TOTAL row count, so the wanted-rank table is
    # built driver-side from it — the former count(*) aggregate (a
    # second full scan of ``df``) and its crossJoin broadcast subtree
    # fold away. Same integer type-1 rank arithmetic, identical rows.
    local = pin(ranked_local(df.select(*dict.fromkeys(asc)), asc))
    counts = sorted(
        (r["part"], r["cnt"])
        for r in local.groupBy("part").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offs, acc = [], 0
    for part, c in counts:
        offs.append((part, acc))
        acc += c
    n = acc
    offsets = df.sparkSession.createDataFrame(
        offs or [(0, 0)], "part int, off long"
    )
    ranked = (
        local.join(F.broadcast(offsets), "part")
        .withColumn("rank", F.col("off") + F.col("rank"))
        .drop("part", "off")
    )
    # rank = 1 + (p * (n - 1)) div 1000 with SQL div (truncation toward
    # zero, matching the former in-plan expression; n >= 1 on any
    # non-empty input, and an empty input joins empty regardless)
    def _trunc_div(q: int, d: int) -> int:
        return q // d if q >= 0 else -((-q) // d)

    wanted = df.sparkSession.createDataFrame(
        [(int(p), 1 + _trunc_div(int(p) * (n - 1), 1000))
         for p in sorted(set(int(p) for p in permille))],
        "permille long, rank long",
    )
    return (
        ranked.join(F.broadcast(wanted), "rank")
        .select("permille", F.col(col).alias("value"))
    )


def exact_quantiles_by(
    df: DataFrame,
    col: str,
    by: str,
    permille: tuple[int, ...] = (500, 900),
) -> DataFrame:
    """Per-group exact quantiles — (by, permille, value), same type-1
    rank contract as :func:`exact_quantiles` in integer arithmetic.

    Uses per-group windows (partitioned by ``by`` — parallel across
    groups, no global sort). Caveat at scale: one window task sees one
    group's rows, so a single giant group serializes; for the
    whole-corpus case use exact_quantiles' distributed rank instead.
    """
    if not permille or any(not 0 <= int(p) <= 1000 for p in permille):
        raise ValueError(f"permille values must be in 0..1000, got {permille}")
    w = Window.partitionBy(by)
    ranked = df.select(by, col).withColumn(
        "rn", F.row_number().over(w.orderBy(F.col(col).asc()))
    ).withColumn("n", F.count(F.lit(1)).over(w))
    ps = F.array(*[F.lit(int(p)) for p in sorted(set(int(p) for p in permille))])
    return (
        ranked.select(
            by, col, "rn", "n", F.explode(ps).alias("permille")
        )
        .where(F.col("rn") == 1 + F.expr("(permille * (n - 1)) div 1000"))
        .select(by, "permille", F.col(col).alias("value"))
    )
