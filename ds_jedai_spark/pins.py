"""Pins: how a reused intermediate is materialised, cached and released.

The reference persists each intermediate it reuses once and reads it
back (experiments/GiantExp.scala:77). This module is the engine's one
form of that decision:

- :func:`pin` materialises a frame, either as an eager localCheckpoint
  (the single-job form) or as a managed table that outlives the job.
- :func:`fresh_stats_checkpoint` is the pin for iterative self-joining
  loops, whose rounds would otherwise compound Catalyst's estimates.
- :func:`cached` holds the cross-query artifacts (pinned shingles, the
  trained ANN index, the meta-blocking graph, the sampled theta) with
  one live entry per slot, and :func:`clear` releases them.
"""

from __future__ import annotations

from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def pin(
    df: DataFrame,
    table: str | None = None,
    bucket_by: tuple[str, ...] = (),
    buckets: int = 32,
) -> DataFrame:
    """Materialise a multi-use intermediate and return a frame over it.

    ``table=None`` is the single-job form: an eager localCheckpoint.
    Every self-join or fan-out would otherwise recompute its full
    upstream per branch — the LSH plan references the shingle table
    four times and the candidate set twice (measured ~3x end-to-end).
    Plain ``persist()`` is not enough: cache substitution matches
    analyzed subtrees, and self-union / self-join consumers fail the
    lookup (observed: zero InMemoryTableScan in the candidate plan), so
    the checkpoint's lineage truncation is what guarantees reuse.
    Local-checkpoint blocks live on the executors and CANNOT be
    recomputed from lineage: losing an executor that holds one fails
    every query that reads the pin. This is weaker than the reference's
    persisted RDDs, which recompute lost partitions.

    A ``table`` name is the multi-job form: the table is dropped
    (orphaned warehouse location included, see
    ``io.bucketed.drop_table_and_location``), rewritten, and read back.
    With ``bucket_by`` it is bucketed and sorted by those columns, so
    later joins on them plan with no Exchange on the bucketed side
    (Catalyst proves co-partitioning from the bucket spec).
    ``bucket_by`` and ``buckets`` apply to tables only."""
    if table is None:
        return df.localCheckpoint()
    from ds_jedai_spark.io.bucketed import drop_table_and_location

    spark = df.sparkSession
    drop_table_and_location(spark, table)
    w = df.write.mode("overwrite")
    if bucket_by:
        w = w.bucketBy(buckets, *bucket_by).sortBy(*bucket_by)
    w.saveAsTable(table)
    return spark.table(table)


def fresh_stats_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint whose result does NOT inherit the origin
    plan's estimated statistics — the pin for ITERATIVE algorithms.

    ``Dataset.localCheckpoint`` truncates the LINEAGE but seeds the
    resulting LogicalRDD with the origin plan's ESTIMATED statistics.
    In an iterative algorithm whose round joins a frame with itself
    (label propagation, semi-naive transitive closure), the next
    round's estimate multiplies two copies of the inherited estimate —
    so sizeInBytes roughly SQUARES every round. The statistic is an
    unbounded BigInteger: measured on this engine's connected-components
    loop (sf0.1, 15k nodes, 206k edges), its decimal digits double per
    round (26 -> 65 -> 141 -> ... -> 2439 by round 6), and from round
    ~16 the driver stalls inside ``SizeInBytesOnlyStatsPlanVisitor``
    multiplying million-digit numbers via Karatsuba/Toom-Cook —
    wall-clock DOUBLES per round (0.9s at round 15, 280s at round 22)
    with ZERO jobs running (statusTracker shows no active stages; jstack
    shows BigInteger.multiply under Dataset.checkpoint). Persisting
    instead of checkpointing does not help: the logical plan then grows
    by one round per iteration and analysis + cache-lookup costs take
    over.

    The fix: localCheckpoint (materialize + truncate) and then REBUILD
    the DataFrame from the materialized InternalRow RDD via
    ``internalCreateDataFrame`` — the rebuilt LogicalRDD carries the
    session default sizeInBytes (spark.sql.defaultSizeInBytes =
    Long.MaxValue) instead of the inherited estimate, so round cost
    stays FLAT no matter how many rounds run. The default also means
    frames pinned this way are never auto-broadcast — irrelevant for
    propagation loops (the label frame joins shuffle-side anyway, and
    the huge inherited estimates prevented broadcast too).

    JVM-only: the internals used here exist on pyspark 4.x classic
    sessions but are NOT public API — the guards below turn a pyspark
    upgrade or a connect-mode session into a diagnosable error instead
    of an AttributeError deep inside an iteration loop. The graceful
    fallback is plain localCheckpoint: correct, just exposed to the
    stats-squaring stall past ~16 rounds."""
    ck = df.localCheckpoint()
    try:
        # connect-mode DataFrames have no _jdf; classic module layout
        # is pyspark>=4.0 (pyspark.sql.classic) — probe both up front
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        jdf = ck._jdf
        jspark = df.sparkSession._jsparkSession
        fresh = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return _CDF(fresh, df.sparkSession)
    except (ImportError, AttributeError) as exc:  # pragma: no cover
        import warnings

        warnings.warn(
            "fresh_stats_checkpoint: pyspark internals moved "
            f"({exc!r}; supported: pyspark 4.x classic sessions) — "
            "falling back to plain localCheckpoint; iterative loops "
            "beyond ~16 rounds may hit the Catalyst stats-squaring "
            "driver stall documented in ds_jedai_spark/pins.py",
            RuntimeWarning,
            stacklevel=2,
        )
        return ck


# slot -> ((applicationId, sf_dir), artifact)
_SLOTS: dict[str, tuple[tuple[str, str], object]] = {}


def cached(
    spark: SparkSession, slot: str, sf_dir: str, build: Callable[[], T]
) -> T:
    """The artifact in ``slot`` for this (session, sf_dir), built by
    ``build()`` on a miss. Each slot holds ONE live entry: a miss drops
    the slot's previous artifact before building, so pins made for a
    stale (session, sf_dir) do not accumulate for the application's
    lifetime."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _SLOTS.get(slot)
    if hit is not None and hit[0] == key:
        return hit[1]
    _SLOTS.pop(slot, None)
    value = build()
    _SLOTS[slot] = (key, value)
    return value


def clear(keep: tuple[str, ...] = ()) -> None:
    """Drop every cached artifact except the slots in ``keep``, then
    release the dropped pins' checkpoint blocks. A dropped
    localCheckpoint frees its executor blocks only after a JVM GC lets
    the ContextCleaner see the dead reference, and a large heap can go
    a whole run without one — measured: repeated re-pinning reps
    drifted 2.8 s -> 38 s as dead blocks accumulated, while a forced GC
    holds them at steady state. Call it outside any timed region."""
    import gc

    from pyspark import SparkContext

    for slot in [s for s in _SLOTS if s not in keep]:
        del _SLOTS[slot]
    gc.collect()
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc._jvm.System.gc()
