"""Bucketed tile layout: persist once, join repeatedly without a shuffle.

At 100 TB the dominant cost of the tile join is shuffling the exploded
tile rows. For datasets joined repeatedly (a reference layer joined by
every incoming batch), persist the exploded layout bucketed by tile id:

    persist_tiled(df, "db.src_tiles", theta, buckets=1024)

Subsequent joins between two such tables are planned by Catalyst as a
SortMergeJoin over co-bucketed scans — NO Exchange on either side (the
bucketing metadata proves co-partitioning). This is the DataFrame-native
version of the reference persisting its spatially-partitioned RDDs
(experiments/GiantExp.scala:77), but it survives across jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark.model.tiles import with_tiles
from ds_jedai_spark.pins import pin


def drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS plus removal of an ORPHAN warehouse
    location. A managed table written by a previous session survives on
    disk after the in-memory catalog forgets it, and ``saveAsTable``
    then fails with LOCATION_ALREADY_EXISTS even under
    mode("overwrite") — ``pins.pin`` calls this before every table
    write so artifact rebuilds are idempotent across sessions."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[len("file:"):]
    if not wh or "://" in wh:
        return  # remote warehouse: nothing to clean locally
    parts = table.split(".")
    tbl = parts[-1].lower()
    # Managed-table layout: <warehouse>/<tbl> for the default database,
    # <warehouse>/<db>.db/<tbl> for a qualified name.
    db_dir = f"{parts[-2].lower()}.db" if len(parts) > 1 else None
    loc = os.path.join(wh, db_dir, tbl) if db_dir else os.path.join(wh, tbl)
    shutil.rmtree(loc, ignore_errors=True)


def persist_tiled(
    df: DataFrame,
    table: str,
    theta: tuple[float, float],
    buckets: int = 32,
) -> None:
    """Explode to tiles and save bucketed+sorted by (tx, ty)."""
    pin(with_tiles(df, theta), table, bucket_by=("tx", "ty"), buckets=buckets)


def persist_tiled_many(
    items: list[tuple[DataFrame, str]],
    theta: tuple[float, float],
    buckets: int = 32,
) -> None:
    """Write several tile layouts CONCURRENTLY (one driver thread per
    table): the writes are independent jobs, so submitting them together
    lets the scheduler back-fill the cores idled by each write's task
    tail instead of serializing the tails. Each write is the plain
    :func:`persist_tiled`; results are identical, tables just finish
    together. Threads carry the usual caveat that Spark job properties
    are thread-local, which is exactly what keeps the jobs separate."""
    from concurrent.futures import ThreadPoolExecutor

    if not items:
        return
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        futures = [
            pool.submit(persist_tiled, df, table, theta, buckets)
            for df, table in items
        ]
        for f in futures:
            f.result()


def bucketed_tile_join(
    spark: SparkSession,
    source_table: str,
    target_table: str,
    theta: tuple[float, float],
) -> DataFrame:
    """Candidate pairs from two bucketed tile tables — shuffle-free
    co-located join with the same envelope + ref-point semantics as
    tile_join (each pair exactly once). ``theta`` must match the value the
    tables were persisted with."""
    tx_g, ty_g = theta
    s = spark.table(source_table)
    t = spark.table(target_table)
    cols = ("id", "minx", "miny", "maxx", "maxy")
    s = s.select("tx", "ty", *[F.col(c).alias(f"s_{c}") for c in cols])
    t = t.select("tx", "ty", *[F.col(c).alias(f"t_{c}") for c in cols])
    envelope_overlap = (
        (F.col("s_minx") <= F.col("t_maxx"))
        & (F.col("t_minx") <= F.col("s_maxx"))
        & (F.col("s_miny") <= F.col("t_maxy"))
        & (F.col("t_miny") <= F.col("s_maxy"))
    )
    ref_point = (
        F.col("tx") == F.floor(F.greatest("s_minx", "t_minx") / F.lit(tx_g))
    ) & (F.col("ty") == F.floor(F.greatest("s_miny", "t_miny") / F.lit(ty_g)))
    return (
        s.join(t, on=["tx", "ty"], how="inner")
        .where(envelope_overlap & ref_point)
        .drop("tx", "ty")
    )
