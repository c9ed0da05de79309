"""Dynamic tile grid (theta) + tile coverage as DataFrame expressions.

Re-expresses the reference's TileGranularities / SpatialIndex pair
(reference: src/main/scala/model/TileGranularities.scala:21-47,
src/main/scala/model/structures/SpatialIndex.scala:33-47) the Spark way:

- theta = one cheap aggregate over the SOURCE envelopes (avg extent),
  collected as two driver scalars and folded into the plan as literals —
  the only driver action besides final results, same as the reference.
- tile coverage = ``explode(sequence(floor(min/θ), floor(max/θ)))`` per
  axis. The per-partition hash-grid index of the reference is not needed:
  the exploded equi-join on (tx, ty) IS the index, and Catalyst picks
  broadcast vs shuffle hash join per side size (the reference has no
  broadcast path at all).

Scale notes (100 TB): the explode multiplies rows by the mean tile count
per geometry (~4 with avg-extent theta), but each exploded row carries only
(id, 4 doubles, tx, ty) — the wide payload stays behind until after the
join. Theta is an extra source pass; at scale, persist the envelope
projection or reuse a stored stats row instead.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

MIN_THETA = 1e-9


# Degenerate-theta guard: a point-dominated source has avg extent ~0,
# which would set theta near MIN_THETA and explode ANY positive-extent
# geometry into ~extent/1e-9 tiles per axis (measured: a 4-unit box ->
# 1.6e19 tiles -> executor OOM in the sequence/explode; found by the
# r11 end-to-end fuzz). Flooring theta at domain_extent/GRID_CAP bounds
# the global grid at GRID_CAP cells per axis — a coarser theta is
# always CORRECT (more candidates, never missed pairs), and on normal
# corpora (avg extent ~domain/125 in the testdata) the floor
# (domain/512) never binds, so existing plans and oracles are
# unchanged.
GRID_CAP = 512


def compute_theta(source: DataFrame, mode: str = "avg") -> tuple[float, float]:
    """Tile granularity from the source envelope extents. Modes mirror the
    reference ThetaOption enum (TileGranularities.scala:21-47):
    avg (recommended), min, max, avg2 (avg x 0.5) — floored at
    domain_extent/GRID_CAP (see the guard note above; one pass, the
    domain min/max ride in the same aggregate)."""
    return theta_and_extent(source, mode)[0]


def theta_and_extent(
    source: DataFrame, mode: str = "avg"
) -> tuple[tuple[float, float], tuple[float, float, float, float] | None]:
    """``compute_theta``'s theta plus the source's (minx, miny, maxx,
    maxy) extent, both from ONE aggregate; the extent is None on an empty
    source. Callers that also need the grid-cell count (``grid_blocks``)
    take both here instead of aggregating the source twice."""
    w, h = F.col("maxx") - F.col("minx"), F.col("maxy") - F.col("miny")
    agg = {"avg": F.avg, "avg2": F.avg, "min": F.min, "max": F.max}[mode]
    row = source.agg(
        agg(w).alias("tx"), agg(h).alias("ty"),
        F.min("minx").alias("x0"), F.min("miny").alias("y0"),
        F.max("maxx").alias("x1"), F.max("maxy").alias("y1"),
    ).collect()[0]
    extent = None if row["x0"] is None else (
        row["x0"], row["y0"], row["x1"], row["y1"])
    dw, dh = (0.0, 0.0) if extent is None else (
        extent[2] - extent[0], extent[3] - extent[1])
    scale = 0.5 if mode == "avg2" else 1.0
    theta = (
        max((row["tx"] or MIN_THETA) * scale, dw / GRID_CAP, MIN_THETA),
        max((row["ty"] or MIN_THETA) * scale, dh / GRID_CAP, MIN_THETA),
    )
    return theta, extent


def grid_blocks(extent, theta: tuple[float, float]) -> int:
    """Grid-cell count of an extent (``theta_and_extent``) under theta
    (reference GridPartitioner.computeTotalBlocks, utils/readers/
    GridPartitioner.scala:85-93); an empty input (extent None) has one
    vacuous block."""
    if extent is None:
        return 1
    (x0, y0, x1, y1), (tx, ty) = extent, theta
    nx = math.floor(x1 / tx) - math.floor(x0 / tx) + 1
    ny = math.floor(y1 / ty) - math.floor(y0 / ty) + 1
    return max(1, nx * ny)


def floor_theta(theta: tuple[float, float], other: DataFrame) -> tuple[float, float]:
    """Floor an already-computed theta by ANOTHER dataset's domain
    extents (one pruned min/max pass): the cross-dataset degenerate —
    a zero-extent source domain (all geometries stacked at one spot)
    joined against targets spanning a real domain — slips past the
    source-side floor, and the target side would still explode. Called
    by api.run on the target frame; a coarser theta is always correct."""
    row = other.agg(
        (F.max("maxx") - F.min("minx")).alias("dw"),
        (F.max("maxy") - F.min("miny")).alias("dh"),
    ).collect()[0]
    return (
        max(theta[0], (row["dw"] or 0.0) / GRID_CAP),
        max(theta[1], (row["dh"] or 0.0) / GRID_CAP),
    )


def with_tiles(df: DataFrame, theta: tuple[float, float]) -> DataFrame:
    """Explode each envelope to every (tx, ty) grid cell it overlaps."""
    tx, ty = theta
    df = df.withColumn(
        "tx",
        F.explode(
            F.sequence(
                F.floor(F.col("minx") / F.lit(tx)), F.floor(F.col("maxx") / F.lit(tx))
            )
        ),
    )
    df = df.withColumn(
        "ty",
        F.explode(
            F.sequence(
                F.floor(F.col("miny") / F.lit(ty)), F.floor(F.col("maxy") / F.lit(ty))
            )
        ),
    )
    return df
