"""Dynamic tile grid (theta) + tile coverage as DataFrame expressions.

Re-expresses the reference's TileGranularities / SpatialIndex pair
(reference: src/main/scala/model/TileGranularities.scala:21-47,
src/main/scala/model/structures/SpatialIndex.scala:33-47) the Spark way:

- theta = an aggregate over the SOURCE envelopes (avg extent), collected
  as two driver scalars and folded into the plan as literals. ``api.run``
  gets it from :func:`prologue`, ONE aggregate over both sides that also
  returns the source extent, the target-domain floor and, when the load
  balancer asks, each side's mean vertex count: the only driver action
  before the final query, as in the reference (TileGranularities.scala:
  33-36 is one pass over the source).
- tile coverage = ``explode(sequence(floor(min/θ), floor(max/θ)))`` per
  axis. The per-partition hash-grid index of the reference is not needed:
  the exploded equi-join on (tx, ty) IS the index, and Catalyst picks
  broadcast vs shuffle hash join per side size (the reference has no
  broadcast path at all).

Scale notes (100 TB): the explode multiplies rows by the mean tile count
per geometry (~4 with avg-extent theta), but each exploded row carries only
(id, 4 doubles, tx, ty) — the wide payload stays behind until after the
join. The prologue is one extra pass over the envelope columns of both
sides; ``api.run`` pins a side whose reading runs Python first, so that
pass and the final query read the parsed rows instead of parsing twice
(the reference persists its parsed RDDs the same way, GiantExp.scala:77).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from ds_jedai_spark.operators.measures import npoints_expr

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


ENVELOPE = ("minx", "miny", "maxx", "maxy")
# Envelope-only input (no ``coords``) is all boxes: 5 vertices a row.
BOX_VERTS = 5.0


@dataclass(frozen=True)
class Prologue:
    """What ``api.run`` needs before its final query, from one aggregate.

    ``theta`` is floored at both domains over ``GRID_CAP``; ``extent`` is
    the SOURCE (minx, miny, maxx, maxy), None on an empty source;
    ``mean_verts`` is (source, target) mean vertex count per geometry,
    None unless asked for (0.0 on an empty side)."""

    theta: tuple[float, float]
    extent: tuple[float, float, float, float] | None
    mean_verts: tuple[float, float] | None = None

    @property
    def pair_cost(self) -> float:
        """The load balancer's per-pair verification cost proxy: the
        product of the two sides' mean vertex counts."""
        return self.mean_verts[0] * self.mean_verts[1]


def _floor(theta: tuple[float, float], extent) -> tuple[float, float]:
    """theta floored at extent's domain / GRID_CAP per axis."""
    if extent is None:
        return theta
    x0, y0, x1, y1 = extent
    return max(theta[0], (x1 - x0) / GRID_CAP), max(theta[1], (y1 - y0) / GRID_CAP)


def prologue(
    source: DataFrame,
    target: DataFrame | None = None,
    mode: str = "avg",
    verts: bool = False,
) -> Prologue:
    """Theta, the source extent and (``verts``) both mean vertex counts
    from ONE aggregate: the two sides' envelope columns (plus a vertex
    count) are unioned and grouped by side, so the whole answer is one
    Exchange and one ``collect``.

    Theta modes mirror the reference ThetaOption enum
    (TileGranularities.scala:21-47): avg (recommended), min, max, avg2
    (avg x 0.5) of the SOURCE extents, floored at domain/GRID_CAP of the
    source and, when given, of the target (see the guard note above).

    The vertex mean is a full scan, so it is exactly deterministic. On a
    row-format parquet side it is one more columnar read of ``coords``,
    which the final query reads anyway."""
    w, h = F.col("maxx") - F.col("minx"), F.col("maxy") - F.col("miny")
    agg = {"avg": F.avg, "avg2": F.avg, "min": F.min, "max": F.max}[mode]

    def side(df: DataFrame, tag: int) -> DataFrame:
        cols = [F.lit(tag).alias("side"), *ENVELOPE]
        if verts:
            v = npoints_expr() if "coords" in df.columns else F.lit(BOX_VERTS)
            cols.append(v.cast("double").alias("v"))
        return df.select(*cols)

    both = side(source, 0)
    if target is not None:
        both = both.unionByName(side(target, 1))
    aggs = [agg(w).alias("tx"), agg(h).alias("ty"),
            F.min("minx").alias("x0"), F.min("miny").alias("y0"),
            F.max("maxx").alias("x1"), F.max("maxy").alias("y1")]
    if verts:
        aggs.append(F.avg("v").alias("m"))
    rows = {r["side"]: r.asDict()
            for r in both.groupBy("side").agg(*aggs).collect()}

    def extent(tag: int):
        r = rows.get(tag, {})
        return None if r.get("x0") is None else (
            r["x0"], r["y0"], r["x1"], r["y1"])

    src = rows.get(0, {})
    scale = 0.5 if mode == "avg2" else 1.0
    raw = tuple(max((src.get(k) or MIN_THETA) * scale, MIN_THETA)
                for k in ("tx", "ty"))
    theta = _floor(_floor(raw, extent(0)), extent(1))
    means = None
    if verts:
        means = tuple(float(rows.get(t, {}).get("m") or 0.0) for t in (0, 1))
    return Prologue(theta, extent(0), means)


def compute_theta(source: DataFrame, mode: str = "avg") -> tuple[float, float]:
    """Tile granularity from the source envelope extents alone (the
    source half of :func:`prologue`)."""
    return prologue(source, mode=mode).theta


def grid_blocks(extent, theta: tuple[float, float]) -> int:
    """Grid-cell count of an extent (``Prologue.extent``) under theta
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
    extents: the cross-dataset degenerate — a zero-extent source domain
    (all geometries stacked at one spot) joined against targets spanning
    a real domain — slips past the source-side floor, and the target side
    would still explode. :func:`prologue` applies the same floor to its
    target; a coarser theta is always correct."""
    return _floor(theta, prologue(other).extent)


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
