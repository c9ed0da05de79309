"""Density-based spatial clustering (DBSCAN), Spark-first.

Beyond the reference's surface (DS-JedAI interlinks two datasets; it
has no clustering operator), but the natural next question over the
same spatial data — "which entities form dense groups?" — and a
standard component of large-scale data pipelines (deduplicating POI
corpora, collapsing GPS bursts, spatial blocking for entity
resolution). Implemented from the published DBSCAN definition (Ester,
Kriegel, Sander, Xu, KDD '96) on top of the engine's existing
distributed primitives, so every stage inherits their 100 TB story:

1. eps-neighborhoods  — operators/spatial_join.distance_join (the
   expanded-MBR tile join: ONE equi-join shuffle, ref-point dedup, AQE
   skew handling). |N_eps(p)| includes p itself, per the paper.
2. core points        — a groupBy degree count (map-side partial agg).
3. cluster backbone   — connected components over the core-core
   eps-graph via alternating large-star/small-star edge contraction
   (connected_components_star below; O(log^2 n) rounds on ANY
   topology; raises rather than returning a wrong clustering).
4. border attachment  — one join + min-aggregate.
5. noise              — one anti-join, label -1.

Determinism: the DBSCAN paper leaves border-point assignment to scan
order when a border sees several clusters. Distributed scan order is
not reproducible, so this implementation pins the tie-break: a border
point joins the MINIMUM cluster label among its core neighbors, and a
cluster's label is the minimum member id of its core backbone. Same
rule in the DuckDB oracle (plans/measure_plans.dbscan_stats_oracle),
so results are bit-stable across runs, partitionings, and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """(a < b) canonical, self-loop-free, distinct edge set — LAZY."""
    return (
        edges.select(F.col(edges.columns[0]).alias("a"),
                     F.col(edges.columns[1]).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"),
                F.greatest("a", "b").alias("b"))
        .distinct()
    )


def star_forest(
    edges: DataFrame, max_iter: int = 50, _pinned: bool = False
) -> DataFrame:
    """Contract ``edges`` to a DISJOINT STAR FOREST via alternating
    LARGE-STAR / SMALL-STAR rounds (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC 2014). Returns the converged canonical (a, b) edge
    set: every leaf ``b`` has exactly the edge (component-minimum, b),
    and no center is also a leaf — so ``(b -> a)`` IS the leaf label
    map, and nodes absent from the ``b`` side are their own label.
    Raises if the round budget is exhausted. ``_pinned`` (internal,
    connected_components_star) marks ``edges`` as ALREADY the pinned
    canonical set, skipping the initial canonicalize + checkpoint.

    Each round is FUSED into one checkpointed job (r18 optimization
    round): the large-star pass stays lazy WITHOUT its former
    intermediate distinct + checkpoint — duplicate edges cannot change
    the small-star min-aggregate and collapse at the round's single
    final distinct, so the edge SET each round produces is unchanged —
    and the small-star pass rides ONE window (min smaller-neighbor per
    center) + explode instead of a groupBy + join + union that scanned
    the large-star output twice. One checkpoint + one fixpoint-probe
    aggregate per round instead of two checkpoints + the probe
    (measured on the sf0.1 bench dbscan: warm 3.9-4.8 s -> 3.0-3.5 s
    end-to-end, identical labels). The r17 measurement that rejected a
    LAZY large-star applied to the then-shape (distinct kept, output
    consumed twice — the reduce-side distinct recomputed per consumer);
    the single-consumer window shape removes that double compute.

    The round count bound is topology-independent O(log^2 n) — unlike
    min-label flooding, whose round count is the component's graph
    diameter (measured: the sf0.1 eps=1.5 lattice filaments need 35
    flooding rounds but 8 star rounds; end-to-end DBSCAN there fell
    35.5 s -> 19.8 s)."""
    from pyspark.sql import Window

    from ds_jedai_spark.pins import fresh_stats_checkpoint

    e = edges if _pinned else fresh_stats_checkpoint(
        _canonical_edges(edges)
    )
    converged = False
    for _ in range(max_iter):
        # large-star: m(u) = min over u's CLOSED neighborhood; every
        # strictly larger neighbor rewires to m(u). LAZY and without a
        # dedup: duplicate (a, b) rows don't change the small-star min
        # below and collapse at the round's final distinct.
        sym = e.union(e.select(F.col("b").alias("a"),
                               F.col("a").alias("b")))
        mn = (sym.groupBy("a").agg(F.min("b").alias("m"))
              .select("a", F.least("m", "a").alias("m")))
        e1 = (
            sym.where(F.col("b") > F.col("a"))
            .join(mn, "a")
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
            .where(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"),
                    F.greatest("x", "y").alias("b"))
        )
        # small-star on the canonical (a < b) orientation: center u = b
        # side, smaller neighbors = a side, m2 = min(a's) < u always.
        # ONE window pass computes m2; explode emits the leaf rows
        # (a -> m2) and the center row (b -> m2, deduped by the
        # distinct) — the former groupBy + join + union scanned e1
        # twice.
        m2 = F.min("a").over(Window.partitionBy("b"))
        small = (
            e1.withColumn("m2", m2)
            .select(F.explode(F.array("a", "b")).alias("x"),
                    F.col("m2").alias("y"))
            .where(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"),
                    F.greatest("x", "y").alias("b"))
            .distinct()
        )
        e2 = fresh_stats_checkpoint(small)
        # fixpoint: disjoint star forest — one aggregate (docstring)
        sides = e2.select(F.col("a").alias("v"), F.lit(0).alias("s")) \
            .union(e2.select(F.col("b").alias("v"), F.lit(1).alias("s")))
        viol = (
            sides.groupBy("v")
            .agg(F.count(F.when(F.col("s") == 1, 1)).alias("nb"),
                 F.countDistinct("s").alias("ns"))
            .where((F.col("nb") > 1) | (F.col("ns") > 1))
            .limit(1).count()
        )
        e = e2
        if viol == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_iter} rounds; raise max_iter"
        )
    return e


def connected_components_star(
    edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Connected components over ``edges`` (any orientation, self-loops
    ignored): (node, label) for every node incident to an edge, label =
    the component's minimum node id. Thin wrapper over
    :func:`star_forest`; callers that follow with a
    ``coalesce(label, node)`` against their own node set (dbscan,
    dedup.duplicate_clusters) should use ``star_forest`` directly —
    the centers anti-join below is redundant under a coalesce, since a
    center's label is its own id."""
    from ds_jedai_spark.pins import fresh_stats_checkpoint

    e0 = fresh_stats_checkpoint(_canonical_edges(edges))
    e = star_forest(e0, max_iter=max_iter, _pinned=True)
    nodes = e0.select(F.col("a").alias("node")).union(
        e0.select(F.col("b").alias("node"))).distinct()
    # stars: every non-center node has exactly the edge (center, node)
    labels = e.select(F.col("b").alias("node"), F.col("a").alias("label"))
    centers = nodes.join(
        labels.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("label"))
    return labels.unionByName(centers)


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    theta: tuple[float, float] | None = None,
    max_iter: int = 100,
    geodesic: bool = False,
    use_center: bool = False,
) -> DataFrame:
    """Cluster a POINT dataset: returns (id, cluster) with cluster = the
    minimum core-point id of the cluster's backbone component, or -1
    for noise. ``eps`` is Euclidean (planar) distance in the dataset's
    own units; ``min_pts`` counts the point itself (the KDD '96
    convention: p is core iff |N_eps(p)| >= min_pts).
    ``geodesic=True`` treats ``eps`` as great-circle METERS over
    lon/lat points (the eps-graph runs through
    geodesic_distance_join, so meridian convergence and antimeridian
    crossings are handled — GPS-burst clustering without a projection
    step). The label column
    has the id column's type — "minimum" is the id type's own ordering
    (numeric for numeric ids, lexicographic for string ids), and the
    noise sentinel -1 is cast to it ('-1' for string ids).

    The eps-graph is materialized once (localCheckpoint) — it feeds the
    degree count, the core-core edge set, and border attachment; at
    scale it is the single tile-join shuffle plus (id, id, dist2) rows.

    ``use_center=True`` (r17) clusters an ENVELOPE/geometry corpus by
    its envelope CENTERS — the documented reduction for non-point
    inputs (the planar distance predicate is between representative
    points, same anchoring as grid_density's count mode). Without it,
    the input must already be points (minx == maxx, miny == maxy);
    the geodesic path's in-plan guard raises on violations.

    ``max_iter`` bounds the star-contraction rounds; contraction exits
    EARLY at the fixpoint, so the generous default (100) costs nothing.
    Density clusters can span the whole dataset (the sf0.1 lattice
    forms filaments hundreds of hops long); min-label FLOODING would
    need one round per hop of the largest cluster's eps-graph diameter
    (measured 35 rounds there), while the star contraction closes the
    same instance in 8 rounds and is O(log^2 n) on any topology —
    that bound, not the diameter, is what survives a 100 TB cluster
    with continent-spanning components. Rounds stay flat-cost
    regardless of count thanks to pins.fresh_stats_checkpoint
    (see its docstring for the exponential Catalyst-stats stall that
    plain localCheckpoint causes in self-joining loops).
    """
    from ds_jedai_spark.operators.spatial_join import (
        distance_join,
        geodesic_distance_join,
    )

    if use_center:
        points = points.selectExpr(
            "id",
            "(minx + maxx) / 2.0 AS cx", "(miny + maxy) / 2.0 AS cy",
        ).selectExpr("id", "cx AS minx", "cy AS miny",
                     "cx AS maxx", "cy AS maxy")

    from pyspark.sql import Window

    from ds_jedai_spark.pins import fresh_stats_checkpoint, pin

    # symmetric eps-neighbor pairs, self-pairs included. The pin carries
    # each source's DEGREE (one window pass inside the pin job, r18):
    # the former separate degree groupBy + pinned cores table — and the
    # two core semi-joins plus the border anti-join it fed — all become
    # plain filters on the pinned rows, and the degree never recomputes
    # downstream (the at-scale concern that kept the cores pin in r17).
    # The distance column is dropped: nothing downstream reads it.
    if geodesic:
        nbr = geodesic_distance_join(points, points, eps, theta)
    else:
        nbr = distance_join(points, points, eps, theta)
    nbr = pin(
        nbr.select("s_id", "t_id")
        .withColumn(
            "ns", F.count(F.lit(1)).over(Window.partitionBy("s_id"))
        )
    )
    core = F.col("ns") >= int(min_pts)

    # core-core backbone edges: the graph is symmetric, so each
    # direction of a neighbor pair contributes its canonical (a < b)
    # form iff ITS source is core — count == 2 iff BOTH endpoints are
    # core. One groupBy replaces the former two semi-joins AND yields
    # the edge set already canonical + distinct, so star_forest's
    # initial canonicalize pass folds into this checkpoint (_pinned).
    ce = (
        nbr.where(core & (F.col("s_id") != F.col("t_id")))
        .select(F.least("s_id", "t_id").alias("a"),
                F.greatest("s_id", "t_id").alias("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
        .where(F.col("c2") == 2)
        .select("a", "b")
    )
    e0 = fresh_stats_checkpoint(ce)
    # star_forest's (b -> a) edge map labels every LEAF core; centers
    # and isolated cores both coalesce to their own id, so the wrapper's
    # centers anti-join is redundant here (r17 optimization round: the
    # assembly plan fell from 50 Exchanges to a single left-join chain)
    leaf_lbl = star_forest(e0, max_iter=max_iter, _pinned=True).select(
        F.col("b").alias("id"), F.col("a").alias("label")
    )
    core_ids = nbr.where(core & (F.col("s_id") == F.col("t_id"))) \
        .select(F.col("s_id").alias("id"))
    core_lbl = (
        core_ids.join(leaf_lbl, "id", "left")
        .select("id", F.coalesce("label", "id").alias("cluster"))
    )

    border = (
        nbr.where((~core) & (F.col("s_id") != F.col("t_id")))
        .join(
            core_lbl.select(F.col("id").alias("t_id"), "cluster"), "t_id"
        )
        .groupBy("s_id")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("s_id").alias("id"), "cluster")
    )
    labeled = core_lbl.unionByName(border)
    # one left join instead of anti-join + union: labeled ids are unique
    # (cores and non-core borders are disjoint), so every point picks up
    # its label or the noise sentinel — and the ``labeled`` subtree
    # appears ONCE in the plan instead of twice
    return (
        points.select("id")
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce(
                "cluster",
                F.lit(-1).cast(labeled.schema["cluster"].dataType),
            ).alias("cluster"),
        )
    )


def dbscan_sql(
    points_sql: str, eps: float, min_pts: int, geodesic: bool = False
) -> str:
    """ANSI-SQL equivalent of :func:`dbscan` (the DuckDB oracle): the
    same construction with the cluster backbone's connected components
    as a recursive-CTE transitive closure (min reachable core id). The
    closure materializes |C|^2 rows per backbone component — fine for
    oracle-scale data, which is exactly why the distributed path uses
    large-star/small-star contraction instead. ``geodesic`` switches
    the neighbor predicate to the shared haversine text (meters)."""
    if geodesic:
        from ds_jedai_spark.operators.measures import haversine_sql

        cond = (f"{haversine_sql('a.minx', 'a.miny', 'b.minx', 'b.miny')}"
                f" <= {float(eps)!r}")
    else:
        e2 = float(eps) * float(eps)
        cond = (f"(a.minx - b.minx) * (a.minx - b.minx)"
                f" + (a.miny - b.miny) * (a.miny - b.miny) <= {e2!r}")
    return f"""
WITH RECURSIVE pts AS ({points_sql}),
nbr AS (
  SELECT a.id AS a, b.id AS b FROM pts a JOIN pts b
  ON {cond}
),
core AS (SELECT a AS id FROM nbr GROUP BY a HAVING count(*) >= {int(min_pts)}),
ce AS (
  SELECT n.a, n.b FROM nbr n
  JOIN core ca ON n.a = ca.id JOIN core cb ON n.b = cb.id
  WHERE n.a <> n.b
),
reach AS (
  SELECT id, id AS lbl FROM core
  UNION
  SELECT ce.b AS id, reach.lbl FROM reach JOIN ce ON reach.id = ce.a
),
clab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
border AS (
  SELECT n.a AS id, min(c.cluster) AS cluster FROM nbr n
  JOIN clab c ON n.b = c.id
  WHERE n.a <> n.b AND n.a NOT IN (SELECT id FROM core)
  GROUP BY n.a
),
lab AS (SELECT id, cluster FROM clab UNION ALL SELECT id, cluster FROM border)
SELECT p.id AS id, CAST(COALESCE(lab.cluster, -1) AS BIGINT) AS cluster
FROM pts p LEFT JOIN lab ON p.id = lab.id
"""
