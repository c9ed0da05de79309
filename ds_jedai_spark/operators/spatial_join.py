"""The GIA.nt spatial join, Spark-first.

Reference pipeline (src/main/scala/linkers/GIAnt.scala:32-37 +
linkers/LinkerT.scala:30-84): per spatial partition, build a hash-grid
index over SOURCE tiles, probe each TARGET, filter by envelope overlap +
reference point, verify with geometry.relate.

PySpark-native re-expression: tile coverage is exploded on both sides and
the per-partition index becomes a plain equi-join on (tx, ty) — Catalyst's
hash join IS the index, and it picks broadcast when one exploded side is
small (a capability the reference lacks entirely). Duplicate pairs arising
from multi-tile overlap are eliminated with the reference-point technique
(LinkerT.scala:30-41): a pair is kept only in the single tile that contains
the bottom-left corner of the envelope intersection, so no post-join
``dropDuplicates`` (i.e., no second shuffle) is needed.

Scale notes: the join shuffles only (id, 4 doubles) per exploded row; AQE
handles skewed tiles (dense cells) via skew-join splitting. For repeated
joins against the same source at 100 TB, persist the exploded source
bucketed by (tx, ty) to make this a shuffle-free co-located join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ds_jedai_spark.model.tiles import compute_theta, with_tiles
from ds_jedai_spark.pins import pin


def _prefix(df: DataFrame, p: str, extra: tuple[str, ...] = ()) -> DataFrame:
    cols = ("id", "minx", "miny", "maxx", "maxy") + extra
    return df.select(*[F.col(c).alias(f"{p}{c}") for c in cols])


def tile_join(
    source: DataFrame,
    target: DataFrame,
    theta: tuple[float, float] | None = None,
    source_extra: tuple[str, ...] = (),
    target_extra: tuple[str, ...] = (),
    probe_parts: int | str | None = "auto",
) -> DataFrame:
    """Candidate pairs whose envelopes intersect — each pair exactly once.

    Returns columns s_id, s_minx..s_maxy [, s_<extra>], t_id, t_minx..t_maxy
    [, t_<extra>]. Every returned pair satisfies the envelope-intersection
    filter; verification predicates are applied downstream.

    ``probe_parts`` round-robin-repartitions the probe (target) input
    BEFORE the tile explode. On the broadcast path the probe side's
    explode + join + everything fused after them inherit the scan's file
    partitioning — a single small input file (a few MB of keys exploding
    to tens of millions of candidate rows) otherwise runs the whole map
    side on ONE core (measured 1.7x on the sf0.1 flagship counts, and
    the difference between 1 and 32 cores for any fused verification).
    ``"auto"`` (default) spreads only when the probe's static partition
    count is below half the shuffle parallelism: a real cluster-scale
    table scans as thousands of splits and keeps its exchange-free plan,
    while a small dimension-derived probe (the only case where fan-out
    per input row is extreme) gets the cheap compact-row shuffle. The
    static count is reliable here because the probe is read straight off
    a scan, not an AQE-coalesced exchange."""
    if theta is None:
        theta = compute_theta(source)
    tx, ty = theta

    def tiled(df: DataFrame, p: str, extra: tuple[str, ...]) -> DataFrame:
        cols = ("id", "minx", "miny", "maxx", "maxy") + extra
        df = with_tiles(df.select(*cols), theta)
        return df.select("tx", "ty", *[F.col(c).alias(f"{p}{c}") for c in cols])

    if probe_parts == "auto":
        from ds_jedai_spark.operators.ranking import shuffle_parts

        want = shuffle_parts(target)
        have = target.rdd.getNumPartitions()
        probe_parts = want if have < max(2, want // 2) else None
    if probe_parts:
        target = target.repartition(probe_parts)
    s = tiled(source, "s_", source_extra)
    t = tiled(target, "t_", target_extra)

    envelope_overlap = (
        (F.col("s_minx") <= F.col("t_maxx"))
        & (F.col("t_minx") <= F.col("s_maxx"))
        & (F.col("s_miny") <= F.col("t_maxy"))
        & (F.col("t_miny") <= F.col("s_maxy"))
    )
    # Reference-point dedup: the bottom-left corner of the envelope
    # intersection lies in exactly one grid cell, and both sides were
    # exploded to that cell — keep the pair there only.
    ref_point = (
        F.col("tx") == F.floor(F.greatest("s_minx", "t_minx") / F.lit(tx))
    ) & (F.col("ty") == F.floor(F.greatest("s_miny", "t_miny") / F.lit(ty)))

    joined = s.join(t, on=["tx", "ty"], how="inner").where(envelope_overlap & ref_point)
    return joined.drop("tx", "ty")


def brute_force_join(
    source: DataFrame,
    target: DataFrame,
    source_extra: tuple[str, ...] = (),
    target_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-join + envelope filter — the naive equivalence baseline used by
    tests (the reference's IntersectionMatrixTest pattern: optimized path
    must equal the naive path)."""
    s = _prefix(source, "s_", source_extra)
    t = _prefix(target, "t_", target_extra)
    cond = (
        (F.col("s_minx") <= F.col("t_maxx"))
        & (F.col("t_minx") <= F.col("s_maxx"))
        & (F.col("s_miny") <= F.col("t_maxy"))
        & (F.col("t_miny") <= F.col("s_maxy"))
    )
    return s.crossJoin(t).where(cond)


def distance_join(
    source: DataFrame,
    target: DataFrame,
    radius: float,
    theta: tuple[float, float] | None = None,
) -> DataFrame:
    """Pairs of POINT entities within Euclidean ``radius`` — the standard
    expanded-MBR distance join (beyond the reference's surface; the same
    tile machinery the envelope join uses, so it inherits its scale
    contract: one equi-join shuffle on tiles, ref-point dedup, AQE skew
    handling).

    Both inputs must be point datasets (minx == maxx, miny == maxy). The
    source envelope is expanded by ``radius`` so the tile join yields a
    superset, then the exact squared-distance predicate filters — all
    JVM column arithmetic, exact on lattice coordinates with a lattice
    radius (radius² sums stay inside exact double-integer range).

    ``theta=None`` uses the CLOSED FORM (2·radius, 2·radius) instead of
    ``compute_theta`` (r17 optimization round): every expanded source
    envelope is exactly 2r × 2r, so the data-derived avg-extent theta
    IS 2r — no aggregate action over the corpus needed — and the
    GRID_CAP explosion guard is vacuous here (each source row covers at
    most 2×2 tiles at this theta, each target point exactly one,
    whatever the domain extent). Pair results are theta-invariant by
    the ref-point dedup + exact distance predicate (differentially
    tested), so only the plan changes: one fewer action per join.
    """
    if theta is None:
        from ds_jedai_spark.model.tiles import MIN_THETA

        t = max(2.0 * float(radius), MIN_THETA)
        theta = (t, t)
    expanded = source.select(
        "id",
        (F.col("minx") - radius).alias("minx"),
        (F.col("miny") - radius).alias("miny"),
        (F.col("maxx") + radius).alias("maxx"),
        (F.col("maxy") + radius).alias("maxy"),
        F.col("minx").alias("px"),
        F.col("miny").alias("py"),
    )
    cand = tile_join(
        expanded, target, theta=theta, source_extra=("px", "py")
    )
    dx = F.col("s_px") - F.col("t_minx")
    dy = F.col("s_py") - F.col("t_miny")
    return (
        cand.withColumn("dist2", dx * dx + dy * dy)
        .where(F.col("dist2") <= F.lit(radius) * F.lit(radius))
        .select("s_id", "t_id", "dist2")
    )


def _lonlat_point_guard(df: DataFrame, side: str) -> DataFrame:
    """Fuse a per-row point-ness + domain assertion into the plan: minx
    must equal maxx (and miny maxy), lon in [-180, 180], lat in
    [-90, 90], nothing null/NaN. ``assert_true`` raises inside the JVM
    with a named-side message on the first violating row; the
    ``coalesce`` keeps the (always-null-when-true) assertion inside a
    USED expression so Catalyst cannot prune it. One codegen branch per
    row — measured noise next to the haversine itself."""
    ok = (
        "minx = maxx AND miny = maxy AND NOT isnan(minx) AND NOT "
        "isnan(miny) AND minx >= -180.0d AND minx <= 180.0d AND "
        "miny >= -90.0d AND miny <= 90.0d"
    )
    msg = (f"geodesic_distance_join: {side} row is not a lon/lat POINT "
           "(need minx == maxx, miny == maxy, lon in [-180, 180], lat "
           "in [-90, 90]) — envelopes/geometries need a planar join or "
           "an upstream centroid/reproject step")
    return df.withColumn(
        "minx", F.expr(f"coalesce(assert_true({ok}, '{msg}'), minx)")
    )


def geodesic_distance_join(
    source: DataFrame,
    target: DataFrame,
    radius_m: float,
    theta: tuple[float, float] | None = None,
    validate: bool = True,
) -> DataFrame:
    """Pairs of lon/lat POINT entities within great-circle ``radius_m``
    METERS — the "everything within 500 m" join real lon/lat data needs
    (the planar distance_join above would compute degrees² there, the
    classic footgun the measures ``unit`` column labels).

    Same scale contract as distance_join: a conservative per-row DEGREE
    expansion of the source envelope makes the tile join a superset
    (one equi-join shuffle on tiles, ref-point dedup, AQE skew
    handling), then the EXACT haversine predicate trims — all JVM
    column arithmetic, no Python. The expansion is latitude-aware:

        dlat = degrees(r / R)
        dlon = degrees(r / (R * cos(min(89.999°, |lat| + dlat))))

    (meridians converge, so a meter buys fewer lon-degrees near the
    poles; the cos of the band's worst latitude keeps the envelope
    conservative, clamped to the full ±180 when the band touches a
    pole).

    ANTIMERIDIAN: an expanded envelope that spills past lon ±180 is
    SPLIT into its wrapped pieces (a source at 179.9° reaches a target
    at -179.9°): the spilled degrees re-enter from the other edge as a
    second candidate envelope, so seam-crossing pairs tile-match like
    any others. The pieces are lon-disjoint and targets are points, so
    no (s, t) pair can match twice — the ref-point dedup contract is
    preserved without any extra distinct. A full-circle expansion
    (polar band, or 2·dlon ≥ 360°) collapses to one [-180, 180] piece.
    The exact trim is the same haversine SQL text as the geodesic
    measures (operators/measures.haversine_sql) on the MEAN_R sphere;
    sin²(Δlon/2) is seam-invariant, so no wrapping is needed there.

    Both inputs must be lon/lat point datasets (minx == maxx etc., x in
    [-180, 180], y in [-90, 90]); a declared non-4326 CRS raises, the
    same guard as with_measures(geodesic=True), and under the default
    ``validate=True`` a fused JVM assertion raises on the first row
    that is not an in-domain point (otherwise envelope input would
    silently yield corner-to-corner distances).
    """
    from ds_jedai_spark.operators.measures import MEAN_R, haversine_sql

    for side, df in (("source", source), ("target", target)):
        crs = (df.schema["gtype"].metadata or {}).get("crs") \
            if "gtype" in df.columns else None
        if crs not in (None, "EPSG:4326", "OGC:CRS84"):
            raise ValueError(
                f"geodesic_distance_join: {side} declares {crs!r}; "
                "lon/lat (EPSG:4326) input required — reproject first "
                "(-op reproject)"
            )
    if validate:
        source = _lonlat_point_guard(source, "source")
        target = _lonlat_point_guard(target, "target")
    r = float(radius_m)
    dlat = f"degrees({r!r} / {MEAN_R!r})"
    band = f"least(89.999d, abs(miny) + {dlat})"
    dlon = (f"CASE WHEN {band} >= 89.998d THEN 180.0d ELSE "
            f"least(180.0d, degrees({r!r} / ({MEAN_R!r} * "
            f"cos(radians({band}))))) END")
    # Antimeridian split: emit 1 or 2 lon-clamped envelope pieces per
    # source row. Pieces are disjoint in [-180, 180] (the two-piece
    # branches touch the opposite edges only), and 2·dlon >= 360° takes
    # the single full-circle branch, so no pair is ever duplicated.
    piece = (
        "CASE "
        "WHEN (maxx - minx) + 2.0d * ({dlon}) >= 360.0d THEN "
        " array(struct(-180.0d AS mnx, 180.0d AS mxx)) "
        "WHEN minx - ({dlon}) < -180.0d THEN "
        " array(struct(-180.0d AS mnx, maxx + ({dlon}) AS mxx), "
        "       struct(minx - ({dlon}) + 360.0d AS mnx, 180.0d AS mxx)) "
        "WHEN maxx + ({dlon}) > 180.0d THEN "
        " array(struct(minx - ({dlon}) AS mnx, 180.0d AS mxx), "
        "       struct(-180.0d AS mnx, maxx + ({dlon}) - 360.0d AS mxx)) "
        "ELSE array(struct(minx - ({dlon}) AS mnx, maxx + ({dlon}) AS mxx)) "
        "END"
    ).format(dlon=dlon)
    expanded = source.selectExpr(
        "id",
        f"inline({piece})",
        f"miny - ({dlat}) AS miny",
        f"maxy + ({dlat}) AS maxy",
        "minx AS px",
        "miny AS py",
    ).selectExpr(
        "id", "mnx AS minx", "miny", "mxx AS maxx", "maxy", "px", "py"
    )
    cand = tile_join(
        expanded, target, theta=theta, source_extra=("px", "py")
    )
    hav = haversine_sql("s_px", "s_py", "t_minx", "t_miny")
    return (
        cand.withColumn("dist_m", F.expr(hav))
        .where(F.col("dist_m") <= F.lit(r))
        .select("s_id", "t_id", "dist_m")
    )


def knn_join_exact_geodesic(
    source: DataFrame,
    target: DataFrame,
    k: int,
    r0_m: float = 25_000.0,
    growth: float = 4.0,
    rmax_m: float = 2.1e7,
    self_join: bool = False,
) -> DataFrame:
    """EXACT great-circle k-nearest-neighbors join over lon/lat POINT
    datasets — the geodesic sibling of knn_join_exact, with the same
    iterative radius-expansion proof: once a source has >= k candidates
    within round radius r METERS, its true k nearest all lie within r,
    so its per-source top-k is final. The default ``rmax_m`` exceeds
    half the Earth's circumference (pi * R ~ 2.002e7 m), so the last
    round always resolves every source with any neighbor at all.

    Each round is one geodesic_distance_join (latitude-aware degree
    expansion + antimeridian split + exact haversine — all JVM), so
    meridian convergence, seam-crossing neighbors, and the polar
    full-circle case are all handled per round. Returns (s_id, t_id,
    dist_m, dist_mm): ranking uses integer MILLIMETERS then t_id — the
    cross-engine-stable order (two engines' libm can disagree in the
    last ulp of a haversine; a float orderBy could then pick different
    k-th neighbors for mathematically tied distances, while mm-rounded
    ties break on t_id identically everywhere).

    The done-criterion is STRICT in millimeters: a source finalizes in
    a round only once >= k candidates sit at dist_mm <= round(r) - 1 mm,
    not merely within r. This closes the sub-millimeter boundary case:
    a target just beyond r whose distance ROUNDS to the same millimeter
    as the in-radius k-th (invisible this round, possibly smaller t_id)
    can otherwise alter the global (dist_mm, t_id) order the oracle
    computes. With the strict bound, every target tying the k-th's
    dist_mm is provably within r, so the per-round top-k equals the
    global one exactly; boundary-sitting sources just take one more
    round.
    """
    from pyspark.sql import Window

    rounds: list[DataFrame] = []
    remaining = source
    r = float(r0_m)
    first = True
    while True:
        cand = geodesic_distance_join(
            remaining, target, r, validate=first
        )
        first = False
        if self_join:
            cand = cand.where(F.col("s_id") != F.col("t_id"))
        cand = cand.withColumn(
            "dist_mm", F.round(F.col("dist_m") * 1000.0).cast("bigint")
        )
        r_mm = round(r * 1000.0)
        # One window pass carries ranking AND the strict-mm resolution
        # count (r17 optimization round, mirroring knn_join_exact): nc
        # sums the strictly-in-radius candidates over the same s_id
        # partitioning the ordered window already established — the
        # former counts groupBy + done semi-join (2 extra Exchanges +
        # a join per round) fold away. Identical row set. The round pin
        # sits ABOVE the window (r18): the RANKED frame is what both
        # consumers (the per-round output and the done/remaining probe)
        # read, so pinning it runs the window once per round instead of
        # once per consumer — two fewer Exchange+Sort executions per
        # round for two extra int columns in the checkpoint.
        w = Window.partitionBy("s_id").orderBy("dist_mm", "t_id")
        wc = Window.partitionBy("s_id")
        ranked = pin(
            cand.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "nc",
                F.sum(
                    F.when(F.col("dist_mm") <= F.lit(r_mm - 1), 1)
                    .otherwise(0)
                ).over(wc),
            )
        )
        if r >= rmax_m:
            # terminal radius exceeds any possible great-circle
            # distance: every candidate set is complete, no boundary
            rounds.append(
                ranked.where(F.col("rn") <= k)
                .select("s_id", "t_id", "dist_m", "dist_mm")
            )
            break
        rounds.append(
            ranked.where((F.col("rn") <= k) & (F.col("nc") >= k))
            .select("s_id", "t_id", "dist_m", "dist_mm")
        )
        done = ranked.where(
            (F.col("rn") == 1) & (F.col("nc") >= k)
        ).select("s_id")
        remaining = remaining.join(
            done.withColumnRenamed("s_id", "id"), "id", "left_anti"
        )
        if remaining.isEmpty():
            break
        r *= growth
    out = rounds[0]
    for part in rounds[1:]:
        out = out.unionByName(part)
    return out


KNN_TILES_PER_SIDE = 8.0


def _round_theta(
    theta: tuple[float, float] | None, r: float
) -> tuple[float, float] | None:
    """Coarsen the tile granularity with the round radius so an expanded
    envelope (side ~2r) explodes to at most ~KNN_TILES_PER_SIDE tiles
    per side, every round. With a fixed fine theta the final round costs
    (2*rmax/theta)^2 exploded rows per unresolved source — fine while
    stragglers are few, pathological for an isolated-cluster corpus.
    None passes through: tile_join then computes theta from the expanded
    envelopes themselves (avg width ~2r), which is already radius-
    proportional."""
    if theta is None:
        return None
    side = 2.0 * r / KNN_TILES_PER_SIDE
    return (max(theta[0], side), max(theta[1], side))


def knn_join_exact(
    source: DataFrame,
    target: DataFrame,
    k: int,
    theta: tuple[float, float] | None = None,
    r0: float = 1.0,
    growth: float = 4.0,
    rmax: float = 256.0,
    self_join: bool = False,
) -> DataFrame:
    """EXACT k-nearest-neighbors join via iterative radius expansion.

    ``self_join=True`` excludes same-id pairs — a SELF-join convention
    (an entity is trivially its own nearest neighbor). It is opt-in:
    for two independent datasets whose id spaces happen to overlap, a
    same-id target can be a true nearest neighbor and must stay in
    (matching -op distance, which never drops such pairs).

    Round i runs the expanded-MBR distance join at radius r0 * growth^i
    for the still-unresolved sources only. A source is resolved once it
    has >= k candidates within the round radius r — then its true k
    nearest all lie within r (k points at distance <= r bound the k-th NN
    distance), so its per-source top-k is final and exact. Unresolved
    sources carry to the next round; the final round (r >= rmax, chosen
    >= the domain diameter) resolves everything with any neighbor at all.

    The round count is a STATIC function of (r0, growth, rmax) — no
    driver-side convergence action; each round is one tile equi-join plus
    a per-source window, and the union across rounds covers disjoint
    source sets. Tile granularity coarsens with the radius
    (``_round_theta``) so exploded tiles per source stay O(1) at every
    round. The oracle contract is plain all-pairs kNN."""
    from pyspark.sql import Window

    rounds: list[DataFrame] = []
    remaining = source
    r = r0
    while True:
        # Pin each round's RANKED candidate set (eager localCheckpoint):
        # it is consumed by BOTH the resolution probe and the per-round
        # output, and every later round's `remaining` chains an
        # anti-join off it — unpinned, round i re-executes the tile
        # joins of rounds 1..i (measured 1.5x warm on the sf0.1 gate
        # query). The pinned frame holds only unresolved-source
        # candidates, which shrink geometrically with the rounds.
        cand = distance_join(
            remaining, target, r, _round_theta(theta, r)
        )
        if self_join:
            cand = cand.where(F.col("s_id") != F.col("t_id"))
        # Resolution and ranking share ONE window pass (r17 optimization
        # round): nc = count over the same s_id partitioning (no extra
        # exchange — the ordered window's sort satisfies it), and a
        # source is resolved iff nc >= k, equivalently iff a row with
        # rn == k exists. This folds the former counts groupBy + done
        # semi-join into the window stage: 1 Exchange per round instead
        # of 2, and no join. Identical row set. The pin sits ABOVE the
        # window (r18): both consumers (output filter, done/remaining
        # probe) formerly re-ran the Exchange + Sort + Window over the
        # pinned raw candidates; pinning the ranked rows runs it once
        # per round for two extra int columns in the checkpoint.
        w = Window.partitionBy("s_id").orderBy("dist2", "t_id")
        wc = Window.partitionBy("s_id")
        ranked = pin(
            cand.withColumn("rn", F.row_number().over(w))
            .withColumn("nc", F.count(F.lit(1)).over(wc))
        )
        if r >= rmax:
            rounds.append(
                ranked.where(F.col("rn") <= k)
                .select("s_id", "t_id", "dist2")
            )
        else:
            rounds.append(
                ranked.where((F.col("rn") <= k) & (F.col("nc") >= k))
                .select("s_id", "t_id", "dist2")
            )
        if r >= rmax:
            break
        done = ranked.where(F.col("rn") == k).select("s_id")
        remaining = remaining.join(
            done.withColumnRenamed("s_id", "id"), "id", "left_anti"
        )
        # Early exit on full resolution: the emptiness probe is one
        # lightweight job over the pinned candidate lineage, and it
        # skips entire join rounds that would otherwise run on empty
        # frames (at sf0.1 round 1 resolves every source; rounds 2-5
        # were pure fixed cost). The static (r0, growth, rmax) schedule
        # stays the upper bound — results are identical either way.
        if remaining.isEmpty():
            break
        r *= growth
    out = rounds[0]
    for part in rounds[1:]:
        out = out.unionByName(part)
    return out
