"""Embedding similarity search: brute-force cosine top-k, IVF-style
restricted search, and cosine near-dup pairs.

Beyond-reference extensions. Exactness contract: embeddings (float32) are
quantized with floor(x * 1000) into exact integers, so dot products and
norms are order-independent integer sums and the final cosine
(dot / sqrt(n1*n2)) is bit-identical across Spark and DuckDB.

Scale notes (100 TB): brute-force is the correctness baseline (O(Q·N) with
a broadcast query side — fine for small Q). The IVF variant restricts the
join to a coarse cell (here the ``label`` column stands in for a learned
centroid assignment), which is the standard route to sub-linear scan cost;
the join is an equi-join on the cell id, so Catalyst shuffles each cell
once and AQE splits skewed cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ds_jedai_spark.pins import pin

QUANT = 1000


def quantized(emb: DataFrame) -> DataFrame:
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )
    dot_self = F.aggregate(
        F.zip_with("qv", "qv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        emb.select("vec_id", "label", q.alias("qv"))
        .withColumn("norm2", dot_self)
    )


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cos():
    # Zero-norm guard: an embedding whose every |component| < 1/QUANT
    # quantizes to the zero vector (norm2 = 0), and Spark 4 ANSI raises
    # DIVIDE_BY_ZERO on double division — define cos = 0 instead (a
    # zero vector has no direction). CASE short-circuits, so the
    # division is never evaluated on the degenerate row. The DuckDB
    # oracles keep the raw form: the gate corpus cannot contain zero
    # vectors (generator emits integer-valued quantized components).
    return F.when(
        (F.col("n1") == 0) | (F.col("n2") == 0), F.lit(0.0)
    ).otherwise(
        F.col("dot").cast("double") / F.sqrt(
            F.col("n1").cast("double") * F.col("n2").cast("double")
        )
    )


def brute_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5, query_pred=None
) -> DataFrame:
    """Exact cosine top-k: small broadcast query set vs all vectors.

    The default query set is ``vec_id < n_queries`` (the gate's dense-id
    convention, oracle-replayed); user surfaces with offset/hashed ids
    pass their own ``query_pred`` — the CLI passes the n smallest ids
    actually present via ``cli._ann_query_pred`` (which raises on an
    empty corpus instead of silently writing 0 rows)."""
    qe = quantized(emb)
    if query_pred is None:
        query_pred = F.col("vec_id") < n_queries
    queries = qe.where(query_pred).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("a"), F.col("norm2").alias("n1")
    )
    base = qe.select(
        F.col("vec_id").alias("vid"), F.col("qv").alias("b"), F.col("norm2").alias("n2")
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(base)
        .where(F.col("qid") != F.col("vid"))
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vid", "cos")
    )


def ivf_label_topk(emb: DataFrame, k: int = 3) -> DataFrame:
    """IVF-style ANN: search only the query's coarse cell (label)."""
    qe = quantized(emb)
    queries = qe.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("cell"),
        F.col("qv").alias("a"),
        F.col("norm2").alias("n1"),
    )
    base = qe.select(
        F.col("vec_id").alias("vid"),
        F.col("label").alias("cell"),
        F.col("qv").alias("b"),
        F.col("norm2").alias("n2"),
    )
    scored = (
        queries.join(base, "cell")
        .where(F.col("qid") != F.col("vid"))
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vid", "cos")
    )


KMEANS_K = 8
KMEANS_ITERS = 2


def auto_ivf_cells(
    n: int, min_cells: int = KMEANS_K, max_cells: int = 65536
) -> int:
    """Corpus-size-scaled IVF cell count: ``cells ~ sqrt(n)``.

    The fixed default (KMEANS_K = 8) is the toy-corpus setting — cell
    population grows ~n/8 with the corpus while the cell COUNT stays
    put, so per-query scan cost is O(n) in disguise. The sqrt policy
    balances the two per-query terms (assignment scans ``cells``
    centroids, the cell scan reads ~``nprobe * n/cells`` candidates),
    the standard IVF sizing rule. The gate keeps k=8: its sf0.01
    corpus is the toy regime and the DuckDB oracle unrolls exactly
    that Lloyd lineage."""
    import math

    return max(min_cells, min(max_cells, round(math.sqrt(max(1, n)))))


def _dist2(qcol, ccol):
    return F.aggregate(
        F.zip_with(qcol, ccol, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _kmeans_assign(qe: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the tiny centroid table as
    ONE collected array row, exact integer squared distance, argmin via
    ``array_min`` over (d2, cid) structs — lexicographic struct order
    is exactly the old deterministic (d2, cid) window order.

    r17 optimization round: the previous form exploded n x k scored
    rows through a crossJoin and ranked them with a row_number window —
    a full shuffle + sort of the k-fold corpus per Lloyd round. This
    form is pure map-side projection (one 1-row broadcast attach, no
    shuffle at all): per round the only remaining exchange is the
    centroid-update aggregation, the standard distributed-Lloyd floor.
    """
    cents = F.broadcast(
        cent.groupBy().agg(
            F.collect_list(F.struct("cid", "cv")).alias("cents")
        )
    )
    best = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(
                _dist2(F.col("qv"), c["cv"]).alias("d2"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        qe.crossJoin(cents)
        .select("vec_id", "qv", best.alias("best"))
        .select("vec_id", "qv", F.col("best.cid").alias("cid"),
                F.col("best.d2").alias("d2"))
    )


def _kmeans_update(assign: DataFrame) -> DataFrame:
    """New centroids: element-wise floored mean of the assigned vectors.
    Floor on doubles (not integer div) so Spark and DuckDB agree for
    negative sums; one shuffle keyed (cid, pos)."""
    u = assign.select("cid", F.posexplode("qv").alias("pos", "v"))
    s = u.groupBy("cid", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
    )
    m = s.withColumn("m", F.expr("CAST(floor(CAST(s AS DOUBLE) / c) AS BIGINT)"))
    return m.groupBy("cid").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
        ).alias("cv")
    )


def train_centroids(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """IVF coarse-quantizer training: (cid, cv) centroids after
    ``iters - 1`` Lloyd update rounds, seeded from the k SMALLEST vec_ids
    (deterministic). The TRAIN step, factored out so deployments can run
    it once and pin the artifact (``pin_centroids``) instead of
    retraining inside every search query.

    Seeding is by rank, not by the literal ``vec_id < k`` threshold:
    offset / hashed / sparse id spaces (real user parquet) would give
    that predicate ZERO seeds and every downstream search would silently
    return nothing. ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject (top-k per partition + driver merge of k-row
    heads — no global sort), and on dense 0..n-1 ids it selects exactly
    the same seeds as the old threshold, so the oracle-replayed Lloyd
    lineage is unchanged there."""
    qe = quantized(emb).select("vec_id", "qv")
    cent = qe.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    for _ in range(iters - 1):
        cent = _kmeans_update(_kmeans_assign(qe, cent))
    return cent


def pin_centroids(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    table: str | None = None,
) -> DataFrame:
    """Train the IVF coarse centroids ONCE and materialize the artifact —
    the ANN analogue of ``dedup.pin_shingles``. A real index is trained
    once and reused across every query; without the pin each search
    replays the full Lloyd lineage per plan branch. ``table=None`` is
    the single-job form (eager localCheckpoint: lineage truncation
    guarantees reuse where cache substitution fails, see pins.pin); a
    ``table`` name persists across jobs. No bucketing — centroids are
    broadcast-sized (k rows) and never meet a shuffle join."""
    return pin(train_centroids(emb, k, iters), table)


def pin_cells(
    emb: DataFrame,
    cent: DataFrame,
    table: str | None = None,
) -> DataFrame:
    """Materialize the IVF CELL ASSIGNMENTS (vec_id, cid) — the inverted
    lists of the index. Centroids alone are not the index: without
    pinned cells every search re-assigns the whole corpus (broadcast
    argmin over all vectors per query); a real deployment assigns once
    at build time."""
    cells = _kmeans_assign(
        quantized(emb).select("vec_id", "qv"), cent
    ).select("vec_id", "cid")
    return pin(cells, table)


def kmeans_assignments(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    cent: DataFrame | None = None,
) -> DataFrame:
    """Final (vec_id, qv, cid, d2) after ``iters`` Lloyd rounds (see
    kmeans_cells for the exactness/scale contract). Pass pre-trained
    ``cent`` (pin_centroids) to skip training and only assign."""
    qe = quantized(emb).select("vec_id", "qv")
    if cent is None:
        cent = train_centroids(emb, k, iters)
    return _kmeans_assign(qe, cent)


def ivf_trained_topk(
    emb: DataFrame,
    k: int = 3,
    cent: DataFrame | None = None,
    cells: DataFrame | None = None,
    query_pred=None,
) -> DataFrame:
    """IVF search over the TRAINED quantizer: assign every vector to its
    Lloyd cell, then cosine top-k restricted to the query's cell — the
    full train -> assign -> search pipeline (ivf_label_topk's cells are
    pre-labeled; these are learned). Same scale shape: the cell id is an
    equi-join key, one shuffle, AQE splits hot cells. Pass pinned
    ``cent`` (pin_centroids) and ``cells`` (pin_cells) to reuse the
    trained+assigned index."""
    qe = quantized(emb)
    if cells is None:
        cells = kmeans_assignments(emb, cent=cent).select("vec_id", "cid")
    base = qe.join(cells, "vec_id")
    # query set: the gate pins the % 50 sample (oracle-replayed); user
    # surfaces pass their own predicate (CLI: vec_id < n_queries)
    if query_pred is None:
        query_pred = F.col("vec_id") % 50 == 0
    queries = base.where(query_pred).select(
        F.col("vec_id").alias("qid"),
        F.col("cid").alias("cell"),
        F.col("qv").alias("a"),
        F.col("norm2").alias("n1"),
    )
    cand = base.select(
        F.col("vec_id").alias("vid"),
        F.col("cid").alias("cell"),
        F.col("qv").alias("b"),
        F.col("norm2").alias("n2"),
    )
    scored = (
        queries.join(cand, "cell")
        .where(F.col("qid") != F.col("vid"))
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vid", "cos")
    )


def kmeans_cells(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    cent: DataFrame | None = None,
) -> DataFrame:
    """Trained IVF coarse quantizer: Lloyd iterations over the quantized
    integer vectors — (cid, n_vecs, inertia) after ``iters`` assignment
    rounds, centroids seeded from the first k vec_ids (deterministic).

    Everything is exact long arithmetic except the floored mean (shared
    IEEE double floor), so the DuckDB oracle replays the iterations
    bit-identically. Scale shape: per-round cost is one broadcast-join
    assignment (map-side, no shuffle of the vectors) plus one (cid, pos)
    aggregation — the standard distributed Lloyd step; k stays
    broadcast-sized."""
    final = kmeans_assignments(emb, k, iters, cent=cent)
    return final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("d2").alias("inertia")
    )


LSH_BANDS = 8
LSH_BITS = 2  # tuned for the tau=0.4 regime: p_bit≈0.63 -> recall≈0.98
_PLANE_W = "(((2 * {j} + 3) * (i + 1) * 40503) % 1000003 - 500001)"


def auto_lsh_params(
    n: int, tau: float, target_bucket: int = 32, recall: float = 0.9
) -> tuple[int, int]:
    """Corpus-size-scaled hyperplane-LSH parameters (bands, bits).

    The default (LSH_BANDS=8, LSH_BITS=2) gives 2^2 = 4 buckets per
    band — fine for a toy corpus, but bucket population grows with n
    while the bucket COUNT stays fixed, so the collision join's
    candidate volume grows ~n^2/2^bits: at 10x the corpus the equi-join
    is quadratic all over again (measured: the 10x-clone soak detonated
    from ~3s to ~400s before this policy existed). A real deployment
    scales bits with corpus size and spends bands to buy the recall
    back:

    - ``bits = round(log2(n / target_bucket))`` keeps expected bucket
      population ~constant as n grows (finer buckets keep winning while
      exact verification dominates the wall: the 10x soak measured
      22.8s / 7.7s / 4.8s at target 256 / 64 / 32 — bands grow only
      logarithmically as bits rise);
    - ``bands = ceil(ln(1-recall) / ln(1 - p^bits))`` with
      p = 1 - acos(tau)/pi (the random-hyperplane agreement probability
      at the similarity threshold) restores the recall target.

    The standard LSH exponent applies: candidates ~ n^(1+rho) with
    rho = ln(p_tau)/ln(p_random); tau near 0.4 sits close to the
    random-pair agreement (0.63 vs 0.5) and filters weakly no matter
    the parameters — production near-dup regimes (tau >= 0.8, p >= 0.86)
    are where the banding prunes hard. Clamped to [2, 16] bits (bucket
    keys stay comfortably in int64)."""
    import math

    # clamp: tau=1.0 gives p=1 and log(0) below; near-random tau gives
    # astronomically many bands — cap both ends (64 bands ~ the point
    # where the band table itself dominates; beyond it the regime is
    # wrong for hyperplane LSH, see the rho note above)
    p = min(0.999, max(1e-6, 1.0 - math.acos(tau) / math.pi))
    bits = max(2, min(16, round(math.log2(max(2.0, n / target_bucket)))))
    pb = min(0.999, p ** bits)
    bands = max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - pb)))
    return min(64, bands), bits


def _band_bucket(band: int, dot_of_plane, bits: int = LSH_BITS) -> str:
    parts = []
    for r in range(bits):
        j = band * bits + r
        dot = dot_of_plane(_PLANE_W.format(j=j))
        parts.append(f"(CASE WHEN {dot} >= 0 THEN {1 << r} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def _spark_dot(w: str) -> str:
    return (
        f"aggregate(zip_with(qv, sequence(0, size(qv) - 1), "
        f"(v, i) -> v * {w}), 0L, (acc, x) -> acc + x)"
    )


def _duck_dot(w: str) -> str:
    return f"list_dot_product(qv, list_transform(range(0, len(qv)), i -> {w}))"


def band_buckets_spark(
    bands: int = LSH_BANDS, bits: int = LSH_BITS
) -> list[str]:
    return [_band_bucket(b, _spark_dot, bits) for b in range(bands)]


def band_buckets_duckdb(
    bands: int = LSH_BANDS, bits: int = LSH_BITS
) -> list[str]:
    return [_band_bucket(b, _duck_dot, bits) for b in range(bands)]


def lsh_band_table(
    emb: DataFrame, bands: int = LSH_BANDS, bits: int = LSH_BITS
) -> DataFrame:
    """(vec_id, band, bucket) — the exploded LSH band keys of every
    vector: ``bands`` rows per vector, bucket = the band's ``bits``
    hyperplane sign bits packed into an int. Pure map-side column
    algebra (no shuffle); this is the stored payload of an LSH index
    (see pin_bands). Size the parameters to the corpus with
    auto_lsh_params — the defaults are the toy-corpus setting."""
    buckets = band_buckets_spark(bands, bits)
    structs = ", ".join(
        f"struct({b} AS band, {expr} AS bucket)"
        for b, expr in enumerate(buckets)
    )
    return quantized(emb).selectExpr(
        "vec_id", f"explode(array({structs})) AS bb"
    ).selectExpr("vec_id", "bb.band", "bb.bucket")


def pin_bands(
    emb: DataFrame,
    table: str | None = None,
    bands: int = LSH_BANDS,
    bits: int = LSH_BITS,
    n_rows: int | None = None,
) -> DataFrame:
    """Materialize the LSH BAND TABLE once — the index payload of the
    hyperplane-LSH family (the pin_codes analogue). Two reasons to pin:
    the collision self-join consumes the table twice and cache
    substitution fails for self-join consumers (see pins.pin), so
    unpinned the hyperplane dot products per vector compute twice; and
    a standing corpus computes its band keys once at ingest, not per
    search batch. A ``table`` name persists across jobs.

    The pin is stamped with its own (bands, bits) as the literal
    columns ``lsh_bands`` / ``lsh_bits``: a batch joined against a pin
    must hash with the SAME hyperplane parameters or the collision join
    silently finds near-zero candidates, so the parameters travel WITH
    the artifact (they RLE-compress to nothing in parquet) and
    ``lsh_neardup_pairs_cross`` recovers or cross-checks them instead
    of trusting the caller's defaults.

    ``n_rows`` is ``emb``'s row count when the caller already has it;
    the partition sizing below then skips its own count."""
    bb = lsh_band_table(emb, bands, bits).withColumn(
        "lsh_bands", F.lit(int(bands))
    ).withColumn("lsh_bits", F.lit(int(bits)))
    if table is None:
        # Spread the pinned payload across DATA-PROPORTIONAL
        # parallelism: the band table reads as ONE partition otherwise
        # (a map-only plan over a small scan), and every downstream
        # collision join + verification pass inherits that layout (r17
        # optimization round: the whole ann_lsh_pairs pipeline ran on
        # one task with the then-HOF verify; measured 2.0 s -> 0.5 s
        # for the verify stage after a full-parallelism spread). The
        # r17 full fan-out over-corrected at small corpora: every
        # search stage — and its Python verify worker round-trip —
        # inherits shuffle_partitions-many tasks of a few hundred rows
        # each, which is why the driver's 8-core bench ran ann_lsh
        # TWICE as fast as 32-core (PERF_r17 scaling 0.51). r18 sizes
        # the spread by ROWS (ceil(n·bands / PIN_BAND_ROWS_PER_PART),
        # capped at the session parallelism): small pins stay compact,
        # cluster-scale corpora still fan out fully — the partition
        # count is derived from input size, not from the local core
        # count (guide §2). Rows are 5 small integers — the one-time
        # count + shuffle are noise in the build.
        from ds_jedai_spark.operators.ranking import shuffle_parts

        rows = (emb.count() if n_rows is None else n_rows) * int(bands)
        parts = min(
            shuffle_parts(bb),
            max(1, -(-rows // PIN_BAND_ROWS_PER_PART)),
        )
        bb = bb.repartition(parts)
    return pin(bb, table)


# Corpus-row cap for the broadcast-gather verification tier below: the
# collected (vec_id, qv, norm2) matrix at this cap is ~130 MB of int64
# for 64-dim vectors — ordinary broadcast-join territory. Beyond it the
# equi-join tier takes over (same results, one more shuffle).
# Band-pin partition sizing: one partition per this many (vec_id, band,
# bucket) rows. The partition count governs the COLLISION pipeline's
# task granularity (scan -> broadcast collision join -> Arrow verify all
# fuse over the pin's layout), and collision volume is quadratic in
# bucket occupancy — so the divisor is deliberately small: it only
# matters for sub-100k-row corpora, where the measured sweep (sf0.1
# bench corpus, 16k band rows -> 4.01M collisions) reads 2.6 s at 1
# partition, 0.9-1.0 s at 8-16, 1.2-1.8 s at 32 on 32 cores. Beyond
# ~1024·shuffle_partitions band rows the cap takes over and the pin
# spreads across full session parallelism — the at-scale shape, derived
# from data volume, not the local core count (guide §2).
PIN_BAND_ROWS_PER_PART = 1_024

VERIFY_BROADCAST_CAP = 262_144


_GATHER_UNSET = object()  # sentinel: no pre-gathered corpus supplied


def gather_quantized(qe: DataFrame):
    """Collect + broadcast the quantized corpus for the verify tier —
    _cosine_verify_pairs' probe, which a standing index runs ONCE at
    build time (r18) instead of per search. Returns a Broadcast of the
    (ids, mat, norm2) arrays (sorted by id), or None when the corpus
    exceeds VERIFY_BROADCAST_CAP — and probes with a COUNT first, so
    the over-cap (join-tier) case never hauls vectors to the driver."""
    import numpy as np

    base = qe.select("vec_id", "qv", "norm2")
    if base.limit(VERIFY_BROADCAST_CAP + 1).count() > VERIFY_BROADCAST_CAP:
        return None
    rows = base.collect()
    ids = np.fromiter((r[0] for r in rows), dtype=np.int64,
                      count=len(rows))
    mat = np.array([r[1] for r in rows], dtype=np.int64)
    nn = np.fromiter((r[2] for r in rows), dtype=np.int64,
                     count=len(rows))
    order = np.argsort(ids)
    return qe.sparkSession.sparkContext.broadcast(
        (ids[order], mat[order], nn[order])
    )


def _cosine_verify_pairs(
    cand: DataFrame,
    qe: DataFrame,
    tau: float,
    dedup: bool = False,
    gathered=_GATHER_UNSET,
) -> DataFrame:
    """Exact-cosine verification of an id-pair stream (d1, d2) against
    the quantized corpus ``qe`` (vec_id, qv, norm2): (d1, d2, cos) for
    pairs with cos >= tau.

    ``dedup=True`` accepts a candidate stream WITH duplicates (e.g. a
    multi-band collision join) and owns the dedup: the broadcast tier
    verifies the raw stream map-side and distincts the few SURVIVORS
    (collision rows flow scan -> broadcast join -> einsum with no
    exchange at all; duplicate verification is idempotent, so the
    shuffle moves only rows that pass tau), while the join tier
    distincts candidates FIRST (there, each duplicate would pay two
    vector joins — the historical order). Identical results either
    way; measured on the sf0.1 bench line the raw-stream form removes
    the 4M-row candidate distinct and its Exchange entirely.

    Two tiers, identical results (r17 optimization round):

    - **broadcast-gather** (corpus <= VERIFY_BROADCAST_CAP rows): the
      quantized matrix is collected once, broadcast, and a mapInArrow
      pass gathers both sides per candidate id and runs the integer
      dot as one numpy einsum — the guide's "move ids, broadcast the
      dimension table" shape. The JVM higher-order-function dot
      (aggregate over zip_with) walks a lambda per element: measured
      1.9-2.8 s for 1.79M pairs x 64 dims, vs ~0.3 s for the same
      arithmetic as one einsum; the unrolled a[0]*b[0]+... expression
      was measured WORSE (14.4 s — 64 chained GetArrayItems fall out
      of codegen). Arithmetic is bit-identical: int64 products/sums
      (numpy wraps like the JVM), then the same float64 cast /
      multiply / sqrt / divide sequence as _cos(), zero-norm guard
      included.
    - **equi-join** (bigger corpora): the historical plan — join the
      vectors onto the pairs, HOF dot in the JVM. No driver collect,
      no worker matrix; the 100 TB default.

    The tier probe is gather_quantized: a ``limit(cap + 1).count()``
    first, so an over-cap corpus never reaches the driver, then the
    collect below the cap — the same cost class as building any
    broadcast hash relation. Callers holding a STANDING index pass
    ``gathered`` (gather_quantized's result — a Broadcast below the
    cap, None above it) so searches skip the probe jobs entirely; the
    default probes per call for ad-hoc corpora."""
    if gathered is _GATHER_UNSET:
        gathered = gather_quantized(qe)
    if gathered is not None:
        bc = gathered
        tau_f = float(tau)

        def verify(batches):
            import numpy as np
            import pyarrow as pa

            bids, bmat, bnn = bc.value
            for b in batches:
                d1 = b.column("d1").to_numpy(zero_copy_only=False)
                d2 = b.column("d2").to_numpy(zero_copy_only=False)
                i1 = np.searchsorted(bids, d1)
                i2 = np.searchsorted(bids, d2)
                dot = np.einsum("ij,ij->i", bmat[i1], bmat[i2])
                a = bnn[i1].astype(np.float64)
                c = bnn[i2].astype(np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot.astype(np.float64) / np.sqrt(a * c)
                cos = np.where((a == 0.0) | (c == 0.0), 0.0, cos)
                keep = cos >= tau_f
                yield pa.RecordBatch.from_arrays(
                    [pa.array(d1[keep]), pa.array(d2[keep]),
                     pa.array(cos[keep])],
                    names=["d1", "d2", "cos"],
                )

        out = cand.select("d1", "d2").mapInArrow(
            verify, "d1 long, d2 long, cos double"
        )
        return out.distinct() if dedup else out
    if dedup:
        cand = cand.select("d1", "d2").distinct()
    va = qe.select(
        F.col("vec_id").alias("d1"), F.col("qv").alias("a"),
        F.col("norm2").alias("n1"),
    )
    vb = qe.select(
        F.col("vec_id").alias("d2"), F.col("qv").alias("b"),
        F.col("norm2").alias("n2"),
    )
    return (
        cand.join(va, "d1")
        .join(vb, "d2")
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
        .where(F.col("cos") >= tau)
        .select("d1", "d2", "cos")
    )


def lsh_neardup_pairs(
    emb: DataFrame,
    tau: float,
    bands: DataFrame | None = None,
    n_bands: int | str = LSH_BANDS,
    n_bits: int = LSH_BITS,
    gathered=_GATHER_UNSET,
) -> DataFrame:
    """Banded random-hyperplane LSH near-dup discovery: a pair is a
    candidate if ANY of the LSH_BANDS bands (LSH_BITS sign bits each,
    deterministic integer hyperplanes) collides, then exact cosine >= tau
    verifies. The scale path: each vector explodes to LSH_BANDS
    (band, bucket) rows, the collision join is an equi-join (one shuffle,
    AQE splits hot buckets), and candidate volume shrinks ~2^bits per band
    vs the full cross join. Band/bit counts are tuned to the similarity
    regime (banding analysis); measured recall at tau=0.4 is ~95%.
    Pass pinned ``bands`` (pin_bands) to reuse a standing band table
    instead of recomputing the hyperplane dots per query; pass
    ``n_bands="auto"`` to size (bands, bits) to the corpus with
    auto_lsh_params (one count on the input, reused by pin_bands)."""
    n_rows = None
    if bands is None and n_bands == "auto":
        n_rows = emb.count()
        n_bands, n_bits = auto_lsh_params(n_rows, tau)
    qe = quantized(emb)
    # Collision discovery carries IDS ONLY: the exploded band rows, the
    # equi-join and the (d1, d2) dedup shuffle all move 3 integers per
    # row — the vectors rejoin (broadcast at dimension-table size, hash
    # join beyond) for the deduplicated candidates only. Carrying the
    # arrays through the collision path multiplied the dedup shuffle by
    # the vector width for rows about to be collapsed (measured 11.7s ->
    # 4.7s warm on the sf0.1 corpus).
    bb = bands if bands is not None else pin_bands(
        emb, bands=n_bands, bits=n_bits, n_rows=n_rows
    )
    cand = (
        bb.selectExpr("vec_id AS d1", "band", "bucket")
        .join(bb.selectExpr("vec_id AS d2", "band", "bucket"),
              on=["band", "bucket"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
    )
    return _cosine_verify_pairs(cand, qe, tau, dedup=True,
                                gathered=gathered)


def lsh_neardup_pairs_cross(
    batch_emb: DataFrame,
    index_emb: DataFrame,
    tau: float,
    index_bands: DataFrame | None = None,
    n_bands: int | str = LSH_BANDS,
    n_bits: int = LSH_BITS,
) -> DataFrame:
    """Cross-corpus embedding near-dup discovery: candidates are pairs
    of ONE vector from today's ``batch`` and one from the standing
    ``index`` whose LSH band keys collide — the INCREMENTAL embedding
    dedup path (the minhash_lsh_pairs_cross analogue in embedding
    space). No batch x batch and no index x index pair is ever
    generated.

    100 TB shape: the index side's band keys are the standing artifact
    — pass pinned ``index_bands`` (pin_bands; pass ``table`` across
    jobs) so only the batch's hyperplane dots are computed per ingest.
    The collision join, candidate dedup and the two verification joins
    are all equi-joins carrying ids; exact cosine >= tau verifies.
    Output: (d1 from batch, d2 from index, cos)."""
    n_rows = None
    if index_bands is None and n_bands == "auto":
        n_rows = index_emb.count()
        n_bands, n_bits = auto_lsh_params(n_rows, tau)
    elif index_bands is not None:
        # A pinned index fixes the hyperplane parameters: the batch side
        # MUST hash with the pin's (bands, bits) or the collision join
        # silently finds near-zero candidates (recall collapse with no
        # error). pin_bands stamps them on the artifact; recover them
        # under 'auto', and cross-check explicit ints against the stamp.
        meta = None
        if {"lsh_bands", "lsh_bits"} <= set(index_bands.columns):
            r = index_bands.select("lsh_bands", "lsh_bits").first()
            if r is not None:
                meta = (int(r["lsh_bands"]), int(r["lsh_bits"]))
        if n_bands == "auto":
            if meta is None:
                raise ValueError(
                    "index_bands carries no (lsh_bands, lsh_bits) stamp, "
                    "so n_bands='auto' cannot recover the pin's "
                    "parameters — rebuild the pin with pin_bands() or "
                    "pass the explicit (n_bands, n_bits) it was built "
                    "with; guessing defaults would silently collapse "
                    "recall"
                )
            n_bands, n_bits = meta
        elif meta is not None and meta != (n_bands, n_bits):
            raise ValueError(
                f"index_bands was pinned with (bands, bits)={meta} but "
                f"the batch side would hash with ({n_bands}, {n_bits}) — "
                "mismatched hyperplanes silently collapse recall; pass "
                "the pin's parameters (or n_bands='auto' to read the "
                "stamp)"
            )
    # Batch bands are consumed once (no self-join), so no pin needed.
    band_a = lsh_band_table(batch_emb, n_bands, n_bits).select(
        F.col("vec_id").alias("d1"), "band", "bucket"
    )
    bb = index_bands if index_bands is not None else pin_bands(
        index_emb, bands=n_bands, bits=n_bits, n_rows=n_rows
    )
    band_b = bb.select(F.col("vec_id").alias("d2"), "band", "bucket")
    cand = (
        band_a.join(band_b, on=["band", "bucket"])
        .select("d1", "d2")
        .distinct()
    )
    va = quantized(batch_emb).select(
        F.col("vec_id").alias("d1"), F.col("qv").alias("a"),
        F.col("norm2").alias("n1"),
    )
    vb = quantized(index_emb).select(
        F.col("vec_id").alias("d2"), F.col("qv").alias("b"),
        F.col("norm2").alias("n2"),
    )
    return (
        cand.join(va, "d1")
        .join(vb, "d2")
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
        .where(F.col("cos") >= tau)
        .select("d1", "d2", "cos")
    )


def pq_recall(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    books: list | None = None,
    codes: DataFrame | None = None,
    shortlist: int = 20,
) -> DataFrame:
    """Measured recall@k of the PQ search tiers against the exact
    brute-force top-k — the quality metric a PQ deployment monitors
    (the ann_lsh_recall analogue). One wide row: truth size, hits of
    the raw ADC scan, hits of the shortlist+rerank path, and both
    recall ratios. Rerank recall dominates ADC recall by construction
    whenever the shortlist covers the true top-k; this query turns
    that claim into a regressed number. Deterministic throughout
    (integer-exact scoring, (cos DESC, vid) tie-breaks), so the DuckDB
    oracle replays it bit-for-bit."""
    truth = brute_topk(emb, n_queries, k).select("qid", "vid")
    # ONE ADC scan: the shortlist frame serves both tiers (its top-k
    # prefix IS the raw-ADC answer; the rerank reads the same rows) —
    # pinned because two consumers would otherwise replay the scan.
    # ``shortlist`` is the recall/latency knob (rerank reads exactly
    # shortlist x queries exact vectors): the 20 default is the gate's
    # oracle-replayed setting; deployments scale it with k (measured at
    # sf0.1: 20 -> 0.56 rerank recall, 50 -> 0.78 — see the
    # pq_auto_recall soak in bench_scale.py).
    short_scored = pin(pq_adc_topk(
        emb, n_queries, shortlist, books=books, codes=codes
    ))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vid")
    adc = (
        short_scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vid")
    )
    rer = pq_rerank_topk(
        emb, n_queries, k, shortlist, books=books, codes=codes,
        short=short_scored.select("qid", "vid"),
    ).select("qid", "vid")
    nt = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    na = truth.join(adc, ["qid", "vid"], "left_semi").agg(
        F.count(F.lit(1)).alias("adc_found")
    )
    nr = truth.join(rer, ["qid", "vid"], "left_semi").agg(
        F.count(F.lit(1)).alias("rerank_found")
    )
    return (
        nt.crossJoin(na)
        .crossJoin(nr)
        .withColumn(
            "adc_recall",
            F.expr("CAST(adc_found AS DOUBLE) / CAST(n_truth AS DOUBLE)"),
        )
        .withColumn(
            "rerank_recall",
            F.expr("CAST(rerank_found AS DOUBLE) / CAST(n_truth AS DOUBLE)"),
        )
    )


def cosine_neardup_pairs(emb: DataFrame, tau: float) -> DataFrame:
    """All-pairs cosine near-duplicates (v1 < v2, cos >= tau)."""
    qe = quantized(emb)
    a = qe.select(
        F.col("vec_id").alias("v1"), F.col("qv").alias("a"), F.col("norm2").alias("n1")
    )
    b = qe.select(
        F.col("vec_id").alias("v2"), F.col("qv").alias("b"), F.col("norm2").alias("n2")
    )
    return (
        a.crossJoin(b)
        .where(F.col("v1") < F.col("v2"))
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
        .where(F.col("cos") >= tau)
        .select("v1", "v2", "cos")
    )


def int8_quantize_stats(emb: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of each embedding with an exact
    integer error metric — the memory-reduction step (4x vs float32)
    a 100 TB vector corpus applies before ANN indexing.

    Works on the engine's integer-quantized vectors (``quantized``), so
    every value is exact across Spark and DuckDB:

    - ``maxabs`` = max |component| (the scale denominator);
    - int8 code q8 = round-to-nearest(x * 127 / maxabs) computed as
      floor((254*x + maxabs) / (2*maxabs)) — pure integer inputs, and
      the float division cannot mis-floor because any exactly-integer
      quotient divides exactly (both operands are representable) while
      non-integer quotients sit >=1/(2*maxabs) away from an integer,
      orders of magnitude above one ulp;
    - ``sse`` = sum of (127*x - q8*maxabs)^2, a bigint — reconstruction
      error in the scaled domain, no float accumulation order to drift.

    All-zero vectors (maxabs = 0) quantize to zero codes with zero error.
    Entirely JVM-side column algebra: transform/aggregate over the array,
    one row per vector, no shuffle beyond the scan.
    """
    qe = quantized(emb)
    maxabs = F.aggregate(
        "qv",
        F.lit(0).cast("long"),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    q = qe.withColumn("maxabs", maxabs)
    q8 = F.transform(
        "qv",
        lambda x: F.when(F.col("maxabs") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                (F.lit(254.0) * x.cast("double") + F.col("maxabs"))
                / (F.lit(2.0) * F.col("maxabs"))
            )
        ),
    )
    sse = F.aggregate(
        F.zip_with(
            "qv", "q8", lambda x, c: (F.lit(127) * x - c * F.col("maxabs"))
            * (F.lit(127) * x - c * F.col("maxabs"))
        ),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    return (
        q.withColumn("q8", q8)
        .withColumn("sse", sse)
        .select("vec_id", "maxabs", "sse")
    )


def ivf_multiprobe_topk(
    emb: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    cent: DataFrame | None = None,
    cells: DataFrame | None = None,
    query_pred=None,
) -> DataFrame:
    """Multi-probe IVF search: each query scans its ``nprobe`` nearest
    Lloyd cells instead of one — the standard recall/latency knob of an
    IVF index (probing 2 of 8 cells here). Base vectors stay in their
    rank-1 cell, so cells are disjoint and no candidate dedup is needed;
    the probe list is an equi-join key exactly like the single-cell
    path (one shuffle, AQE splits hot cells). Pass pinned ``cent``
    (pin_centroids) and ``cells`` (pin_cells) to reuse the trained and
    assigned index — the probe ranking then runs over the QUERY subset
    only, never re-assigning the corpus. The default query set is the
    gate's dense-id ``% 50`` sample; user surfaces pass ``query_pred``
    (the CLI passes cli._ann_query_pred)."""
    qe = quantized(emb)
    if cent is None:
        cent = train_centroids(emb)
    if cells is None:
        cells = kmeans_assignments(emb, cent=cent).select("vec_id", "cid")
    if query_pred is None:
        query_pred = F.col("vec_id") % 50 == 0
    probe_side = qe.where(query_pred).select("vec_id", "qv")
    scored_cells = probe_side.crossJoin(F.broadcast(cent)).withColumn(
        "d2", _dist2(F.col("qv"), F.col("cv"))
    )
    wc = Window.partitionBy("vec_id").orderBy("d2", "cid")
    ranked = scored_cells.withColumn("rn", F.row_number().over(wc)).select(
        "vec_id", "cid", "rn"
    )
    base = qe.join(cells, "vec_id").select(
        F.col("vec_id").alias("vid"),
        F.col("qv").alias("b"),
        F.col("norm2").alias("n2"),
        F.col("cid").alias("cell"),
    )
    probes = ranked.where(F.col("rn") <= nprobe).select(
        F.col("vec_id").alias("qid"), F.col("cid").alias("cell")
    )
    queries = (
        qe.where(query_pred)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("qv").alias("a"),
            F.col("norm2").alias("n1"),
        )
        .join(probes, "qid")
    )
    scored = (
        queries.join(base, "cell")
        .where(F.col("qid") != F.col("vid"))
        .withColumn("dot", _dot("a", "b"))
        .select("qid", "vid", F.col("n1"), F.col("n2"), "dot")
        .withColumn("cos", _cos())
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vid", "cos")
    )


# ------------------------------------------------------------------- PQ

PQ_M = 4  # sub-blocks per vector (64-dim corpus -> 16-dim sub-vectors)


def auto_pq_params(
    n: int, dim: int, target_codeword_pop: int = 64
) -> tuple[int, int]:
    """Corpus-scaled PQ parameters (M sub-blocks, k codewords each).

    The fixed defaults (PQ_M=4, KMEANS_K=8 codewords) are the
    toy-corpus / oracle-replay setting: 8 codewords quantize a growing
    corpus ever more coarsely (reconstruction error — and with it ADC
    ranking quality — degrades as vectors-per-codeword grows ~n/8),
    while 16-dim sub-vectors under-use the M-fold product structure.
    The deployment policy mirrors standard PQ sizing:

    - ``M = dim / 8`` (8-dim sub-vectors — the conventional block size;
      falls back to the first of (16, 4, 2, 1) dividing dim, since the
      slice layout silently drops remainder dims otherwise);
    - ``k ~ n / target_codeword_pop`` holds vectors-per-codeword
      constant as the corpus grows, clamped to [KMEANS_K, 256] — 256 =
      one BYTE per code, the storage contract that makes PQ's
      compression ratio (M bytes per vector) possible.

    Training cost stays linear: assignment is a broadcast argmin over
    M x k codewords and codebooks remain broadcast-sized."""
    m = None
    for sub in (8, 16, 4, 2, 1):
        if dim % sub == 0:
            m = max(1, dim // sub)
            break
    k = max(KMEANS_K, min(256, round(n / max(1, target_codeword_pop))))
    return m, k


def _pq_sub_explode(qe: DataFrame, m: int = PQ_M) -> DataFrame:
    """All ``m`` sub-vectors of each vector in ONE pass: (vec_id, m, qv).
    One corpus scan instead of m slice scans — at 100 TB this is the
    difference between reading the vectors once and M times."""
    slices = F.expr(
        f"transform(sequence(0, {m - 1}), "
        f"m -> slice(qv, m * (size(qv) div {m}) + 1, "
        f"size(qv) div {m}))"
    )
    return qe.select(
        "vec_id", F.posexplode(slices).alias("m", "qv")
    )


def _pq_assign(subs: DataFrame, stacked: DataFrame) -> DataFrame:
    """Nearest-codeword assignment per (vector, sub-block): broadcast
    the stacked (m, cid, cv) codebooks as one array row per m, argmin
    via ``array_min`` over (d2, cid) structs — the same map-side
    rewrite as _kmeans_assign (no n x M x k explosion, no window
    shuffle; the broadcast equi-join on ``m`` is the only attach)."""
    cent_by_m = F.broadcast(
        stacked.groupBy("m").agg(
            F.collect_list(F.struct("cid", "cv")).alias("cents")
        )
    )
    best = F.array_min(
        F.transform(
            "cents",
            lambda c: F.struct(
                _dist2(F.col("qv"), c["cv"]).alias("d2"),
                c["cid"].alias("cid"),
            ),
        )
    )
    return (
        subs.join(cent_by_m, "m")
        .select("vec_id", "m", "qv", best.alias("best"))
        .select("vec_id", "m", "qv", F.col("best.cid").alias("cid"))
    )


def pq_codebooks_stacked(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS,
    m: int = PQ_M,
) -> DataFrame:
    """All PQ_M Lloyd codebooks trained in ONE stacked lineage:
    (m, cid, cv). Per-m math is identical to training each sub-block
    separately (assignment argmin per (vec_id, m); floored means per
    (m, cid, pos); seeds = the k SMALLEST vec_ids present, per m) — but
    the corpus is scanned once per Lloyd round for ALL sub-blocks, not
    once per sub-block per round.

    Seeding is rank-based like train_centroids (identical to the old
    ``vec_id < k`` threshold on dense 0..n-1 ids, non-empty on offset/
    hashed id spaces): a broadcast semi-join of the k-row TakeOrdered
    head against the exploded sub-vectors."""
    qe = quantized(emb).select("vec_id", "qv")
    subs = _pq_sub_explode(qe, m)
    seed_ids = qe.orderBy("vec_id").limit(k).select("vec_id")
    cent = subs.join(F.broadcast(seed_ids), "vec_id").select(
        "m", F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    for _ in range(iters - 1):
        a = _pq_assign(subs, cent)
        u = a.select("m", "cid", F.posexplode("qv").alias("pos", "v"))
        s = u.groupBy("m", "cid", "pos").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
        )
        mu = s.withColumn(
            "mu", F.expr("CAST(floor(CAST(s AS DOUBLE) / c) AS BIGINT)")
        )
        cent = mu.groupBy("m", "cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "mu"))),
                lambda x: x["mu"],
            ).alias("cv")
        )
    return cent


def pq_codebooks(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS,
    m: int = PQ_M,
):
    """One Lloyd codebook per sub-block: list of per-m centroid frames
    (cid, cv) — sliced from the single stacked training pass
    (pq_codebooks_stacked; integer-exact, floored means, deterministic
    seeds = first k vec_ids). Downstream functions recover M as
    ``len(books)``, so auto-sized codebooks (auto_pq_params) flow
    through encode/ADC/rerank unchanged."""
    stacked = pq_codebooks_stacked(emb, k, iters, m)
    return [
        stacked.where(F.col("m") == mi).select("cid", "cv")
        for mi in range(m)
    ]


def pin_codebooks(
    emb: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    table: str | None = None,
    m: int = PQ_M,
) -> list:
    """Train the PQ codebooks ONCE and materialize the artifact (the
    pin_centroids analogue for product quantization). Without the pin,
    each ADC/rerank query replays the Lloyd lineage per plan branch —
    this is what made the ANN family dominate the bench tail. The
    STACKED (m, cid, cv) frame is materialized once (one localCheckpoint
    or one saved table), then sliced per m — not one materialization per
    sub-block. Codebooks are broadcast-sized (M x k codewords) — no
    bucketing needed."""
    stacked = pin(pq_codebooks_stacked(emb, k, iters, m), table)
    return [
        stacked.where(F.col("m") == mi).select("cid", "cv")
        for mi in range(m)
    ]


def _stack_books(books: list) -> DataFrame:
    stacked = None
    for m, cent in enumerate(books):
        bm = cent.select(F.lit(m).alias("m"), "cid", "cv")
        stacked = bm if stacked is None else stacked.unionByName(bm)
    return stacked


def pq_codes(emb: DataFrame, books: list) -> DataFrame:
    """ENCODE: nearest codeword per (vector, sub-block) — (vec_id, m,
    cid), one corpus pass for all sub-blocks (broadcast-join argmin
    keyed by m). This is the stored payload of a PQ index; see
    pin_codes. M is recovered as ``len(books)``."""
    qe = quantized(emb).select("vec_id", "qv")
    subs = _pq_sub_explode(qe, len(books))
    return _pq_assign(subs, _stack_books(books)).select(
        "vec_id", "m", "cid"
    )


def pin_codes(
    emb: DataFrame,
    books: list,
    table: str | None = None,
) -> DataFrame:
    """Materialize the PQ CODE TABLE (vec_id, m, cid) — the index
    payload. Codebooks alone are not the index: without pinned codes
    every ADC query re-encodes the entire corpus (a full corpus scan +
    argmin per query); a real deployment encodes once at build time and
    queries read M one-byte codes per vector."""
    return pin(pq_codes(emb, books), table)


def pq_adc_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5,
    books: list | None = None,
    codes: DataFrame | None = None,
    query_pred=None,
) -> DataFrame:
    """Product-quantization ADC search: every vector is stored as PQ_M
    one-byte codes (its nearest codeword per sub-block) and queries score
    candidates ASYMMETRICALLY — exact query sub-vectors against the
    candidate's codewords — so the scan reads M codes + a broadcast
    codebook instead of the full vector. This is the memory-bound ANN
    regime's standard layout (a 64-dim int64 vector becomes 4 codes: a
    128x compression here, more at float32 scale); the approximate
    cosine uses the codeword reconstruction for both the dot product and
    the candidate norm. All arithmetic is exact long math until the
    final double division, so the DuckDB oracle replays it bit-for-bit.

    Scale shape: codebooks are tiny broadcasts (M x k codewords); encode
    is a map-side broadcast-join argmin; the scan is one broadcast join
    of queries against the (vec_id, m, cid) code table followed by a
    (qid, vid) partial-aggregated sum — no shuffle of raw vectors
    anywhere after training. Pass pinned ``books`` (pin_codebooks) and
    ``codes`` (pin_codes) to reuse a trained+encoded index instead of
    retraining and re-encoding per query. The default query set is the
    gate's dense-id ``vec_id < n_queries`` convention; user surfaces
    pass ``query_pred`` (the CLI passes cli._ann_query_pred, like the
    brute/IVF paths)."""
    qe = quantized(emb).select("vec_id", "qv", "norm2")
    if books is None:
        books = pq_codebooks(emb)
    book_rows = _stack_books(books).select(
        "m", "cid", "cv", _dot("cv", "cv").alias("cnorm2")
    )
    if codes is None:
        codes = pq_codes(emb, books)
    if query_pred is None:
        query_pred = F.col("vec_id") < n_queries
    queries = _pq_sub_explode(
        qe.where(query_pred).select("vec_id", "qv"),
        len(books),
    ).join(
        qe.select("vec_id", F.col("norm2").alias("n1")), "vec_id"
    ).select(
        F.col("vec_id").alias("qid"), "m", F.col("qv").alias("qsub"), "n1"
    )
    contrib = (
        codes.join(F.broadcast(book_rows), ["m", "cid"])
        .join(F.broadcast(queries), "m")
        .where(F.col("qid") != F.col("vec_id"))
        .select(
            "qid",
            F.col("vec_id").alias("vid"),
            "n1",
            _dot("qsub", "cv").alias("dotm"),
            "cnorm2",
        )
    )
    scored = contrib.groupBy("qid", "vid", "n1").agg(
        F.sum("dotm").alias("adot"), F.sum("cnorm2").alias("an2")
    )
    # same zero-norm ANSI guard as _cos (an2 sums per-subspace centroid
    # norms, so an all-zero-codeword assignment also yields 0)
    cos = F.when(
        (F.col("n1") == 0) | (F.col("an2") == 0), F.lit(0.0)
    ).otherwise(
        F.col("adot").cast("double") / F.sqrt(
            F.col("n1").cast("double") * F.col("an2").cast("double")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vid")
    return (
        scored.withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vid", "cos")
    )


def pq_rerank_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5, shortlist: int = 20,
    books: list | None = None,
    codes: DataFrame | None = None,
    short: DataFrame | None = None,
    query_pred=None,
) -> DataFrame:
    """The standard PQ deployment pattern: ADC scan produces a cheap
    ``shortlist`` of candidates per query, then ONLY those candidates are
    reranked with the exact vectors. At corpus scale the exact vectors
    are fetched for shortlist x queries rows instead of the whole
    collection — PQ's compression pays for the scan, the rerank restores
    exact top-k quality within the shortlist."""
    if short is None:  # pass a precomputed ADC shortlist to avoid rescans
        short = pq_adc_topk(
            emb, n_queries, shortlist, books=books, codes=codes,
            query_pred=query_pred,
        ).select("qid", "vid")
    qe = quantized(emb)
    if query_pred is None:
        query_pred = F.col("vec_id") < n_queries
    queries = qe.where(query_pred).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("a"),
        F.col("norm2").alias("n1"),
    )
    base = qe.select(
        F.col("vec_id").alias("vid"), F.col("qv").alias("b"),
        F.col("norm2").alias("n2"),
    )
    scored = (
        short.join(F.broadcast(queries), "qid")
        .join(base, "vid")
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vid", "cos")
    )
