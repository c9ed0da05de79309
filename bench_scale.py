"""Scale-regression bench: clone-amplified runs of the plan families
whose 100 TB claims previously lived only as PLANS.md prose. Prints ONE
JSON line; the artifact (BENCH_SCALE.json) is refreshed per round so
scale behavior regresses visibly instead of silently.

Entries (inputs from $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1,
on local[$SPARK_GRAFT_CPUS]; single-shot walls — at these sizes ambient
noise is small relative to the run):

- giant_counts_x10: source/target boxes cloned 10x with per-clone x
  offsets (clone i only meets clone i), so true pairs scale exactly
  10x. Exercises theta sampling, tile explode, the broadcast/shuffle
  tile join, and the 11-counter aggregation at 10x volume.
- bucketed_x10: REPEAT join over the persisted 10x-clone bucketed tile
  tables with broadcast disabled — the co-located SortMergeJoin plan
  shape (no Exchange) is asserted inline, so the persisted-layout
  shuffle-free claim regresses at clone scale. The one-time layout
  write runs untimed in setup (bench.py's bucketed_layout line already
  measures the write cost at sf0.1).
- knn_x10: exact kNN over 10x spatially-offset point clones (result
  rows = exactly 10x the base 45000 — clone i only neighbors clone i).
  Exercises theta coarsening, per-round pinning, early-exit schedule.
- lsh_x10: the adversarial MinHash-LSH soak — TEN exact clones of every
  document, so every band bucket holds >= 10 colliding docs and true
  pairs grow ~45x (10 choose 2 per original pair group). Exercises
  hot-bucket behavior of the banded equi-join.
- emb_lsh_x10 / semantic_cluster_x10: 10 exact clones of every
  embedding vector (true pairs = exactly 45 x n, every clone group one
  cluster) through the hyperplane-LSH near-dup path and its
  connected-components composition, with CORPUS-SCALED parameters
  (similarity.auto_lsh_params at the tau=0.9 near-dup regime). This is
  the soak that caught the fixed-parameter quadratic (4 buckets/band
  at any corpus size -> ~400s at 10x; auto policy -> seconds).
- ivf_x10: trained-IVF build + search at 10x with corpus-scaled cell
  count (auto_ivf_cells ~ sqrt(n); the fixed k=8 default is the toy
  setting whose per-query scan cost grows O(n/8)).
- asof_x16_uniform / asof_x16_hotkey / asof_x16_hotkey_auto: 16x
  cloned events through the skew-safe bucket-carry as-of join. The hot
  variants reassign 10% of ALL rows to ONE user — the bot-account
  shape that serializes a per-key unbounded window; the `_auto` line
  uses the engine's own bucket_us="auto" heuristic instead of the
  explicit width, so the policy itself is regressed under skew.
  GATE: hot wall <= ~2x uniform wall (asof_hot_over_uniform).
- giant_skew_x10_uniform / giant_skew_x10_hot (+ the _plain pair): the
  spatial COMPUTE-skew soak — the 10x corpus plus one dense cell
  holding ~1.2M candidate pairs on a few hundred targets in one tile.
  The balanced entries run the skew-split two-path join
  (well_balanced_candidates) with the z-score firing and the union +
  round-robin plan shape asserted inline; the _plain entries run the
  ordinary tile join with broadcast DISABLED (the 100 TB SMJ shape).
  Measured finding: AQE + row-level probe parallelism absorb the dense
  cell on the plain path (hot ~= uniform), so tile-density skew needs
  no manual intervention at box-algebra verification cost — the
  two-path operator is reference-parity insurance for
  expensive-verification workloads, and these entries bound its
  overhead. GATES: giant_skew_plain_hot_over_uniform <= ~2x (measured
  ~0.95-1.5); giant_skew_hot_over_uniform <= ~3x (measured 2.0-2.8
  across runs — the balanced path's candidate checkpoint makes this
  entry I/O-sensitive; trust the ratio only on runs whose probe_sec
  flags are clear).
- giant_skew_x10_auto (r11): the verification-cost dispatcher
  (loadbalance.auto_balance) over the hot corpus — must keep the plain
  path on the box-algebra corpus (estimate 5x5=25 < threshold 64);
  decision + estimate recorded under "skew_auto".
- giant_counts_x100 / lsh_x100 (r11 decade; LSH completed to c=100 in
  r12): the second scale decade, single-rep, probe-BRACKETED (one probe
  each side of the run — decade_probes). giant_counts_x100: 2M x 15M
  boxes, 86,344,200 pairs, pure streaming plan, no-broadcast plan law
  asserted, rows == exactly 10x the x10 entry. lsh_x100: 40,951,500
  pairs — exact-clone cliques make TRUE OUTPUT, hence shuffle volume,
  quadratic in c; c=100 was ENOSPC in r11 with gram strings and fits
  since the hashed-gram verification (r12); exact row law
  pairs = base*c^2 + n*C(c,2) asserted inline. Fit math in the entry
  docstrings.
- stream_ingest_x10 / stream_ingest_x10_batched / batch_ingest_x10:
  micro-batched incremental dedup ingest (4 micro-batches / 1
  amortized micro-batch against the standing pinned shingle index) vs
  the identical pairs in one batch plan. maxFilesPerTrigger is the
  amortization knob: the per-trigger fixed cost times the batch count
  is the overhead, so the _batched variant bounds the knob's best case
  (stream_over_batch_ingest vs stream_batched_over_batch_ingest).
- pq_auto_recall: PQ trained with corpus-scaled auto_pq_params and a
  deployment-sized rerank shortlist; the rerank recall floor (0.70) is
  asserted inline so a silently-degrading PQ tier fails the soak.
- interval_x10_fixed / interval_x10_auto: 6-hour windows through
  interval_join with the legacy fixed 300s bucket (each window explodes
  onto ~73 bucket rows) vs bucket_us="auto" (p95-derived width, ~2
  rows) — regresses the derived-width policy's win on long intervals
  (interval_fixed_over_auto).
- reader_scale {shp,fgb,gpkg} [n] (run on its own, not part of the
  scale_total run): ONE large file of n points written by the format's
  sink, read back through the shared binary scan (io/scan.py) at three
  split sizes — one task for the whole file, and two finer splits. The
  row count must be identical at every split size (asserted); the wall
  ratio is the payoff of split planning. shp adds a bbox leg over 13-
  vertex polygons (record-header short-circuit), fgb a ~1% bbox read
  (R-tree skip), fgb and gpkg a sharded-sink write plus corpus read.
  `python bench_scale.py reader_scale shp 8000000` prints one JSON line.
- python_task_latency [reps] (run on its own, like reader_scale): the
  fixed cost of one Python task. Runs ``reps`` one-row ``mapInArrow``
  jobs on a warm session and reports the median gap from the task's
  launch (Spark's status store) to its first row arriving in Python
  (the task's clock; same host), and the median time of the
  ``importlib.invalidate_caches()`` every task runs at start-up (see
  ds_jedai_spark/worker_daemon.py).
  `python bench_scale.py python_task_latency` prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from ds_jedai_spark.session import get_spark  # noqa: E402

CLONES_SPATIAL = 10
CLONES_LSH = 10
CLONES_ASOF = 16
HOT_FRACTION_MOD = 10  # 1/10 of rows -> the hot user


def _timed(fn):
    t0 = time.perf_counter()
    n = fn()
    return round(time.perf_counter() - t0, 3), n


def giant_counts_x10(spark, sf_dir):
    from ds_jedai_spark.model.tiles import compute_theta
    from ds_jedai_spark.operators.relate import with_relations
    from ds_jedai_spark.operators.spatial_join import tile_join
    from ds_jedai_spark.plans.giant import counts_agg

    # clone gap > domain width: clones disjoint (see _cloned_boxes)
    cs, ct = _cloned_boxes(spark, sf_dir)
    theta = compute_theta(cs)
    out = counts_agg(with_relations(tile_join(cs, ct, theta=theta)))
    row = out.first()
    return row.verifications


def lsh_x10(spark, sf_dir):
    from ds_jedai_spark.operators import dedup
    from ds_jedai_spark.plans.pipeline_plans import TAU_JACCARD, _corpus

    corpus = _corpus(spark, sf_dir)
    rep = spark.range(CLONES_LSH).select(F.col("id").alias("rep"))
    cloned = corpus.crossJoin(rep).select(
        (F.col("doc_id") * CLONES_LSH + F.col("rep")).alias("doc_id"),
        "text",
    )
    # Spread before the shingle explode (the single-parquet input would
    # otherwise hold a handful of partitions and single-thread it) —
    # same spread the engine's _pinned_shingles path applies.
    pairs = dedup.minhash_lsh_pairs(
        cloned.repartition(32), tau=TAU_JACCARD
    )
    return pairs.count()


def knn_x10(spark, sf_dir):
    """Exact kNN at 10x: spatially-offset point clones (clone i only
    neighbors clone i, so true result rows = exactly 10x the base
    45000). Exercises theta coarsening, per-round pinning and the
    early-exit schedule at clone scale."""
    from ds_jedai_spark.io.synthetic import load_sql, point_sql
    from ds_jedai_spark.operators.spatial_join import knn_join_exact

    pts = load_sql(spark, sf_dir, point_sql())
    span = pts.agg(
        F.min("minx").alias("lo"), F.max("maxx").alias("hi")
    ).first()
    shift = (span.hi - span.lo) * 2
    rep = spark.range(CLONES_SPATIAL).select(F.col("id").alias("rep"))
    c = pts.crossJoin(rep).select(
        (F.col("id") * CLONES_SPATIAL + F.col("rep")).alias("id"),
        (F.col("minx") + F.col("rep") * shift).alias("minx"),
        "miny",
        (F.col("maxx") + F.col("rep") * shift).alias("maxx"),
        "maxy",
    )
    return knn_join_exact(c, c, k=3, theta=(1.0, 1.0), self_join=True).count()


def _cloned_boxes(spark, sf_dir, clones: int = CLONES_SPATIAL):
    from ds_jedai_spark.io.synthetic import (
        load_sql,
        source_box_sql,
        target_box_sql,
    )

    source = load_sql(spark, sf_dir, source_box_sql())
    target = load_sql(spark, sf_dir, target_box_sql())
    span = source.unionByName(target).agg(
        F.min("minx").alias("lo"), F.max("maxx").alias("hi")
    ).first()
    shift = (span.hi - span.lo) * 2

    def clone(df):
        # The partitioned RANGE is the left side and the base frame is
        # broadcast: map-side parallelism then scales with the cores,
        # not with the base table's file count. The previous
        # df.crossJoin(range) kept the single-file parquet scan's ONE
        # map task and inflated it x clones — at x1000 that one task
        # generated 450M+ exploded rows alone, and SPILL_EVIDENCE.json
        # (r13) measured the decade wall as exactly this serial stage
        # (executorRunTime / wall =~ 0.28-0.46 x 32 cores), not a plan
        # property. A real corpus at this volume has thousands of input
        # splits, which is what the range side reproduces.
        rep = spark.range(0, clones, 1, 32).select(F.col("id").alias("rep"))
        return rep.join(F.broadcast(df), how="cross").select(
            (F.col("id") * clones + F.col("rep")).alias("id"),
            (F.col("minx") + F.col("rep") * shift).alias("minx"),
            "miny",
            (F.col("maxx") + F.col("rep") * shift).alias("maxx"),
            "maxy",
        )

    return clone(source), clone(target)


def density_cov_x10(spark, sf_dir):
    """Coverage grid density at 10x (r17): x-offset box clones through
    the floor-span explode. Exact row law asserted inline: the sum over
    cells equals the sum over entities of their per-axis cell-span
    product — the explode drops and double-counts nothing, at any
    clone count."""
    from ds_jedai_spark.operators.spatial_agg import grid_density

    cs, _ = _cloned_boxes(spark, sf_dir)
    cell = 4.0
    total = grid_density(cs, cell=cell, coverage=True) \
        .agg(F.sum("n")).first()[0]
    want = cs.selectExpr(
        f"(CAST(floor(maxx / {cell!r}) AS BIGINT)"
        f" - CAST(floor(minx / {cell!r}) AS BIGINT) + 1)"
        f" * (CAST(floor(maxy / {cell!r}) AS BIGINT)"
        f" - CAST(floor(miny / {cell!r}) AS BIGINT) + 1) AS spans"
    ).agg(F.sum("spans")).first()[0]
    assert total == want, (total, want)
    return total


def hull_by_x10(spark, sf_dir):
    """Per-group hulls at 10x (r17): x-offset point clones, one group
    per clone. Exact law: every clone group's (rank, x, y) corner set
    equals the base hull's corners shifted by rep * shift — offsets are
    lattice multiples, so the un-shift is exact double arithmetic."""
    from ds_jedai_spark.io.synthetic import load_sql, point_sql
    from ds_jedai_spark.operators.hull import convex_hull

    pts = load_sql(spark, sf_dir, point_sql())
    span = pts.agg(F.min("minx").alias("lo"),
                   F.max("maxx").alias("hi")).first()
    shift = (span.hi - span.lo) * 2
    rep = spark.range(0, CLONES_SPATIAL, 1, 32) \
        .select(F.col("id").alias("rep"))
    cloned = rep.join(F.broadcast(pts), how="cross").select(
        (F.col("id") * CLONES_SPATIAL + F.col("rep")).alias("id"),
        F.col("rep").alias("grp"),
        (F.col("minx") + F.col("rep") * shift).alias("minx"),
        "miny",
        (F.col("maxx") + F.col("rep") * shift).alias("maxx"),
        "maxy",
    )
    hulls = convex_hull(cloned, by="grp").collect()
    base = {(r.rank, r.x, r.y) for r in convex_hull(pts).collect()}
    by_g = {}
    for r in hulls:
        by_g.setdefault(r.grp, set()).add(
            (r.rank, r.x - r.grp * shift, r.y))
    assert set(by_g) == set(range(CLONES_SPATIAL)), sorted(by_g)
    for g, corners in by_g.items():
        assert corners == base, g
    return len(hulls)


def quantiles_x10(spark, sf_dir):
    """Exact global quantiles at 10x (r17): orders cloned tenfold
    (1.5M rows at sf0.1) through the distributed two-phase rank. Exact
    law asserted inline, one aggregate pass: each returned value v_p
    must BE the k-th order statistic — count(v <= v_p) >= k and
    count(v < v_p) < k with k = 1 + (p * (n - 1)) div 1000."""
    from ds_jedai_spark.io.synthetic import load_sql
    from ds_jedai_spark.operators.ranking import exact_quantiles

    base = load_sql(
        spark, sf_dir, "SELECT o_orderkey, o_totalprice FROM orders"
    )
    rep = spark.range(0, 10, 1, 32).select(F.col("id").alias("rep"))
    cloned = rep.join(F.broadcast(base), how="cross").select(
        (F.col("o_orderkey") * 10 + F.col("rep")).alias("id"),
        F.col("o_totalprice").alias("v"),
    )
    n = cloned.count()
    perm = (10, 250, 500, 750, 900, 990)
    got = {
        r["permille"]: r["value"]
        for r in exact_quantiles(cloned, "v", perm,
                                 tiebreak=["id"]).collect()
    }
    assert set(got) == set(perm), sorted(got)
    aggs = []
    for p in perm:
        aggs.append(F.sum((F.col("v") <= got[p]).cast("long")).alias(f"le{p}"))
        aggs.append(F.sum((F.col("v") < got[p]).cast("long")).alias(f"lt{p}"))
    row = cloned.agg(*aggs).first()
    for p in perm:
        k = 1 + (p * (n - 1)) // 1000
        assert row[f"le{p}"] >= k and row[f"lt{p}"] < k, (p, k, dict(row.asDict()))
    return n


CLONES_DECADE = 100
CLONES_LSH_DECADE = 100


def giant_counts_x100(spark, sf_dir):
    """The second scale decade: 2M x 15M boxes (100 clones), 86,344,200
    true pairs — pure streaming plan (tile explode -> join -> codegen
    box algebra -> one 9-counter Exchange), nothing materialized.

    Fit math for the 128 GiB box: the exploded tile-join shuffle is
    ~2M*avg_tiles + 15M*avg_tiles rows x ~50 B = 1-2 GB; the 86M
    verified pairs stream straight into the partial aggregates (no
    pair materialization), so memory is flat in the clone factor.
    Plan law asserted inline: at 100x neither side may broadcast —
    the exploded source must stay on a shuffle join (the 100 TB
    shape), catching a broadcast-threshold flip or an AQE plan
    surprise at the new decade. Row law asserted in main():
    verifications == exactly 10x the x10 entry."""
    from ds_jedai_spark.model.tiles import compute_theta
    from ds_jedai_spark.operators.relate import with_relations
    from ds_jedai_spark.operators.spatial_join import tile_join
    from ds_jedai_spark.plans.giant import counts_agg

    cs, ct = _cloned_boxes(spark, sf_dir, clones=CLONES_DECADE)
    theta = compute_theta(cs)
    out = counts_agg(with_relations(tile_join(cs, ct, theta=theta)))
    v = out.first().verifications
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, (
        "100x tile join picked a broadcast — threshold flip at the "
        "second scale decade"
    )
    return v


def giant_counts_x1000(spark, sf_dir):
    """The THIRD scale decade (r12): 20M x 150M boxes (1000 clones),
    863,442,000 true pairs — the same pure streaming plan, nothing
    materialized. Row law asserted in main(): verifications == exactly
    10x the x100 entry (clone i only meets clone i).

    r13 (SPILL_EVIDENCE.json): the r12 "26x per decade" wall was NOT
    the claimed shuffle-spill box constant — stage metrics showed the
    old clone harness kept ONE map task (single parquet file x
    crossJoin inflation; cores ~50-75% idle) with reducer sort spill
    secondary (3.2 GB mem / 127 MB disk at 32 shuffle partitions, zero
    at x100). With the clone builder fixed (_cloned_boxes: range side
    partitioned, base broadcast) the wall fell 445.6 -> 143.9 s, and
    sizing shuffle partitions to the decade (128 here = 4x the core
    count; still measured, see the sweep) removes the remaining spill
    entirely: 113.1 s, decade factor 13.0x whose residual over 10x is
    measured reducer sort CPU. This is the round's knob lesson
    applied: shuffle partitions scale with data volume, not a fixed
    core count."""
    from ds_jedai_spark.model.tiles import compute_theta
    from ds_jedai_spark.operators.relate import with_relations
    from ds_jedai_spark.operators.spatial_join import tile_join
    from ds_jedai_spark.plans.giant import counts_agg

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    try:
        cs, ct = _cloned_boxes(spark, sf_dir, clones=1000)
        theta = compute_theta(cs)
        out = counts_agg(with_relations(tile_join(cs, ct, theta=theta)))
        v = out.first().verifications
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, (
            "1000x tile join picked a broadcast at the third scale decade"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return v


def lsh_x100(spark, sf_dir):
    """MinHash-LSH at the FULL second scale decade (100 exact clones).
    Exact-clone cliques make the TRUE OUTPUT quadratic in the clone
    factor — qualifying pairs obey pairs(c) = base_pairs*c^2 +
    n_docs*C(c,2) exactly (identical signatures collide identically,
    verification Jaccard over hashed grams is exact) — so the binding
    resource is not memory but SHUFFLE DISK for the verification join
    (~pairs x ~51 common shingles rows). c=100 measured ENOSPC in r11
    with gram STRINGS in the verification stream (>60 GB spill on 79 GB
    free disk); r12's hashed-gram verification (dedup._hashed_shingles:
    8-byte ids instead of ~30-byte strings) halves that stream and the
    full decade fits — 40,951,500 pairs, ~2.1 B verification join rows.
    Memory is flat in c throughout (pinned shingle table ~0.3 GB,
    candidate pin ~0.6 GB, everything else streams); a production
    100 TB pass additionally caps the clique quadratic structurally by
    running exact-hash dedup BEFORE MinHash (the pipeline's dedup_exact
    stage), which collapses identical docs to one representative.
    The exact row law is asserted inline."""
    from ds_jedai_spark.operators import dedup
    from ds_jedai_spark.plans.pipeline_plans import TAU_JACCARD, _corpus

    corpus = _corpus(spark, sf_dir)
    n = corpus.count()
    base = dedup.minhash_lsh_pairs(
        corpus.repartition(32), tau=TAU_JACCARD
    ).count()
    c = CLONES_LSH_DECADE
    rep = spark.range(c).select(F.col("id").alias("rep"))
    cloned = corpus.crossJoin(rep).select(
        (F.col("doc_id") * c + F.col("rep")).alias("doc_id"),
        "text",
    )
    pairs = dedup.minhash_lsh_pairs(
        cloned.repartition(32), tau=TAU_JACCARD
    ).count()
    want = base * c**2 + n * c * (c - 1) // 2
    assert pairs == want, (
        f"x{c} LSH row law broke: {pairs} != {base}*{c}^2 + {n}*C({c},2) "
        f"= {want}"
    )
    return pairs


def bucketed_x10_setup(spark, sf_dir):
    """One-time write of the 10x-clone bucketed tile layout (the cost a
    repeatedly-joined 100 TB reference layer pays once). Untimed here —
    the regressed number is the REPEAT join below."""
    from ds_jedai_spark.io import bucketed as bk
    from ds_jedai_spark.model.tiles import compute_theta

    cs, ct = _cloned_boxes(spark, sf_dir)
    theta = compute_theta(cs)
    bk.persist_tiled(cs, "scale_bt_src", theta, buckets=32)
    bk.persist_tiled(ct, "scale_bt_tgt", theta, buckets=32)
    return theta


def bucketed_x10(theta):
    """Repeat join over the persisted 10x bucketed tile tables with
    broadcast disabled — the co-located SortMergeJoin the 100 TB
    persisted-layout claim rests on. The no-Exchange plan shape is
    asserted inline, so the shuffle-free claim regresses at clone scale
    (not just at sf0.1 in bench.py)."""

    def q(spark, sf_dir):
        from ds_jedai_spark.io.bucketed import bucketed_tile_join
        from ds_jedai_spark.operators.relate import with_relations
        from ds_jedai_spark.plans.giant import counts_agg

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cand = bucketed_tile_join(
                spark, "scale_bt_src", "scale_bt_tgt", theta
            )
            out = counts_agg(with_relations(cand))
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, "expected co-located SMJ"
            assert "Exchange hashpartitioning" not in plan, (
                "bucketed join shuffled at 10x"
            )
            return out.first().verifications
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return q


def _cloned_embeddings(spark, sf_dir):
    from ds_jedai_spark.plans.pipeline_plans import _emb

    emb = _emb(spark, sf_dir)
    rep = spark.range(CLONES_LSH).select(F.col("id").alias("rep"))
    return emb.crossJoin(rep).select(
        (F.col("vec_id") * CLONES_LSH + F.col("rep")).alias("vec_id"),
        "label",
        "embedding",
    ).repartition(32)


EMB_TAU_NEARDUP = 0.9  # production near-dup regime (gate's 0.4 is the
#                        toy-corpus setting; see auto_lsh_params)


def emb_lsh_x10(spark, sf_dir):
    """Embedding-LSH soak: 10 exact clones of every vector (cos = 1.0
    within each clone group, so true pairs = exactly 45 x n) through
    the banded-hyperplane path with CORPUS-SCALED parameters
    (auto_lsh_params). This is the regression that caught the
    fixed-parameter quadratic: at 8 bands x 2 bits the 10x corpus kept
    only 4 buckets per band and the collision join detonated to ~400s;
    the auto policy (more bits, logarithmically more bands) runs it in
    seconds with identical output."""
    from ds_jedai_spark.operators.similarity import (
        auto_lsh_params,
        lsh_neardup_pairs,
    )

    cloned = _cloned_embeddings(spark, sf_dir)
    bands, bits = auto_lsh_params(cloned.count(), EMB_TAU_NEARDUP)
    return lsh_neardup_pairs(
        cloned, EMB_TAU_NEARDUP, n_bands=bands, n_bits=bits
    ).count()


def semantic_cluster_x10(spark, sf_dir):
    """End-to-end semantic dedup at 10x: LSH pair discovery (auto
    params) feeding connected-components — every clone group must
    resolve to one cluster (nodes counted = all cloned vectors)."""
    from ds_jedai_spark.operators.dedup import duplicate_clusters
    from ds_jedai_spark.operators.similarity import (
        auto_lsh_params,
        lsh_neardup_pairs,
    )

    cloned = _cloned_embeddings(spark, sf_dir)
    bands, bits = auto_lsh_params(cloned.count(), EMB_TAU_NEARDUP)
    pairs = lsh_neardup_pairs(
        cloned, EMB_TAU_NEARDUP, n_bands=bands, n_bits=bits
    )
    return duplicate_clusters(pairs, id1="d1", id2="d2").count()


def simhash_x10(spark, sf_dir):
    """Two-word SimHash soak at 10x: exact document clones share
    identical fingerprints (hamming 0), so true pairs >= 45 x n. The
    words=2 scale form bands 64 fingerprint bits into 4 x 16-bit keys —
    65536 buckets per band vs the 32-bit default's 256, closing the
    same fixed-parameter quadratic the LSH families had."""
    from ds_jedai_spark.operators import dedup
    from ds_jedai_spark.plans.pipeline_plans import MAX_HAMMING, _corpus

    corpus = _corpus(spark, sf_dir)
    rep = spark.range(CLONES_LSH).select(F.col("id").alias("rep"))
    cloned = corpus.crossJoin(rep).select(
        (F.col("doc_id") * CLONES_LSH + F.col("rep")).alias("doc_id"),
        "text",
    )
    return dedup.simhash_pairs(
        cloned.repartition(32), MAX_HAMMING, words=2
    ).count()


def ivf_x10(spark, sf_dir):
    """Trained-IVF soak at 10x with CORPUS-SCALED cell count
    (auto_ivf_cells ~ sqrt(n)): build the index (Lloyd train + assign,
    pinned) over the cloned corpus, then search top-3 for the query
    subset. The fixed k=8 default leaves per-query scan cost O(n/8) —
    the sqrt policy is what a growing corpus deploys; identical search
    semantics (same argmin/tie-break lineage, just more cells)."""
    from ds_jedai_spark.operators.similarity import (
        auto_ivf_cells,
        ivf_trained_topk,
        kmeans_assignments,
        train_centroids,
    )

    cloned = _cloned_embeddings(spark, sf_dir)
    cells_n = auto_ivf_cells(cloned.count())
    cent = train_centroids(cloned, k=cells_n).localCheckpoint()
    cells = kmeans_assignments(cloned, cent=cent).select(
        "vec_id", "cid"
    ).localCheckpoint()
    return ivf_trained_topk(cloned, cent=cent, cells=cells).count()


PQ_RECALL_FLOOR = 0.70
PQ_SHORTLIST = 50


def pq_auto_recall(spark, sf_dir):
    """Corpus-scaled PQ quality gate at sf0.1: train with
    auto_pq_params (8-dim sub-blocks, codewords ~ n/64 — the toy
    defaults are PQ_M=4 / 8 codewords) and a deployment-sized rerank
    shortlist, then ASSERT the rerank recall floor. This is the
    regression that catches a silently-degrading PQ tier: the gate's
    oracle-replayed pq_recall pins exact numbers at sf0.01 toy params,
    while this entry pins that the SCALED policy keeps real retrieval
    quality (measured 0.78 at sf0.1; floor 0.70). Returns
    round(recall * 1000) as the recorded row value."""
    from ds_jedai_spark.operators import similarity as S
    from ds_jedai_spark.plans.pipeline_plans import _emb

    emb = _emb(spark, sf_dir).localCheckpoint()
    n = emb.count()
    dim = len(emb.select("embedding").first()["embedding"])
    m, k = S.auto_pq_params(n, dim)
    books = S.pin_codebooks(emb, k=k, m=m)
    codes = S.pin_codes(emb, books)
    r = S.pq_recall(
        emb, books=books, codes=codes, shortlist=PQ_SHORTLIST
    ).first()
    assert r["rerank_recall"] >= PQ_RECALL_FLOOR, (
        f"auto-PQ rerank recall collapsed: {r['rerank_recall']:.3f} < "
        f"{PQ_RECALL_FLOOR} (m={m}, k={k}, shortlist={PQ_SHORTLIST})"
    )
    return round(r["rerank_recall"] * 1000)


def _cloned_events(spark, sf_dir, hot: bool):
    from ds_jedai_spark.plans.timeseries_plans import _events

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts",
                                       "event_type", "value")
    rep = spark.range(CLONES_ASOF).select(F.col("id").alias("rep"))
    c = ev.crossJoin(rep).select(
        (F.col("event_id") * CLONES_ASOF + F.col("rep")).alias("event_id"),
        (F.col("user_id") * CLONES_ASOF + F.col("rep")).alias("user_id"),
        "ts",
        "event_type",
        "value",
    )
    if hot:
        c = c.withColumn(
            "user_id",
            F.when(
                F.pmod(F.col("event_id"), F.lit(HOT_FRACTION_MOD)) == 0,
                F.lit(-1).cast("long"),
            ).otherwise(F.col("user_id")),
        )
    return c


N_HOT_SRC = 3000
N_HOT_TGT = 300


def _skew_boxes(spark, sf_dir, hot: bool):
    """10x-clone corpus, optionally plus ONE dense cell: N_HOT_SRC
    stacked small sources x N_HOT_TGT stacked small targets in a single
    tile-sized spot of clone 0's domain — ~900k candidate pairs (~10% of
    the 10x corpus total) concentrated on a few hundred hot targets in
    one tile. This is the compute-skew shape AQE cannot split (the
    skewed work is VERIFICATION inside one tile's partition, not
    shuffle bytes) and the reference's WellBalanced linker exists for
    (WellBalancedDistributedInterlinking.scala:33-92)."""
    cs, ct = _cloned_boxes(spark, sf_dir)
    if not hot:
        return cs, ct
    ref = cs.agg(F.min("minx").alias("x"), F.min("miny").alias("y")).first()
    x0, y0 = float(ref["x"]), float(ref["y"])

    def stacked(n, id_base, w):
        jitter = (F.col("id") % 16).cast("double") / 320.0
        return spark.range(n).select(
            (F.lit(id_base) + F.col("id")).alias("id"),
            (F.lit(x0) + jitter).alias("minx"),
            (F.lit(y0) + jitter).alias("miny"),
            (F.lit(x0) + jitter + F.lit(w)).alias("maxx"),
            (F.lit(y0) + jitter + F.lit(w)).alias("maxy"),
        )

    return (
        cs.unionByName(stacked(N_HOT_SRC, 10**9, 0.05)),
        ct.unionByName(stacked(N_HOT_TGT, 2 * 10**9, 0.05)),
    )


def giant_skew_x10_plain(hot: bool):
    """The PLAIN engine path over the skew corpus with broadcast
    DISABLED — the 100 TB shape (neither side broadcasts, the tile join
    is an SMJ, the hot tile's pairs land in one shuffle partition).
    Measured finding this soak regresses: row-level probe parallelism +
    AQE absorb the dense cell (hot ~= uniform wall, 9.8M vs 8.6M pairs)
    — the engine needs NO manual intervention for tile-density skew at
    box-algebra verification cost; the two-path split below is the
    reference-parity insurance for expensive-verification workloads and
    its overhead is what the balanced entries bound."""

    def q(spark, sf_dir):
        from ds_jedai_spark.model.tiles import compute_theta
        from ds_jedai_spark.operators.relate import with_relations
        from ds_jedai_spark.operators.spatial_join import tile_join
        from ds_jedai_spark.plans.giant import counts_agg

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cs, ct = _skew_boxes(spark, sf_dir, hot)
            theta = compute_theta(cs)
            out = counts_agg(
                with_relations(tile_join(cs, ct, theta=theta))
            )
            v = out.first().verifications
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, "expected the no-broadcast SMJ"
            return v
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return q


def giant_skew_x10(hot: bool):
    """GIA.nt counts through the skew-split two-path join over the
    adversarial corpus. The hot entry also PINS the balanced plan shape
    (union of the cheap branch with a round-robin-repartitioned skew
    branch) and proves the z-score actually fired — otherwise the soak
    would time the plain join and call it balanced."""

    def q(spark, sf_dir):
        from ds_jedai_spark.model.tiles import compute_theta
        from ds_jedai_spark.operators.loadbalance import (
            skew_targets,
            well_balanced_candidates,
        )
        from ds_jedai_spark.operators.relate import with_relations
        from ds_jedai_spark.operators.spatial_join import tile_join
        from ds_jedai_spark.plans.giant import counts_agg

        cs, ct = _skew_boxes(spark, sf_dir, hot)
        theta = compute_theta(cs)
        # pin the candidate stream ourselves so the z-score probe below
        # reuses the materialization (well_balanced_candidates re-pins —
        # a partition copy, not a join recompute)
        cand = tile_join(cs, ct, theta=theta).localCheckpoint()
        n_skew = skew_targets(cand).count()  # run in BOTH entries so the
        # hot/uniform wall ratio compares identical plans
        if hot:
            assert n_skew >= N_HOT_TGT, (
                f"z-score did not fire on the hot cell ({n_skew} skew "
                "targets) — the soak would time the plain join"
            )
        bal = well_balanced_candidates(cand, skew_parts=32)
        out = counts_agg(with_relations(bal))
        if hot:
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Union" in plan and "roundrobin" in plan.lower(), (
                "expected two-path union with round-robin skew branch"
            )
        return out.first().verifications

    return q


AUTO_DECISION: dict[str, object] = {}


def giant_skew_x10_auto(spark, sf_dir):
    """The r11 dispatcher over the hot corpus: api-level auto_balance
    estimates per-pair verification cost from bounded input samples and
    must pick the PLAIN path on the box-algebra corpus (5x5-vertex cost
    25 < threshold 64 — the regime where the split's ~2x overhead,
    bounded by the balanced entries above, buys nothing). Wall should
    track giant_skew_x10_hot_plain, not giant_skew_x10_hot; the
    decision + estimate are recorded in the JSON (skew_auto)."""
    from ds_jedai_spark.model.tiles import compute_theta
    from ds_jedai_spark.operators.loadbalance import (
        auto_balance,
        estimate_pair_cost,
    )
    from ds_jedai_spark.operators.relate import with_relations
    from ds_jedai_spark.operators.spatial_join import tile_join
    from ds_jedai_spark.plans.giant import counts_agg

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cs, ct = _skew_boxes(spark, sf_dir, hot=True)
        cand = tile_join(cs, ct, theta=compute_theta(cs))
        routed, engaged = auto_balance(cand, cs, ct, mode="AUTO")
        assert not engaged, (
            "dispatcher engaged the skew split on the box-algebra corpus"
        )
        AUTO_DECISION["engaged"] = engaged
        AUTO_DECISION["est_pair_cost"] = round(estimate_pair_cost(cs, ct), 1)
        return counts_agg(with_relations(routed)).first().verifications
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


INTERVAL_WINDOW_HOURS = 6


def interval_x10(bucket):
    """Long-interval soak: 16x-cloned click events joined onto 6-hour
    error windows per user. With the legacy FIXED 300s bucket every
    window explodes onto ~73 bucket rows; bucket_us='auto' derives the
    width from the p95 window length (~2 rows per window) — the policy
    the round-6/7 reviews demanded a derived form for."""

    def q(spark, sf_dir):
        from ds_jedai_spark.operators.temporal import interval_join

        ev = _cloned_events(spark, sf_dir, hot=False)
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        errors = ev.where(F.col("event_type") == "error").select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("w_start"),
            F.expr(
                f"ts + INTERVAL {INTERVAL_WINDOW_HOURS} HOURS"
            ).alias("w_end"),
            F.col("event_id").alias("error_id"),
        )
        return interval_join(
            clicks, errors, left_ts="ts",
            right_start="w_start", right_end="w_end",
            bucket_us=bucket,
            keys=[("user_id", "e_user")],
        ).count()

    return q


def _ingest_parts(spark, sf_dir, tmp_dir: str):
    """Shared setup for the ingest soak: 10x-cloned documents split into
    an arriving batch (even ids, written as an 8-file parquet directory
    so the stream splits into micro-batches) and a standing index (odd
    ids, pinned shingle table) — built once, untimed, like the
    bucketed layout."""
    from ds_jedai_spark.operators import dedup
    from ds_jedai_spark.plans.pipeline_plans import _corpus

    corpus = _corpus(spark, sf_dir)
    rep = spark.range(CLONES_LSH).select(F.col("id").alias("rep"))
    cloned = corpus.crossJoin(rep).select(
        (F.col("doc_id") * CLONES_LSH + F.col("rep")).alias("doc_id"),
        "text",
    )
    batch = cloned.where(F.col("doc_id") % 2 == 0)
    index = cloned.where(F.col("doc_id") % 2 == 1).repartition(32)
    batch.repartition(8).write.mode("overwrite").parquet(tmp_dir)
    index_sh = dedup.pin_shingles(index)
    return {"dir": tmp_dir, "index_sh": index_sh}


def stream_ingest_x10(parts, files_per_trigger: int = 2):
    """Micro-batched incremental-dedup INGEST wall at 10x: the cloned
    batch documents arrive as a file stream split into micro-batches
    (``files_per_trigger`` over 8 files) and each micro-batch runs the
    cross-corpus MinHash-LSH path against the standing pinned shingle
    index. The comparable batch number is batch_ingest_x10 — the same
    pairs in one batch plan; the stream/batch ratio is the micro-batch
    orchestration overhead a production ingest pays.

    maxFilesPerTrigger IS the amortization knob: each micro-batch pays
    a fixed planning + band-join + sink-commit cost, so overhead ~
    n_batches x fixed_cost. The default entry (2 files -> 4 batches)
    measured ~2.9x its batch twin; the _batched variant (8 files -> 1
    batch) bounds the knob's best case. Latency trades the other way —
    fewer, larger triggers mean later first results; see PLANS.md
    ("Streaming ingest amortization")."""

    def q(spark, sf_dir):
        from ds_jedai_spark.io.bucketed import drop_table_and_location
        from ds_jedai_spark.plans.pipeline_plans import TAU_JACCARD
        from ds_jedai_spark.streaming import geostream as gs

        table = f"scale_stream_ingest_tbl_f{files_per_trigger}"
        stream = gs.event_stream(
            spark, parts["dir"], maxFilesPerTrigger=str(files_per_trigger)
        ).repartition(32)
        drop_table_and_location(spark, table)
        gs.stream_incremental_dedup(
            stream, parts["index_sh"], TAU_JACCARD, table,
        )
        return spark.table(table).count()

    return q


def batch_ingest_x10(parts):
    def q(spark, sf_dir):
        from ds_jedai_spark.operators import dedup
        from ds_jedai_spark.plans.pipeline_plans import TAU_JACCARD

        batch = spark.read.parquet(parts["dir"]).repartition(32)
        return dedup.minhash_lsh_pairs_cross(
            batch, None, tau=TAU_JACCARD, sh_b=parts["index_sh"]
        ).count()

    return q


def asof_x16(hot: bool, bucket: object = "explicit"):
    def q(spark, sf_dir):
        from ds_jedai_spark.operators.temporal import asof_join
        from ds_jedai_spark.plans.timeseries_plans import ASOF_BUCKET_US

        ev = _cloned_events(spark, sf_dir, hot)
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id").alias("purchase_id"), "value"
        )
        return asof_join(
            clicks, purchases, key="user_id", ts="ts",
            right_attrs=("purchase_id", "value"),
            bucket_us=ASOF_BUCKET_US if bucket == "explicit" else bucket,
        ).count()

    return q


# reader_scale: per format, the keyword that sizes a split and the three
# legs (None = the whole file in one split); the speedup field divides
# the one-split wall by the named leg's.
READER_SCALE = {
    "shp": dict(records=8_000_000, split="split_bytes",
                legs=(("one_task", None), ("split_64mb", 64 << 20),
                      ("split_8mb", 8 << 20)),
                speedup=("speedup_8mb_vs_one_task", "split_8mb")),
    "fgb": dict(records=2_000_000, split="split_bytes",
                legs=(("one_task", None), ("default_8mb", 8 << 20),
                      ("split_2mb", 2 << 20)),
                speedup=("speedup_8mb_vs_one_task", "default_8mb")),
    "gpkg": dict(records=2_000_000, split="split_rows",
                 legs=(("one_split", None), ("rows_250k", 250_000),
                       ("rows_50k", 50_000)),
                 speedup=("speedup_250k_vs_one_split", "rows_250k")),
}


def reader_scale(spark, fmt: str, n: int, cpus: int) -> dict:
    """One binary reader at size: write ONE file of ``n`` points with
    the format's single-file sink, read it back at each split size of
    READER_SCALE (same rows every time, asserted), plus the format's
    bbox and sharded-corpus legs. Returns the JSON fields."""
    import shutil
    import tempfile

    from ds_jedai_spark.io import flatgeobuf, geopackage, shapefile

    read = {"shp": shapefile.read_shapefile,
            "fgb": flatgeobuf.read_flatgeobuf,
            "gpkg": geopackage.read_geopackage}[fmt]
    spec = READER_SCALE[fmt]
    d = tempfile.mkdtemp(prefix=f"{fmt}_scale_")
    x = (F.col("id") % 4096).cast("double") / 16.0
    y = ((F.col("id") * 31) % 4096).cast("double") / 16.0
    pts = spark.range(n).select(
        F.col("id").cast("string").alias("id"),
        F.lit("POINT").alias("gtype"),
        F.array(F.array(F.array(x, y))).alias("coords"),
        x.alias("minx"), y.alias("miny"), x.alias("maxx"), y.alias("maxy"),
    )
    if fmt == "shp":
        out = os.path.join(d, "big")
        w_write, _ = _timed(lambda: shapefile.export_shapefile(
            pts.coalesce(1), out))
        path = next(str(p) for p in Path(out).glob("*.shp"))
    else:
        path = os.path.join(d, f"big.{fmt}")
        sink = (flatgeobuf.export_flatgeobuf if fmt == "fgb"
                else geopackage.export_geopackage)
        w_write, _ = _timed(lambda: sink(pts, path))
    size = os.path.getsize(path)
    whole = size + 100 if spec["split"] == "split_bytes" else n + 1

    # untimed: the session's first scan pays the Python-worker start,
    # which would otherwise land on the one-split leg's wall
    read(spark, path, id_field=None).count()
    walls, counts = {}, {}
    for name, split in spec["legs"]:
        walls[name], counts[name] = _timed(lambda: read(
            spark, path, id_field=None,
            **{spec["split"]: split or whole}).count())
    assert set(counts.values()) == {n}, counts
    speedup, leg = spec["speedup"]
    res = {"records": n, f"{fmt}_bytes": size, "write_sec": w_write,
           "read_sec": walls,
           speedup: round(walls[spec["legs"][0][0]] / walls[leg], 2)}

    if fmt in ("fgb", "gpkg"):
        # the distributed sink: one shard per partition, written by the
        # executors in parallel, read back as one corpus scan
        shards = os.path.join(d, "shards")
        sharded = (flatgeobuf.export_flatgeobuf_sharded if fmt == "fgb"
                   else geopackage.export_geopackage_sharded)
        w_sharded, _ = _timed(lambda: sharded(pts.repartition(cpus),
                                              shards))
        r_corpus, n_corpus = _timed(lambda: read(
            spark, shards, id_field=None).count())
        assert n_corpus == n, (n_corpus, n)
        res.update(sharded_write_sec=w_sharded,
                   sharded_write_speedup=round(
                       w_sharded and w_write / w_sharded, 2),
                   corpus_read_sec=r_corpus)
    if fmt == "fgb":
        # ~1% of the 256x256 extent: the R-tree skips the rest
        box = (100.0, 100.0, 125.6, 125.6)
        res["bbox_sec"], res["bbox_rows"] = _timed(lambda: read(
            spark, path, id_field=None, bbox=box).count())
    if fmt == "shp":
        # 13-vertex polygons, then a ~1% window read: the record-header
        # box check skips vertex decode for non-matching records.
        # The closing vertex is appended EXACTLY (i=12 trig would land
        # a few ulp off the i=0 vertex and fail the ring-closure check).
        npoly = max(100_000, n // 8)
        polys = spark.range(npoly).select(
            F.col("id").cast("string").alias("id"),
            F.lit("POLYGON").alias("gtype"),
            F.expr(
                "array(concat(transform(sequence(0, 11), i -> array("
                "cast(id % 4096 as double) / 16.0 + 0.5 * cos(i * pi() / 6.0),"
                "cast((id * 31) % 4096 as double) / 16.0"
                " + 0.5 * sin(i * pi() / 6.0))), "
                "array(array(cast(id % 4096 as double) / 16.0 + 0.5, "
                "cast((id * 31) % 4096 as double) / 16.0))))"
            ).alias("coords"),
        ).coalesce(1)
        outp = os.path.join(d, "bigpoly")
        shapefile.export_shapefile(polys, outp)
        shpp = next(str(p) for p in Path(outp).glob("*.shp"))
        box = (0.0, 0.0, 25.6, 25.6)
        full_sec, n_full = _timed(lambda: read(
            spark, shpp, id_field=None).count())
        bbox_sec, n_box = _timed(lambda: read(
            spark, shpp, id_field=None, bbox=box).count())
        assert n_full == npoly and 0 < n_box < n_full, (n_full, n_box)
        res.update(poly_records=npoly, poly_full_sec=full_sec,
                   poly_bbox_sec=bbox_sec, poly_bbox_rows=n_box,
                   speedup_bbox_vs_full=round(full_sec / bbox_sec, 2))
    res["cpus"] = cpus
    shutil.rmtree(d, ignore_errors=True)
    return res


def python_task_latency(spark, reps: int = 15) -> dict:
    """Median launch-to-first-row latency of a one-row ``mapInArrow``
    task and median in-task ``importlib.invalidate_caches()`` time over
    ``reps`` jobs, after one untimed job starts the worker."""
    import statistics
    import uuid

    import pyarrow as pa

    def first_row(batches):
        import importlib

        for _ in batches:
            arrived = time.time()
            t = time.perf_counter()
            importlib.invalidate_caches()
            yield pa.RecordBatch.from_pydict({
                "arrived": [arrived],
                "invalidate_s": [time.perf_counter() - t]})

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    one = spark.range(1, numPartitions=1).mapInArrow(
        first_row, "arrived double, invalidate_s double")
    one.collect()
    latency, invalidate = [], []
    for _ in range(reps):
        group = uuid.uuid4().hex
        sc.setJobGroup(group, group)
        try:
            row = one.collect()[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        (job,) = st.getJobIdsForGroup(group)
        (stage,) = st.getJobInfo(job).stageIds
        launched = store.taskList(stage, 0, 1).head().launchTime().getTime()
        latency.append(row.arrived - launched / 1000.0)
        invalidate.append(row.invalidate_s)
    return {"entry": "python_task_latency", "reps": reps,
            "launch_to_first_row_s": round(statistics.median(latency), 4),
            "invalidate_caches_s": round(statistics.median(invalidate), 5),
            "python": ".".join(map(str, sys.version_info[:3])),
            "daemon": sc.getConf().get("spark.python.daemon.module",
                                       "pyspark.daemon")}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")
    spark = get_spark("ds_jedai_spark_bench_scale")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    import tempfile

    bt_theta = bucketed_x10_setup(spark, sf_dir)
    ingest = _ingest_parts(spark, sf_dir, tempfile.mkdtemp(prefix="ingest_"))
    entries = [
        ("giant_counts_x10", lambda: giant_counts_x10(spark, sf_dir)),
        ("bucketed_x10", lambda: bucketed_x10(bt_theta)(spark, sf_dir)),
        ("knn_x10", lambda: knn_x10(spark, sf_dir)),
        # the reference's flagship balancing concern under an adversarial
        # hot tile (~10% of all candidates on a few hundred targets in
        # one spot) — the skew-split two-path union plan is pinned inline
        # and the z-score firing asserted; GATE: hot wall <= ~2x uniform
        ("giant_skew_x10_uniform",
         lambda: giant_skew_x10(False)(spark, sf_dir)),
        ("giant_skew_x10_hot", lambda: giant_skew_x10(True)(spark, sf_dir)),
        # the same hot corpus through the PLAIN no-broadcast SMJ — pins
        # the measured finding that AQE + row-level probe parallelism
        # absorb the dense tile without the two-path split
        ("giant_skew_x10_hot_plain",
         lambda: giant_skew_x10_plain(True)(spark, sf_dir)),
        ("giant_skew_x10_uniform_plain",
         lambda: giant_skew_x10_plain(False)(spark, sf_dir)),
        # r11: the verification-cost dispatcher must keep the plain path
        # on the box corpus (decision + estimate recorded in skew_auto)
        ("giant_skew_x10_auto", lambda: giant_skew_x10_auto(spark, sf_dir)),
        # r11: the second scale decade (single-shot — fit math and the
        # exact row laws live in the entry docstrings / asserts)
        ("giant_counts_x100", lambda: giant_counts_x100(spark, sf_dir)),
        ("giant_counts_x1000", lambda: giant_counts_x1000(spark, sf_dir)),
        ("lsh_x100", lambda: lsh_x100(spark, sf_dir)),
        ("lsh_x10", lambda: lsh_x10(spark, sf_dir)),
        ("emb_lsh_x10", lambda: emb_lsh_x10(spark, sf_dir)),
        ("semantic_cluster_x10", lambda: semantic_cluster_x10(spark, sf_dir)),
        ("ivf_x10", lambda: ivf_x10(spark, sf_dir)),
        # corpus-scaled PQ params + deployment shortlist with the rerank
        # recall floor ASSERTED (value recorded = recall x 1000)
        ("pq_auto_recall", lambda: pq_auto_recall(spark, sf_dir)),
        ("simhash_x10", lambda: simhash_x10(spark, sf_dir)),
        # micro-batched ingest vs the same pairs in one batch plan
        ("stream_ingest_x10", lambda: stream_ingest_x10(ingest)(spark, sf_dir)),
        # the amortization knob's best case: all 8 files in ONE trigger
        ("stream_ingest_x10_batched",
         lambda: stream_ingest_x10(ingest, files_per_trigger=8)(spark, sf_dir)),
        ("batch_ingest_x10", lambda: batch_ingest_x10(ingest)(spark, sf_dir)),
        ("asof_x16_uniform", lambda: asof_x16(False)(spark, sf_dir)),
        ("asof_x16_hotkey", lambda: asof_x16(True)(spark, sf_dir)),
        # the engine's own bucket heuristic under the hot-key shape —
        # regresses that bucket_us="auto" stays skew-safe end-to-end
        ("asof_x16_hotkey_auto",
         lambda: asof_x16(True, bucket="auto")(spark, sf_dir)),
        # 6-hour windows vs the legacy fixed 300s bucket: the fixed form
        # explodes every window onto ~73 bucket rows; 'auto' derives the
        # width from the p95 window length
        ("interval_x10_fixed",
         lambda: interval_x10(300_000_000)(spark, sf_dir)),
        ("interval_x10_auto", lambda: interval_x10("auto")(spark, sf_dir)),
        # r17: coverage density + per-group hulls at 10x, exact row /
        # corner laws asserted inline
        ("density_cov_x10", lambda: density_cov_x10(spark, sf_dir)),
        ("hull_by_x10", lambda: hull_by_x10(spark, sf_dir)),
        ("quantiles_x10", lambda: quantiles_x10(spark, sf_dir)),
    ]
    # Best-of-2 per entry, matching bench.py's protocol: the minimum
    # excludes one-time view registration / parquet-footer probes and
    # ambient-load noise, which at these walls can double a single shot
    # (and would make the hot/uniform gate ratio order-dependent).
    # same ambient-load canary as bench.py: a fixed JVM-only probe per
    # rep; entries whose probes deviate >20% from the run median were
    # timed under box load and their round-over-round deltas are noise
    def _probe() -> float:
        t0 = time.perf_counter()
        spark.range(0, 5 * 10**9, 1, 32).selectExpr(
            "sum(id % 1000)"
        ).collect()
        return time.perf_counter() - t0

    _probe()  # codegen warm-up of the probe plan
    # The x100 decade entries run ONE rep: their walls are minutes, so
    # ambient noise is small relative to the run and a second rep would
    # double the most expensive part of the refresh for nothing. Their
    # single shot is BRACKETED by a probe on each side (r12): a loaded
    # box during the minutes-long run shows up in the trailing probe,
    # so a decade number taken under load is flagged in decade_probes
    # rather than silently trusted.
    single_rep = {"giant_counts_x100", "giant_counts_x1000", "lsh_x100"}
    rows: dict[str, int] = {}
    probes: list[float] = []
    reps: dict[str, list[tuple[float, float]]] = {}  # (probe, timing)
    decade_probes: dict[str, list[float]] = {}
    for name, fn in entries:
        p = _probe()
        probes.append(p)
        t1, rows[name] = _timed(fn)
        reps[name] = [(p, t1)]
        if name in single_rep:
            p_after = _probe()
            probes.append(p_after)
            decade_probes[name] = [round(p, 3), round(p_after, 3)]
        else:
            p2 = _probe()
            probes.append(p2)
            t2, _ = _timed(fn)
            reps[name].append((p2, t2))
        print(f"# {name}: {rows[name]} rows/count in "
              f"{min(t for _, t in reps[name])}s "
              f"(probes {[round(q, 3) for q, _ in reps[name]]})",
              file=sys.stderr)
    # Cross-entry row law of the scale decade: clone i only meets clone
    # i, so true pairs scale EXACTLY with the clone factor.
    assert rows["giant_counts_x100"] == 10 * rows["giant_counts_x10"], (
        "x100 decade row law broke: "
        f"{rows['giant_counts_x100']} != 10 * {rows['giant_counts_x10']}"
    )
    assert rows["giant_counts_x1000"] == 10 * rows["giant_counts_x100"], (
        "x1000 decade row law broke: "
        f"{rows['giant_counts_x1000']} != 10 * {rows['giant_counts_x100']}"
    )
    # Same retry-on-flagged-probe protocol as bench.py (r11; aligned
    # r12): only an ABOVE-median probe means ambient load (below-median
    # = quieter box, trustworthy); a loaded entry gets up to 2 retries,
    # retry probes COUNT toward the published probe stats, the
    # published timing is the min over QUIET reps (falling back to all
    # reps only when none was quiet), and the flag survives only if no
    # quiet rep was obtainable. The x100 decade entries stay
    # single-shot — their minutes-long walls amortize ambient noise and
    # a retry would double the refresh's expensive tail, so an
    # above-median bracket probe there keeps the honest flag.
    med = sorted(probes)[len(probes) // 2]

    def _quiet(p: float) -> bool:
        return p <= 1.2 * med

    for name, fn in entries:
        if name in single_rep or any(_quiet(p) for p, _ in reps[name]):
            continue
        for _ in range(2):
            p = _probe()
            probes.append(p)
            t2, _ = _timed(fn)
            reps[name].append((p, t2))
            print(f"# retry {name}: {t2}s (probe {round(p, 3)})",
                  file=sys.stderr)
            if _quiet(p):
                break
    timings: dict[str, float] = {}
    flagged: list[str] = []
    for name, _ in entries:
        quiet_ts = [t for p, t in reps[name] if _quiet(p)]
        if not quiet_ts:
            if name not in single_rep:
                flagged.append(name)
            quiet_ts = [t for _, t in reps[name]]
        timings[name] = round(min(quiet_ts), 3)
    # A decade entry is flagged from its BRACKET: both probes loaded
    # means its one timing was taken under ambient load end-to-end (a
    # quiet trailing probe clears a loaded start — the minutes-long run
    # outlived the load spike).
    for name, br in decade_probes.items():
        if all(not _quiet(p) for p in br):
            flagged.append(name)
    flagged = sorted(flagged)

    ratio = round(timings["asof_x16_hotkey"] / timings["asof_x16_uniform"], 2)
    skew_ratio = round(
        timings["giant_skew_x10_hot"] / timings["giant_skew_x10_uniform"], 2
    )
    skew_plain_ratio = round(
        timings["giant_skew_x10_hot_plain"]
        / timings["giant_skew_x10_uniform_plain"], 2
    )
    ingest_ratio = round(
        timings["stream_ingest_x10"] / timings["batch_ingest_x10"], 2
    )
    ingest_batched_ratio = round(
        timings["stream_ingest_x10_batched"] / timings["batch_ingest_x10"], 2
    )
    interval_ratio = round(
        timings["interval_x10_fixed"] / timings["interval_x10_auto"], 2
    )
    print(
        json.dumps(
            {
                "metric": "scale_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "rows": rows,
                "asof_hot_over_uniform": ratio,
                "giant_skew_hot_over_uniform": skew_ratio,
                "giant_skew_plain_hot_over_uniform": skew_plain_ratio,
                "stream_over_batch_ingest": ingest_ratio,
                "stream_batched_over_batch_ingest": ingest_batched_ratio,
                "interval_fixed_over_auto": interval_ratio,
                "probe_sec": {
                    "median": round(med, 3),
                    "min": round(min(probes), 3),
                    "max": round(max(probes), 3),
                    "n": len(probes),
                    "flagged_queries": flagged,
                    "decade_probes": decade_probes,
                },
                "skew_auto": AUTO_DECISION,
                "clones": {
                    "spatial": CLONES_SPATIAL,
                    "lsh": CLONES_LSH,
                    "asof": CLONES_ASOF,
                    "decade": CLONES_DECADE,
                },
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["reader_scale"]:
        fmt = sys.argv[2]
        n = (int(sys.argv[3]) if len(sys.argv) > 3
             else READER_SCALE[fmt]["records"])
        spark = get_spark(f"{fmt}_reader_scale")
        print(json.dumps(reader_scale(
            spark, fmt, n, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))))
        spark.stop()
    elif sys.argv[1:2] == ["python_task_latency"]:
        spark = get_spark("python_task_latency")
        res = python_task_latency(
            spark, *(int(a) for a in sys.argv[2:3]))
        res["cpus"] = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        print(json.dumps(res))
        spark.stop()
    else:
        main()
