"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints one JSON line.

Protocol (since round 4): each query reports the BEST OF TWO runs with
the engine's explicit cross-query caches cleared before every rep — the
minimum excludes single-shot JVM/codegen warm-up and ambient-load noise
(measured +-40% on a shared box) but never cached inputs. Round 1-3
numbers were single-shot and carry that warm-up inside them; compare
r4+ numbers with each other.

Since round 5 the trained ANN index (PQ codebooks + IVF centroids) is an
explicit input artifact: its construction is the ``ann_train`` line
(cleared and retrained per rep), and the ANN search lines run against
the pinned index — a real index is trained once and queried many times,
so search latency and build cost are reported as separate numbers.
r4's ``ann_pq_rerank`` carried the training inside it; compare r5+ ANN
search numbers with each other.

Since round 6 the pinned index also carries the LSH band table
(pin_bands), so ``ann_train`` includes the one-time hyperplane band
computation and ``ann_lsh_pairs`` (and the cross embedding dedup) read
the standing band table — r5's ``ann_lsh_pairs`` built its band table
inside the search; compare r6+ LSH numbers with each other.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ds_jedai_spark.session import get_spark  # noqa: E402


def build_headline(spark):
    """The (name, fn) benchmark list. Module-level so tooling
    (plan capture, profiling) can reuse the exact benched plans;
    main() consumes it unchanged."""
    from ds_jedai_spark.plans import giant
    from ds_jedai_spark.plans import measure_plans as mp
    from ds_jedai_spark.plans import pipeline_plans as pl
    from ds_jedai_spark.plans import progressive_plans as pp
    from ds_jedai_spark.plans import timeseries_plans as tsp

    def _dbscan_bench(spark, sf_dir):
        from ds_jedai_spark.io.synthetic import load_sql, point_sql
        from ds_jedai_spark.operators.clustering import dbscan

        pts = load_sql(spark, sf_dir, point_sql())
        return dbscan(pts, eps=1.0, min_pts=3)

    def _ann_train(spark, sf_dir):
        # Build + pin the trained ANN index (4 PQ codebooks + IVF
        # centroids); eager localCheckpoints, so returning the centroid
        # frame just counts the pinned artifact.
        return pl._pinned_ann(spark, sf_dir)["cent"]

    # Bucketed tile layout: bucketed_layout is the one-time write (the
    # cost a repeatedly-joined 100 TB reference layer pays once);
    # bucketed_tile_counts is the REPEAT join over the persisted tables
    # — the measured shuffle-free number behind the plan test in
    # tests/test_bucketed.py. Theta travels with the layout artifact.
    _bt: dict[str, tuple[float, float]] = {}

    def _bucketed_layout(spark, sf_dir):
        from ds_jedai_spark.io import bucketed as bk
        from ds_jedai_spark.io.synthetic import (
            load_sql, source_box_sql, target_box_sql,
        )

        src = load_sql(spark, sf_dir, source_box_sql())
        tgt = load_sql(spark, sf_dir, target_box_sql())
        theta = giant.cached_theta(spark, sf_dir, "source_box", src)
        # the two layout writes are independent — overlap them so the
        # second write back-fills the first's task tail (guide §2.6)
        bk.persist_tiled_many(
            [(src, "bench_bt_src"), (tgt, "bench_bt_tgt")],
            theta, buckets=32,
        )
        _bt["theta"] = theta
        # One untimed warm pass of the repeat-join plan, charged to this
        # one-time line: the fresh bucketed tables' first reads (file
        # listing, footers) AND the first executions of the generated
        # SMJ/relate classes (JIT tiering is 2-3 executions deep) are
        # one-time costs a persisted reference layer pays once — without
        # this, bucketed_tile_counts' best-of-2 publishes anywhere in
        # 0.67-2.34 s depending on where the JIT warm-up lands (the
        # r16/r17 "outlier": both reps caught cold; measured warm-up
        # profile 2.85/1.64/0.88 s on a quiet box, steady 0.85).
        from ds_jedai_spark.io.bucketed import bucketed_tile_join
        from ds_jedai_spark.operators.relate import with_relations

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            giant.counts_agg(with_relations(bucketed_tile_join(
                spark, "bench_bt_src", "bench_bt_tgt", theta
            ))).collect()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        return spark.range(1)

    def _bucketed_counts(spark, sf_dir):
        from ds_jedai_spark.io.bucketed import bucketed_tile_join
        from ds_jedai_spark.operators.relate import with_relations

        # Disable broadcast: at 100 TB neither side broadcasts, so the
        # representative repeat-join plan is the co-located SortMergeJoin
        # over the two bucketed scans — measure THAT, and assert the
        # bucketing really removed the shuffle.
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            cand = bucketed_tile_join(
                spark, "bench_bt_src", "bench_bt_tgt", _bt["theta"]
            )
            out = giant.counts_agg(with_relations(cand))
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, "expected co-located SMJ"
            assert "Exchange hashpartitioning" not in plan, (
                "bucketed join shuffled"
            )
            out = out.localCheckpoint()  # materialize under the conf
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        return out

    # Names stay stable round-over-round even though the driver-gate
    # queries() surface is consolidated (plans/gate.py); bench hits the
    # underlying per-operator plans directly.
    headline = [
        ("giant_counts", giant.giant_counts),
        ("bucketed_layout", _bucketed_layout),
        ("bucketed_tile_counts", _bucketed_counts),
        ("pairs_intersects", giant.relation_pairs("intersects")),
        ("spatiotemporal_pairs", giant.spatiotemporal_pairs),
        ("point_in_box_pairs", giant.point_in_box_pairs),
        # Iterative radius-expansion kNN — the most complex multi-round
        # plan in the engine (per-round pinning + theta coarsening).
        ("knn_exact", giant.knn_exact_pairs),
        # Non-spatial half — regressions here must be visible per round:
        ("dedup_minhash_lsh", pl.QUERIES["dedup_minhash_lsh"]),
        # budgeted verification (estimate-ranked top-50) — the
        # progressive paradigm on the dedup side, new in r6
        ("dedup_progressive", pl.QUERIES["dedup_progressive"]),
        ("progressive_giant_js", pp.progressive_giant_js),
        ("topk_cf", pp.topk_cf),
        ("text_token_stats", pl.QUERIES["text_token_stats"]),
        ("text_contamination", pl.QUERIES["text_contamination"]),
        ("text_pii_scrub", pl.QUERIES["text_pii_scrub"]),
        # cross-document substring dedup (duplicated >=8-word spans,
        # keep-first scrub) — gram groupBy + islands merge + array
        # rebuild, new in r6
        ("text_span_scrub", pl.QUERIES["text_span_scrub"]),
        ("emb_quantize", pl.QUERIES["emb_quantize"]),
        # Stateful applyInPandas scans (sequential PQ semantics) — the
        # family whose regressions the batch plans can't catch.
        ("dynamic_progressive_js", pp.dynamic_progressive_js),
        ("early_stopping_js", pp.early_stopping_js),
        ("events_asof_join", tsp.events_asof_join),
        # the two-window-pass direction (backward+forward+pick) — the
        # heaviest as-of path, regression-visible separately
        ("events_asof_nearest", tsp.events_asof_nearest),
        # bucket-equi-join interval join (r9: derived-width default) —
        # new line in r9, so r9 totals gain ~0.5s vs r8 by construction
        ("events_interval", tsp.events_interval_join),
        # ANN family. ann_train is the one-time index build — Lloyd
        # codebooks + IVF centroids AND the index payloads (PQ code
        # table, IVF cell assignments), trained/encoded once and pinned
        # — a real index is built once and queried many times. The
        # search lines below it run against the pinned index, so they
        # measure the scan+rerank, not retraining or re-encoding.
        # Since r6 the pin also carries the LSH band table, so
        # ann_lsh_pairs measures collision join + verify over the
        # standing band keys (the hyperplanes themselves are
        # deterministic; their per-vector dots are part of the build).
        ("ann_train", _ann_train),
        ("ann_lsh_pairs", pl.QUERIES["ann_lsh_pairs"]),
        ("ann_pq_rerank", pl.QUERIES["ann_pq_rerank_topk"]),
        # r16 spatial additions (new lines, so r16 totals gain their
        # cost vs r15 by construction): DBSCAN at eps=1.0 (the round
        # count of the label propagation scales with the largest
        # cluster's eps-graph diameter — eps=1.5 forms dataset-spanning
        # filaments and runs ~35 s; 1.0 is the representative regime),
        # the closed-form geohash projection, and the two-phase hull.
        ("dbscan", _dbscan_bench),
        ("geohash", mp.geohash_stats),
        ("hull", mp.hull_stats),
        # r17 additions (new lines, so r17 totals gain their cost vs
        # r16 by construction): coverage density (floor-span explode +
        # one aggregation shuffle), per-group hulls (keyed two-phase
        # chain), geohash envelope cover-sets (pure-JVM explode), and
        # the vectorized planar+geodesic measures pass over the
        # largest derived geometry set.
        ("density_cov", mp.density_coverage_stats),
        ("hull_by", mp.hull_by_stats),
        ("geohash_cover", mp.geohash_cover_stats),
        # the full measures wide row: vectorized areal pass over
        # polygons-with-holes + lines + points + the geodesic and
        # wrapped (seam-null) legs
        ("measures", mp.measure_stats),
        # r17 second wave: JedAI-family meta-blocking ER over the
        # dup-injected corpus (block purge + CBS graph + weighted node
        # pruning) and the per-doc BM25 relevance pass
        ("er_wnp", pl.QUERIES["er_wnp_pairs"]),
        ("text_bm25", pl.QUERIES["text_bm25"]),
        ("er_snb", pl.QUERIES["er_snb_pairs"]),
        ("edit_distance", pl.QUERIES["dedup_edit_distance"]),
        ("zonal", mp.zonal_count_stats),
        ("quantiles", mp.quantile_stats),
        ("validate", pl.QUERIES["data_quality_row"]),
    ]
    return headline


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")
    spark = get_spark("ds_jedai_spark_bench")

    # Warm up the JVM / codegen / parquet-reader paths; data registration
    # (view setup over the benchmark tables) stays timed inside the first
    # query, as before.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    headline = build_headline(spark)
    from ds_jedai_spark import pins
    # Best-of-2 per query: single-shot timings on a shared box swing
    # +-40% with ambient load; the minimum of two runs tracks the plan's
    # actual cost round-over-round far more stably.
    #
    # Ambient-load canary: a FIXED JVM-only probe (modular sum over
    # range(5e9) in 32 partitions — pure whole-stage codegen, no I/O, no
    # Python, ~0.6s with ~150ms of real compute per task so task-dispatch
    # jitter doesn't dominate; measured quiet-box spread ~11%) is timed
    # before every rep. Its cost is a property of the BOX, not the
    # engine — so a rep whose probe runs >20% above the run's median
    # probe ran under ambient load and its timing only overestimates.
    # Since r11 such reps are RETRIED (up to 3 extra reps) and the
    # published number is the min over quiet reps; a query stays in
    # flagged_queries only when no quiet rep was obtainable at all
    # ("retried, still loaded"). r6->r8 moved +-25-43% on untouched
    # code, which this canary + retry makes falsifiable.
    # (shared with scripts/calibrate_box.py via ds_jedai_spark/benchprobe
    # since r15, so the calibration artifact measures the identical path)
    from ds_jedai_spark.benchprobe import PROBE_VERSION, jvm_probe, py_probe

    def _probe() -> float:
        return jvm_probe(spark)

    # Python-worker canary (r12): the JVM probe is blind to the resource
    # the applyInPandas stateful queries are bound on — Python-worker
    # dispatch, Arrow round-trips, and pandas compute share the box's
    # cores with everything else running on it. BENCH_r11's exhibit:
    # dynamic_progressive_js +108% on untouched code under quiet JVM
    # probes. This probe is a FIXED 32-group applyInPandas scan (3.2M
    # rows through Arrow, a real pandas reduction per group, ~0.4s
    # quiet) timed before every rep; a rep counts as quiet only when
    # BOTH probes ran at most 20% above their respective run medians.
    def _py_probe() -> float:
        return py_probe(spark)

    _probe()  # codegen warm-up of the probe plans themselves
    _py_probe()

    def _run_rep(name, fn):
        """One full rep: clear the cross-query caches, probe the box
        (JVM + Python worker), time the query. Returns
        (jvm_probe_sec, py_probe_sec, query_sec, rows)."""
        # Drop the engine's cross-query caches so every rep pays the
        # full pipeline (JVM warm-up is the only thing min-of-reps is
        # meant to exclude): the pinned shingle table, the ER graph and
        # the sampled theta the spatial queries share. The ONE allowed
        # cached input is the pinned ANN index — training it is the
        # separately-timed ann_train line (which clears and retrains
        # per rep), so the search lines measure search. pins.clear also
        # forces the GC that frees the dropped checkpoint blocks; it
        # runs OUTSIDE the timed region (before the probes), so the
        # timing protocol is unchanged.
        pins.clear(keep=() if name == "ann_train" else ("ann",))
        p = _probe()
        pp_ = _py_probe()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        return p, pp_, time.perf_counter() - t0, n

    # Pass 1: best-of-2 with both probes before every rep.
    reps: dict[str, list[tuple[float, float, float]]] = {}
    probes: list[float] = []
    py_probes: list[float] = []
    rows: dict[str, int] = {}
    for name, fn in headline:
        reps[name] = []
        for _ in range(2):
            p, pp_, dt, n = _run_rep(name, fn)
            probes.append(p)
            py_probes.append(pp_)
            reps[name].append((p, pp_, dt))
            rows[name] = n

    # Pass 2 (since r11): retry-on-flagged-probe. The pass-1 probe
    # median is the box's quiet cost; a rep whose probe ran >20% ABOVE
    # it ran under ambient load and its timing only overestimates (a
    # BELOW-median probe means a quieter-than-median box — trustworthy).
    # A query none of whose reps were quiet gets up to 3 retry reps;
    # the published timing is the min over quiet reps, and the flag
    # survives only if no quiet rep was obtainable ("retried, still
    # loaded"). BENCH_r10's exhibit: 7/24 queries flagged with ±25%
    # phantom swings on a zero-line diff.
    med = sorted(probes)[len(probes) // 2]
    py_med = sorted(py_probes)[len(py_probes) // 2]
    # A rep is quiet only when BOTH canaries are quiet: a loaded Python
    # worker pool with an idle JVM (r11's blind spot) now flags the rep.
    quiet = lambda p, pp_: p <= 1.2 * med and pp_ <= 1.2 * py_med  # noqa: E731
    retried: dict[str, int] = {}
    for name, fn in headline:
        if any(quiet(p, pp_) for p, pp_, _ in reps[name]):
            continue
        for attempt in range(3):
            p, pp_, dt, n = _run_rep(name, fn)
            probes.append(p)
            py_probes.append(pp_)
            reps[name].append((p, pp_, dt))
            rows[name] = n
            retried[name] = attempt + 1
            if quiet(p, pp_):
                break

    timings: dict[str, float] = {}
    flagged: list[str] = []
    for name, _ in headline:
        qs = [dt for p, pp_, dt in reps[name] if quiet(p, pp_)]
        if not qs:
            flagged.append(name)
            qs = [dt for _, _, dt in reps[name]]
        timings[name] = round(min(qs), 3)
        print(f"# {name}: {rows[name]} rows in {timings[name]}s "
              f"(jvm probes {[round(p, 3) for p, _, _ in reps[name]]}, "
              f"py probes {[round(pp_, 3) for _, pp_, _ in reps[name]]}"
              f"{', RETRIED, STILL LOADED' if name in flagged else ''})",
              file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # SUSTAINED-slowdown evidence (r14, reworked r15 per ADVICE): the
    # retry canaries compare each rep to the RUN's own probe median, so
    # they catch transient spikes but are blind to a box that is
    # uniformly slow for the whole run (observed within one session:
    # probe medians 0.52 -> 0.65 jvm / 0.62 -> 0.85 py as totals
    # drifted 30 -> 40 s on untouched code). The quiet references now
    # come from the committed CALIBRATION.json artifact (written by
    # scripts/calibrate_box.py, which runs the IDENTICAL probe code),
    # and the ratio is published only when the artifact's probe_version
    # matches this run's — no inline magic numbers, and a probe-code
    # change can never be misread as a box-speed change.
    box_vs_calibration = None
    cal_path = Path(__file__).resolve().parent / "CALIBRATION.json"
    if cal_path.exists():
        cal = json.loads(cal_path.read_text())
        if cal.get("probe_version") == PROBE_VERSION:
            box_vs_calibration = {
                "jvm": round(med / cal["jvm_probe_quiet"], 2),
                "py": round(py_med / cal["py_probe_quiet"], 2),
                "calibration_recorded_utc": cal.get("recorded_utc"),
                "probe_version": PROBE_VERSION,
            }
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "box_vs_calibration": box_vs_calibration,
                "probe_sec": {
                    "median": round(med, 3),
                    "min": round(min(probes), 3),
                    "max": round(max(probes), 3),
                    "n": len(probes),
                    "flagged_queries": sorted(flagged),
                    "retried_queries": retried,
                },
                "py_probe_sec": {
                    "median": round(py_med, 3),
                    "min": round(min(py_probes), 3),
                    "max": round(max(py_probes), 3),
                    "n": len(py_probes),
                },
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
