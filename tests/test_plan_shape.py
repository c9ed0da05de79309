"""Physical-plan regression tests: the optimizations we rely on at scale
must actually appear in the plan — column pruning to the key columns,
broadcast hash join for the tile join at this size, no Python (BatchEval)
in the closed-form verification path."""

import pytest

from ds_jedai_spark.io.synthetic import load_sql, source_box_sql, target_box_sql
from ds_jedai_spark.operators.relate import with_relations
from ds_jedai_spark.operators.spatial_join import tile_join

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cand(spark):
    source = load_sql(spark, SF, source_box_sql())
    target = load_sql(spark, SF, target_box_sql())
    return tile_join(source, target, theta=(1.0, 1.0))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_to_key_columns(cand):
    plan = plan_of(cand)
    # Only the integer keys are read from parquet — geometry is derived.
    assert "ReadSchema: struct<p_partkey:bigint>" in plan
    assert "ReadSchema: struct<o_orderkey:bigint>" in plan


def test_tile_join_is_broadcast_hash_join(cand):
    plan = plan_of(cand)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_closed_form_verification_stays_jvm_side(cand):
    plan = plan_of(with_relations(cand))
    # No Python evaluation nodes: relations are pure column expressions.
    # (WholeStageCodegen spans only render after AQE finalizes the plan,
    # so the positive assertion is the absence of Python eval nodes.)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_tile_join_never_shuffles_on_the_join_keys(cand):
    # Broadcast path: no hash-partitioning exchange anywhere. The only
    # exchange the auto probe-spread may add is a round-robin of the
    # compact pre-explode probe rows (see tile_join docstring).
    assert "Exchange hashpartitioning" not in plan_of(cand)


def test_tile_join_without_spread_is_fully_shuffle_free(spark):
    # probe_parts=None pins the exchange-free cluster-scale plan shape
    # (a many-split probe scan keeps this plan under "auto" as well).
    source = load_sql(spark, SF, source_box_sql())
    target = load_sql(spark, SF, target_box_sql())
    c = tile_join(source, target, theta=(1.0, 1.0), probe_parts=None)
    assert "ShuffleExchange" not in plan_of(c).replace(
        "AQEShuffleRead", ""
    ).replace("ShuffleQueryStage", "")


def test_tile_join_auto_spread_triggers_on_single_file_probe(cand):
    # The sf0.001 probe is one parquet file -> auto must add the
    # round-robin spread so the map side parallelizes.
    assert "RoundRobinPartitioning" in plan_of(cand)


def test_pgr_plan_has_no_single_task_window_over_schedule(cand, spark):
    """pgr_metrics must never funnel the scheduled pairs through one task:
    the rank is a range-repartitioned two-phase window, so no global Sort
    and no single-partition Exchange consumed by a Window over the pair
    stream (the only SinglePartition exchange allowed is the tiny
    per-partition offsets aggregate, <= numPartitions rows)."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators import progressive as prog
    from ds_jedai_spark.operators.weights import weight_exprs

    wexpr = weight_exprs("s_", "t_", 1.0, 1.0, 10000)
    sched = (
        prog.with_weight(cand, wexpr["js"])
        .withColumn("qualifies", F.col("s_id") % 2 == 0)
        .select("s_id", "t_id", "w", "qualifies")
    )
    # The rank stage (pre-checkpoint) must range-partition and keep every
    # Window partition-local (keyed on the partition id).
    from ds_jedai_spark.operators.ranking import ranked_local

    ranked = ranked_local(
        sched.withColumn("negw", -F.col("w")), ["negw", "s_id", "t_id"]
    )
    rank_plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(" in rank_plan
    assert "SinglePartition" not in rank_plan
    assert "windowspecdefinition(part#" in rank_plan
    # And the full metric never sorts the pair stream globally: the only
    # Sort nodes are partition-local (global=false).
    plan = prog.pgr_metrics(sched)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Sort \[[^\]]*\], (\w+),", plan):
        assert m.group(1) == "false", f"global Sort in PGR plan: {m.group(0)}"


def test_large_budget_schedule_avoids_driver_merge(spark):
    """api._schedule at reference-scale budgets must dispatch to the
    partitioned local-budget top-k — no TakeOrderedAndProject (whose final
    merge materializes `budget` rows on the driver)."""
    from ds_jedai_spark.api import LARGE_BUDGET, _schedule
    from ds_jedai_spark.config import JedaiConfig
    from ds_jedai_spark.io.synthetic import load_sql, source_box_sql
    from ds_jedai_spark.operators.spatial_join import tile_join
    from ds_jedai_spark.operators.weights import weight_exprs

    source = load_sql(spark, SF, source_box_sql())
    target = load_sql(spark, SF, target_box_sql())
    cand = tile_join(source, target, theta=(1.0, 1.0))
    wexpr = weight_exprs("s_", "t_", 1.0, 1.0, 10000)
    cfg = JedaiConfig.__new__(JedaiConfig)
    cfg.main_wf = "JS"
    cfg.secondary_wf = None
    cfg.ws = "SIMPLE"
    cfg.progressive_algorithm = "PROGRESSIVE_GIANT"

    cfg.budget = LARGE_BUDGET
    big = _schedule(cand, cfg, wexpr, source, (1.0, 1.0))
    big_plan = big._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in big_plan

    cfg.budget = 2000
    small = _schedule(cand, cfg, wexpr, source, (1.0, 1.0))
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in small_plan


def test_pipeline_text_ops_have_no_single_task_stages(spark):
    """Sequence packing and the PGR/vocab rank family must never compile
    to a single-partition exchange over the data stream (the only allowed
    SinglePartition is a final one-row aggregate or a <= numPartitions
    offsets frame)."""
    from ds_jedai_spark.operators import textops

    docs = spark.createDataFrame(
        [(i, f"w{i} w{(i * 7) % 23} common") for i in range(1, 400)],
        "doc_id long, text string",
    )
    packed = textops.pack_sequences(docs)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    # Windows key on the shard column, never an empty partition spec.
    for frag in plan.split("windowspecdefinition(")[1:]:
        head = frag.split(",")[0]
        assert "#" in head and "ASC" not in head.split("#")[0], (
            f"unpartitioned window in pack plan: {head}"
        )
    assert "SinglePartition" not in plan


def test_progressive_dedup_plan_is_take_ordered(spark):
    """The budgeted schedule must be a TakeOrderedAndProject (global
    top-k merge of `budget` rows), not a full sort."""
    from ds_jedai_spark.operators import dedup
    from ds_jedai_spark.pins import pin
    from ds_jedai_spark.plans.pipeline_plans import _corpus

    corpus = _corpus(spark, "/root/testdata/sf0.001")
    sh = dedup.pin_shingles(corpus)
    sig = pin(dedup.minhash_signature_arrays(sh, 32))
    band = pin(dedup._band_table(sh, 32, 4))
    from pyspark.sql import functions as F

    a = band.select(F.col("doc_id").alias("d1"), "band", "bkey")
    b = band.select(F.col("doc_id").alias("d2"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"]).where(F.col("d1") < F.col("d2"))
        .select("d1", "d2").distinct()
        .join(sig.select(F.col("doc_id").alias("d1"),
                         F.col("sig").alias("s1")), "d1")
        .join(sig.select(F.col("doc_id").alias("d2"),
                         F.col("sig").alias("s2")), "d2")
        .withColumn("est", F.lit(0.5))
        .orderBy(F.desc("est"), "d1", "d2").limit(50)
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_cross_dedup_plans_have_no_cartesian(spark):
    """Neither incremental ingest path (document or embedding space)
    may plan a cartesian/nested-loop join."""
    from ds_jedai_spark.operators import dedup, similarity
    from ds_jedai_spark.plans import pipeline_plans as pl
    from pyspark.sql import functions as F

    corpus = pl._corpus(spark, "/root/testdata/sf0.001")
    sh = dedup.pin_shingles(corpus)
    doc_pairs = dedup.minhash_lsh_pairs_cross(
        None, None, tau=0.8,
        sh_a=sh.where(F.col("doc_id") % 2 == 0),
        sh_b=sh.where(F.col("doc_id") % 2 == 1),
    )
    emb = pl._emb(spark, "/root/testdata/sf0.001")
    emb_pairs = similarity.lsh_neardup_pairs_cross(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        0.4,
    )
    for df in (doc_pairs, emb_pairs):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for bad in ("Join Cross", "CartesianProduct",
                    "BroadcastNestedLoopJoin"):
            assert bad not in plan, f"{bad} in cross-dedup plan"


def test_duplicated_spans_plan_is_blocked_equijoin(spark):
    """Substring dedup must stay a gram-keyed equi-join + doc-partitioned
    window: no cartesian/nested-loop anywhere, no unpartitioned window
    (the islands merge keys on doc_id), no single-partition exchange of
    the gram stream."""
    from ds_jedai_spark.operators import textops

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * j) % 13}" for j in range(20)))
         for i in range(1, 200)],
        "doc_id long, text string",
    )
    spans = textops.duplicated_spans(docs, k=8)
    scrub = textops.scrub_duplicated_spans(docs, k=8)
    for df in (spans, scrub):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                    "SinglePartition"):
            assert bad not in plan, f"{bad} in duplicated-spans plan"
        for frag in plan.split("windowspecdefinition(")[1:]:
            head = frag.split(",")[0]
            assert "#" in head and "ASC" not in head.split("#")[0], (
                f"unpartitioned window in spans plan: {head}"
            )


def test_wkb_scan_prunes_to_id_and_geometry(spark):
    """The GeoParquet/WKB reader's parquet scan reads ONLY the id and
    binary geometry columns — the fixture's truth columns (gtype, valid,
    envelopes) never leave the footer (the select precedes mapInArrow,
    so pruning reaches the scan)."""
    from ds_jedai_spark.io.readers import read_parquet_dataset
    from ds_jedai_spark.plans.reader_plans import WKB_FIXTURE

    df = read_parquet_dataset(spark, WKB_FIXTURE)
    plan = plan_of(df)
    assert "ReadSchema: struct<id:bigint,geometry:binary>" in plan


@pytest.mark.parametrize("alg", ["DYNAMIC_PROGRESSIVE_GIANT", "EARLY_STOPPING"])
def test_stateful_progressive_plan_verifies_inside_one_scan(
        spark, tmp_path, ran_stages, alg):
    """api.run's stateful progressive jobs verify inside their Arrow scan:
    exactly one FlatMapGroupsInArrow, no semi-join of the schedule back
    onto the candidates and no second (MapInArrow) verification pass.
    The scan runs on every core even on one candidate pair: AQE would
    coalesce a groupBy's own exchange into one task."""
    import re

    from ds_jedai_spark import api
    from ds_jedai_spark.config import parse_config

    import pyarrow as pa
    import pyarrow.parquet as pq

    # Row-format parquet loads without a parse pass, so every Arrow node
    # left in the plan belongs to the progressive job itself.
    side = {}
    for name, (x0, y0, x1, y1) in (("s", (0.0, 0.0, 4.0, 4.0)),
                                   ("t", (1.0, 1.0, 2.0, 2.0))):
        path = str(tmp_path / f"{name}.parquet")
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        pq.write_table(pa.table({
            "id": pa.array([1], pa.int64()), "gtype": ["POLYGON"],
            "coords": [[ring]], "minx": [x0], "miny": [y0],
            "maxx": [x1], "maxy": [y1],
        }), path)
        side[name] = {"path": path, "realIdField": "id"}
    cfg = parse_config({
        "source": side["s"], "target": side["t"], "relation": "DE9IM",
        "configurations": {"progressiveAlgorithm": alg, "budget": 10},
    })
    query = api.run(spark, cfg)
    plan = plan_of(query)
    assert "LeftSemi" not in plan
    assert "MapInArrow" not in plan
    assert len(re.findall(r"\bFlatMapGroupsInArrow\b", plan)) == 1
    scans = [s for s in ran_stages(query.collect)
             if "FlatMapGroupsInArrow" in s[2]]
    # progressive_state._scan_input spreads the pids over
    # min(num_parts, shuffle partitions) tasks; api.run uses 32 pids.
    cores = min(32, int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert len(scans) == 1 and scans[0][1] == cores, scans
