"""Bucketed tile layout: join from co-bucketed tables is shuffle-free and
produces the identical pair set as the online tile join."""

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.io.bucketed import bucketed_tile_join, persist_tiled
from ds_jedai_spark.io.synthetic import load_sql, source_box_sql, target_box_sql
from ds_jedai_spark.operators.spatial_join import tile_join

SF = "/root/testdata/sf0.001"
THETA = (1.0, 1.0)


@pytest.fixture(scope="module")
def tables(spark):
    src = load_sql(spark, SF, source_box_sql())
    tgt = load_sql(spark, SF, target_box_sql())
    persist_tiled(src, "bt_src", THETA, buckets=8)
    persist_tiled(tgt, "bt_tgt", THETA, buckets=8)
    yield "bt_src", "bt_tgt"
    spark.sql("DROP TABLE IF EXISTS bt_src")
    spark.sql("DROP TABLE IF EXISTS bt_tgt")


def test_bucketed_join_matches_online_tile_join(spark, tables):
    got = {
        (r.s_id, r.t_id)
        for r in bucketed_tile_join(spark, *tables, THETA)
        .select("s_id", "t_id")
        .collect()
    }
    src = load_sql(spark, SF, source_box_sql())
    tgt = load_sql(spark, SF, target_box_sql())
    want = {
        (r.s_id, r.t_id)
        for r in tile_join(src, tgt, theta=THETA).select("s_id", "t_id").collect()
    }
    assert got == want and len(want) > 0


def test_bucketed_join_plan_has_no_exchange(spark, tables):
    # Force the non-broadcast path to prove bucketing removes the shuffle.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_tile_join(spark, *tables, THETA)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_shingle_pin_rejoins_without_shuffle(spark):
    """pin_shingles(table=...): the inverted-index self-join on the
    shingle key must plan with no Exchange on the shingle key (both sides
    read the same co-bucketed scan), and produce the identical pair set
    as the localCheckpoint pin."""
    from ds_jedai_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon{i % 7} zeta eta theta iota kappa")
         for i in range(1, 120)],
        "doc_id long, text string",
    )
    try:
        bucketed = dedup.pin_shingles(
            docs, table="sh_pin_test", buckets=8
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ov = dedup._overlap(bucketed)
            plan = ov._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(shingle" not in plan
            got = {(r.d1, r.d2, r.common) for r in ov.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        local = dedup.pin_shingles(docs)
        want = {(r.d1, r.d2, r.common) for r in dedup._overlap(local).collect()}
        assert got == want and len(want) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS sh_pin_test")
