"""Streaming query plans, drained to completion for the correctness gate.

Each query runs a real Structured Streaming pipeline (file source →
watermark/window or stream-static tile join → memory sink) with
``availableNow`` and returns the materialized result, so the DuckDB
oracle checks the streaming path like any batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ds_jedai_spark.io.synthetic import load_sql, point_sql, source_box_sql
from ds_jedai_spark.pins import pin
from ds_jedai_spark.streaming import geostream as gs

THETA = (1.0, 1.0)


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling rollup per event type."""
    agg = gs.windowed_event_counts(gs.read_event_stream(spark, sf_dir))
    gs.run_to_table(agg, "stream_window_counts_tbl", "complete")
    return spark.table("stream_window_counts_tbl")


def stream_points_in_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static tile join: event points enriched with covering boxes."""
    pts = gs.event_points(gs.read_event_stream(spark, sf_dir))
    src = load_sql(spark, sf_dir, source_box_sql())
    j = gs.stream_points_in_boxes(pts, src, THETA)
    gs.run_to_table(j, "stream_pib_tbl", "append")
    return spark.table("stream_pib_tbl")


def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization (applyInPandasWithState) over the event
    stream; emits sessions closed by >30min inactivity."""
    sess = gs.sessionize(gs.read_event_stream(spark, sf_dir))
    gs.run_to_table(sess, "stream_sessions_tbl", "append")
    return spark.table("stream_sessions_tbl")


def stream_sessions_oracle() -> str:
    g = gs.SESSION_GAP_MIN
    return (
        "WITH d AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
        f"OR ts - lag(ts) OVER w > INTERVAL {g} MINUTE THEN 1 ELSE 0 END "
        "AS is_start FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "s AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM d), "
        "g AS (SELECT user_id, sid, min(ts) AS session_start, "
        "max(ts) AS session_end, count(*) AS n_events FROM s GROUP BY 1, 2) "
        "SELECT user_id, session_start, session_end, n_events FROM "
        "(SELECT *, max(sid) OVER (PARTITION BY user_id) AS m FROM g) "
        "WHERE sid < m"
    )


def stream_window_counts_oracle() -> str:
    return (
        "SELECT date_trunc('hour', ts) AS win_start, event_type, "
        "count(*) AS n, min(value) AS min_value, max(value) AS max_value "
        "FROM events GROUP BY 1, 2"
    )


def stream_points_in_boxes_oracle() -> str:
    return (
        f"WITH source AS ({source_box_sql()}), "
        f"target AS ({point_sql('events', 'event_id')}) "
        f"SELECT s.id AS s_id, t.id AS t_id FROM source s JOIN target t "
        f"ON s.minx <= t.minx AND t.maxx <= s.maxx "
        f"AND s.miny <= t.miny AND t.maxy <= s.maxy"
    )


def stream_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join (watermarked both sides)."""
    ev = gs.read_event_stream(spark, sf_dir)
    j = gs.stream_event_pairs(ev)
    gs.run_to_table(j, "stream_event_pairs_tbl", "append")
    return spark.table("stream_event_pairs_tbl")


def stream_event_pairs_oracle() -> str:
    g = gs.PAIR_GAP_MIN
    return (
        "SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS b_id "
        "FROM events a JOIN events b ON a.user_id = b.user_id "
        f"AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL {g} MINUTE"
    )


def stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming backward as-of enrichment: the click stream joined to
    each user's most recent prior-or-equal purchase from the STATIC
    events table — validity-interval form, stateless stream-static join
    (geostream.stream_asof_enrich)."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.io.synthetic import register_views

    ev = gs.read_event_stream(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    register_views(spark, sf_dir)
    purchases = (
        spark.table("events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            # the stream's ts is relabeled to the (UTC) session zone;
            # cast the static NTZ side the same way so the range
            # predicate compares identical instants
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    j = gs.stream_asof_enrich(
        clicks, purchases, key="user_id", ts="ts",
        right_attrs=("purchase_id",),
    )
    out = j.select(
        "user_id",
        "click_id",
        F.col("asof_purchase_id").alias("purchase_id"),
    )
    gs.run_to_table(out, "stream_asof_tbl", "append")
    return spark.table("stream_asof_tbl")


def stream_asof_oracle() -> str:
    return (
        "SELECT l.user_id, l.event_id AS click_id, "
        "r.event_id AS purchase_id "
        "FROM (SELECT * FROM events WHERE event_type = 'click') l "
        "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r "
        "ON l.user_id = r.user_id AND l.ts >= r.ts"
    )


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (at-least-once replay collapsed by event_id) then
    per-type rollup; two chained stateful operators in one query."""
    agg = gs.stream_dedup_counts(spark, sf_dir)
    gs.run_to_table(agg, "stream_dedup_tbl", "complete")
    return spark.table("stream_dedup_tbl")


def stream_dedup_counts_oracle() -> str:
    return "SELECT event_type, count(*) AS n FROM events GROUP BY 1"


def stream_idempotent_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once sink proof, oracle-gated: the events table is split
    into a 4-file source directory and streamed in 2 micro-batches;
    each batch's raw rows land through the ``idempotent=True``
    per-batch-id dynamic-overwrite sink (geostream._batch_sink), then
    one batch is deliberately REPLAYED — the retry-after-partial-write
    failure shape. The read-back per-type counts must hash-match the
    oracle's single-copy answer: under the blind append the replayed
    batch would double its rows; under the idempotent sink the replay
    overwrites exactly its own partition and converges."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ds_jedai_spark.io.bucketed import drop_table_and_location
    from ds_jedai_spark.io.synthetic import register_views

    register_views(spark, sf_dir)
    src = os.path.join(
        tempfile.gettempdir(),
        f"jedai_idem_src_{spark.sparkContext.applicationId}",
    )
    spark.table("events").select("event_id", "event_type").repartition(
        4
    ).write.mode("overwrite").parquet(src)
    stream = gs.event_stream(spark, src, maxFilesPerTrigger="2")
    drop_table_and_location(spark, "stream_idem_tbl")
    captured: dict[int, DataFrame] = {}

    def on_batch(df: DataFrame, bid: int) -> None:
        df = pin(df)
        captured[int(bid)] = df
        gs._batch_sink(df, bid, "stream_idem_tbl", idempotent=True)

    gs._drain_foreach_batch(stream, on_batch, "idem_counts")
    # Simulated retry: replay the first micro-batch through the sink.
    bid = min(captured)
    gs._batch_sink(captured[bid], bid, "stream_idem_tbl", idempotent=True)
    return (
        spark.table("stream_idem_tbl")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def stream_top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k: the watermarked streaming rollup drained to its
    complete table, then ranked per window (top 3 event types by count)
    — the serving-layer step of a streaming leaderboard; ranking happens
    post-drain because a mid-stream global sort is only defined for
    complete-mode sinks."""
    from pyspark.sql import Window, functions as F

    agg = gs.windowed_event_counts(gs.read_event_stream(spark, sf_dir))
    gs.run_to_table(agg, "stream_topk_tbl", "complete")
    t = spark.table("stream_topk_tbl")
    w = Window.partitionBy("win_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        t.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("win_start", "event_type", "n", F.col("rk").cast("bigint").alias("rk"))
    )


def stream_top_event_types_oracle() -> str:
    return (
        "SELECT win_start, event_type, n, CAST(rk AS BIGINT) AS rk FROM ("
        "SELECT win_start, event_type, n, row_number() OVER ("
        "PARTITION BY win_start ORDER BY n DESC, event_type) AS rk FROM ("
        "SELECT date_trunc('hour', ts) AS win_start, event_type, "
        "count(*) AS n FROM events GROUP BY 1, 2)) WHERE rk <= 3"
    )


def stream_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF top-k against the pinned index: query vectors
    arrive as a file stream, the centroids ride inside a map-side
    literal expression, the cell payload is the stream-static join's
    standing side, one complete-mode aggregation assembles top-k.
    Row-identical to the batch ``ivf_trained_topk`` (same oracle)."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators.similarity import quantized
    from ds_jedai_spark.plans import pipeline_plans as pl

    art = pl._pinned_ann(spark, sf_dir)
    qe = quantized(pl._emb(spark, sf_dir))
    candidates = qe.join(art["cells"], "vec_id").select(
        F.col("vec_id").alias("vid"),
        F.col("cid").alias("cell"),
        F.col("qv").alias("b"),
        F.col("norm2").alias("n2"),
    )
    top = gs.stream_ann_ivf_topk(
        gs.embedding_stream(spark, sf_dir),
        art["cent"].collect(),
        candidates,
    )
    gs.run_to_table(top, "stream_ann_topk_tbl", "complete")
    return (
        spark.table("stream_ann_topk_tbl")
        .select("qid", F.explode("topk").alias("t"))
        .select("qid", F.col("t.vid").alias("vid"), F.col("t.cos").alias("cos"))
    )


def stream_dedup_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest: the even-doc_id half of the corpus
    arrives as a document stream and each micro-batch is deduplicated
    against the standing odd-half shingle index (foreachBatch over
    minhash_lsh_pairs_cross). Same semantics as the batch cross query,
    so it shares its oracle."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.io.bucketed import drop_table_and_location
    from ds_jedai_spark.plans import pipeline_plans as pl

    sh = pl._pinned_shingles(spark, sf_dir)
    stream = gs.corpus_stream(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
    drop_table_and_location(spark, "stream_dedup_cross_tbl")
    gs.stream_incremental_dedup(
        stream,
        sh.where(F.col("doc_id") % 2 == 1),
        pl.TAU_JACCARD,
        "stream_dedup_cross_tbl",
    )
    return spark.table("stream_dedup_cross_tbl")


def stream_embedding_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding-dedup ingest: even-vec_id vectors arrive
    as a stream and each micro-batch is checked against the standing
    odd-half pinned band table (foreachBatch over
    lsh_neardup_pairs_cross). Same semantics as the batch
    dedup_embedding_cross, so it shares its oracle."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.io.bucketed import drop_table_and_location
    from ds_jedai_spark.plans import pipeline_plans as pl

    art = pl._pinned_ann(spark, sf_dir)
    emb = pl._emb(spark, sf_dir)
    stream = gs.embedding_stream(spark, sf_dir).where(
        F.col("vec_id") % 2 == 0
    )
    drop_table_and_location(spark, "stream_emb_cross_tbl")
    gs.stream_incremental_embedding_dedup(
        stream,
        emb.where(F.col("vec_id") % 2 == 1),
        art["bands"].where(F.col("vec_id") % 2 == 1),
        pl.TAU_COS,
        "stream_emb_cross_tbl",
    )
    return spark.table("stream_emb_cross_tbl")


def stream_quality_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r17 expectations pass as a STREAM: same rules, same oracle
    as the batch data_quality_row — the complete-mode global aggregate
    must converge to the batch answer when the documents source
    drains."""
    from ds_jedai_spark.plans.pipeline_plans import DQ_RULES

    agg = gs.stream_validate(spark, sf_dir, DQ_RULES)
    gs.run_to_table(agg, "stream_dq_tbl", "complete")
    return spark.table("stream_dq_tbl")
