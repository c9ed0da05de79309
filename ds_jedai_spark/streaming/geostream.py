"""Structured Streaming surface: geometry event streams.

The reference has NO streaming operators (SURVEY.md §2.10) — its only
temporal feature is a static ±2-day join filter. This module is the
engine's beyond-reference extension: the same tile-join machinery applied
to an unbounded geometry event stream.

Design (idiomatic Structured Streaming):
- file-source ``readStream`` over the events parquet (at scale: Kafka or
  cloud-storage autoloader-style listing — same plan shape);
- watermarked tumbling-window aggregation for event rollups;
- stream-static equi-join on tile id for point-in-region enrichment: the
  static side is the tiled SOURCE dataset; a point maps to exactly ONE
  tile, so the join needs no reference-point dedup and stays append-mode.

Every query here is runnable to completion with
``trigger(availableNow=True)`` into an in-memory sink, which turns the
streaming computation into a deterministic, DuckDB-oracle-checkable
DataFrame — the driver's correctness gate covers the streaming path too.

Stateful extensions (sessionization via applyInPandasWithState) belong
here when needed; the windowed aggregation covers the reference-adjacent
rollup semantics without custom state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark.io.synthetic import point_exprs

def event_stream(spark: SparkSession, path: str, glob: str | None = None,
                 **options: str) -> DataFrame:
    """File-source stream over an event parquet directory.

    The ``ts`` column's physical type varies by testdata generation:
    TIMESTAMP(MICROS) reads natively as a timestamp, TIMESTAMP(NANOS)
    reads as a long under ``nanosAsLong`` and is restored here — the same
    defensive rule the batch reader applies (io/synthetic.register_views).
    A batch footer probe supplies the stream's required schema, so both
    layouts produce an identical event-time column; watermarks demand
    TimestampType, so a TIMESTAMP_NTZ column is re-labeled to the session
    zone (UTC), staying aligned with the naive DuckDB oracle.

    SIDE EFFECT (session-wide, documented): sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` for the session, the
    same flag the batch path sets — it must hold whenever the
    lazily-planned stream executes, so it cannot be restored here. It
    only changes decoding of TIMESTAMP(NANOS) parquet columns."""
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read
    if glob:
        batch = batch.option("pathGlobFilter", glob)
    probe = batch.parquet(path).schema
    reader = spark.readStream.schema(probe)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.parquet(path)
    if "ts" in raw.columns:
        if isinstance(probe["ts"].dataType, T.LongType):
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(probe["ts"].dataType, T.TimestampNTZType):
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream over the testdata events table (glob-filtered directory scan)."""
    return event_stream(spark, sf_dir, glob="events.parquet")


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window rollup per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )


def event_points(events: DataFrame) -> DataFrame:
    """Derive the lattice point of each event (same closed-form family as
    the batch point dataset, so the oracle reuses point_sql)."""
    e = point_exprs("event_id")
    return events.selectExpr(*[f"{v} AS {k}" for k, v in e.items()])


def stream_points_in_boxes(
    points: DataFrame, static_source: DataFrame, theta: tuple[float, float]
) -> DataFrame:
    """Stream-static join: which static box covers each streaming point.

    Static side is exploded to tiles once (it is re-broadcast per
    micro-batch by Spark); the stream side maps each point to its single
    tile — an append-mode equi-join with no stateful dedup needed.
    """
    from ds_jedai_spark.model.tiles import with_tiles

    tx, ty = theta
    s = with_tiles(static_source, theta).select(
        "tx",
        "ty",
        *[
            F.col(c).alias(f"s_{c}")
            for c in ("id", "minx", "miny", "maxx", "maxy")
        ],
    )
    t = points.select(
        F.floor(F.col("minx") / tx).cast("int").alias("tx"),
        F.floor(F.col("miny") / ty).cast("int").alias("ty"),
        F.col("id").alias("t_id"),
        F.col("minx").alias("t_x"),
        F.col("miny").alias("t_y"),
    )
    covers = (
        (F.col("s_minx") <= F.col("t_x"))
        & (F.col("t_x") <= F.col("s_maxx"))
        & (F.col("s_miny") <= F.col("t_y"))
        & (F.col("t_y") <= F.col("s_maxy"))
    )
    return t.join(s, on=["tx", "ty"], how="inner").where(covers).select("s_id", "t_id")


SESSION_GAP_MIN = 30
SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint"
)
_SESSION_STATE_SCHEMA = "last_us bigint, start_us bigint, n bigint"


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    sessions split at >gap inactivity. A session is emitted only once a
    later event confirms the gap (closed sessions); the open tail stays in
    state across micro-batches, so multi-batch and single-batch runs emit
    the identical closed-session set — which is what the oracle (a lag
    window excluding each user's last session) checks.

    Contract: events arrive time-ordered per key across micro-batches
    (time-partitioned file drops / Kafka per-key ordering) — the standard
    assumption for gap sessionization; out-of-order tolerance would need
    watermark-bounded buffering in state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import _parse_datatype_string

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state):
        user = key[0]
        ts = pd.concat(list(pdfs))["ts"]
        # Arrow hands the event time over as datetime64 whose unit depends
        # on the pandas/arrow pairing (ns historically, us under pandas 2);
        # normalize to microseconds explicitly instead of assuming a unit.
        us = pd.Series(ts.values.astype("datetime64[us]").astype("int64")).sort_values()
        if state.exists:
            last_us, start_us, n = state.get
        else:
            last_us = start_us = n = None
        out = []
        for t in us:
            t = int(t)
            if last_us is None:
                start_us, n = t, 0
            elif t - last_us > gap_us:
                out.append((user, start_us, last_us, n))
                start_us, n = t, 0
            last_us = t
            n += 1
        state.update((last_us, start_us, n))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [o[0] for o in out],
                    "session_start": pd.to_datetime(
                        [o[1] for o in out], unit="us"
                    ),
                    "session_end": pd.to_datetime([o[2] for o in out], unit="us"),
                    "n_events": [o[3] for o in out],
                }
            )

    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            _parse_datatype_string(SESSION_OUT_SCHEMA),
            _parse_datatype_string(_SESSION_STATE_SCHEMA),
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_to_table(sdf: DataFrame, name: str, output_mode: str) -> None:
    """Drain the stream with availableNow into an in-memory table.

    Stateful streaming operators materialize one state-store task per
    ``spark.sql.shuffle.partitions`` on EVERY micro-batch and AQE does
    not coalesce streaming shuffles, so a vanilla session's default of
    200 spends most of the drain on empty state tasks (measured 34s vs
    12s on the stream-stream join). The conf is scoped to the drain:
    set to the core count, restored after termination — batch plans
    execute after this returns and never see the temporary value."""
    spark = sdf.sparkSession
    before = spark.conf.get("spark.sql.shuffle.partitions", None)
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(4, cores)))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if before is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", before)


PAIR_GAP_MIN = 30


def stream_asof_enrich(
    stream: DataFrame,
    static_right: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    right_attrs: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming BACKWARD as-of enrichment against a static dimension.

    The static side is interval-ized once per micro-batch plan: each
    right row is valid from its own ``ts`` until the key's next right
    row (``lead`` window over the bounded dimension — batch, never
    stream state). The stream then LEFT-joins on the key plus validity
    containment — a stateless stream-static join, the standard shape
    for enriching a high-volume stream with a slowly changing
    dimension: no watermark, no state store; at scale the dimension
    broadcasts (or hash-joins per micro-batch) and the stream side is
    never shuffled by event volume per key.

    Semantics match ``operators/temporal.asof_join`` backward: a right
    row at exactly the stream row's ``ts`` matches; duplicate right
    (key, ts) rows must be pre-aggregated by the caller. Right
    attributes come back as ``asof_<name>`` (NULL when no prior row).

    Skew bound: the lead window is per-key but runs over the STATIC
    dimension only (rows = right rows per key, e.g. purchases per
    user), never the stream — the side that meets raw event volume. A
    dimension whose per-key row count itself rivals event volume should
    be pre-compacted or routed through the batch bucket-carry form.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    valid = static_right.select(
        F.col(key).alias("_rk"),
        F.col(ts).alias("_v_start"),
        F.lead(ts).over(w).alias("_v_end"),
        *[F.col(a).alias(f"asof_{a}") for a in right_attrs],
    )
    cond = (
        (F.col(key) == F.col("_rk"))
        & (F.col(ts) >= F.col("_v_start"))
        & (F.col("_v_end").isNull() | (F.col(ts) < F.col("_v_end")))
    )
    return (
        stream.join(valid, cond, "left")
        .withColumn("asof_ts", F.col("_v_start"))
        .drop("_rk", "_v_start", "_v_end")
    )


def stream_event_pairs(
    events: DataFrame, max_gap_min: int = PAIR_GAP_MIN, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked stream-stream interval self-join: pairs of events by
    the same user where the second follows the first within max_gap_min.
    Both sides carry a watermark and the join condition bounds the event
    time range, so Spark can expire state (the canonical stream-stream
    join shape; state per key is bounded by watermark + interval)."""
    a = events.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
    ).withWatermark("a_ts", watermark)
    b = events.select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    ).withWatermark("b_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {max_gap_min} MINUTES"))
    )
    return a.join(b, cond).select("user_id", "a_id", "b_id")


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication: the event stream unioned with
    itself (every event arrives twice, the at-least-once delivery case)
    is deduplicated on event_id before a per-type rollup. dropDuplicates
    keeps first-arrival state per key; the watermark bounds that state in
    a continuous run, and the rollup proves each event was counted once.
    """
    a = read_event_stream(spark, sf_dir)
    b = read_event_stream(spark, sf_dir)
    dedup = (
        a.unionByName(b)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
    )
    return dedup.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def embedding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream over the testdata embeddings table — the ONLINE-QUERY side
    of a similarity-search deployment (queries arrive continuously; the
    index is the standing artifact)."""
    return event_stream(spark, sf_dir, glob="embeddings.parquet")


def stream_ann_ivf_topk(
    qstream: DataFrame,
    cent_rows: list,
    candidates: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Streaming ANN search against a pinned IVF index: top-k neighbors
    for each query vector ARRIVING AS A STREAM — the online-retrieval
    shape (a recommender / RAG service answering queries continuously
    while the index stands still).

    Plan (one stateful operator, legal streaming composition):

    1. cell ASSIGNMENT is a pure map-side expression: the trained
       centroids (``cent_rows``, the collected pin_centroids artifact —
       KMEANS_K rows, bounded by construction) are embedded as a literal
       array and argmin-ed per query with ``array_min`` over
       (d2, cid) structs — bit-identical to the batch
       ``_kmeans_assign`` tie-break (ORDER BY d2, cid), no aggregation,
       no state.
    2. stream-static EQUI-JOIN on the cell id against ``candidates``
       (vid, cell, b, n2 — the pinned cell assignments joined with the
       quantized vectors): the static side is broadcast/hashed per
       micro-batch; the stream side never shuffles by anything except
       the join key.
    3. one complete-mode aggregation per qid assembles top-k:
       ``array_sort`` over (negated cos, vid) structs reproduces the
       batch (cos DESC, vid ASC) tie-break exactly — negation of a
       double is exact, so ordering is bit-identical.

    Output: (qid, topk array<struct<negcos, vid, cos>>); explode + drop
    negcos downstream. Matches batch ``ivf_trained_topk`` row-for-row
    (pinned by tests/test_streaming.py)."""
    from ds_jedai_spark.operators.similarity import _cos, _dot, quantized

    qe = quantized(qstream).where(F.col("vec_id") % 50 == 0)
    cent_lit = "array(" + ", ".join(
        "named_struct('cid', CAST(%d AS BIGINT), 'cv', array(%s))"
        % (r["cid"], ", ".join(f"CAST({int(v)} AS BIGINT)" for v in r["cv"]))
        for r in cent_rows
    ) + ")"
    assign = (
        f"array_min(transform({cent_lit}, c -> named_struct("
        "'d2', aggregate(zip_with(qv, c.cv, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (x, y) -> x + y), "
        "'cid', c.cid))).cid"
    )
    q = qe.select(
        F.col("vec_id").alias("qid"),
        F.col("qv").alias("a"),
        F.col("norm2").alias("n1"),
        F.expr(assign).alias("cell"),
    )
    scored = (
        q.join(candidates, "cell")
        .where(F.col("qid") != F.col("vid"))
        .withColumn("dot", _dot("a", "b"))
        .withColumn("cos", _cos())
    )
    return scored.groupBy("qid").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cos")).alias("negcos"),
                        F.col("vid").alias("vid"),
                        F.col("cos").alias("cos"),
                    )
                )
            ),
            1,
            k,
        ).alias("topk")
    )


def corpus_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of the dedup corpus (textops.CORPUS_SQL): the
    documents stream unioned with its injected exact-dup (+1e6 ids) and
    truncated near-dup (+2e6 ids) slices — three scans of the same file
    source, each row delivered exactly once per slice."""
    raw = event_stream(spark, sf_dir, glob="documents.parquet")
    a = raw.select("doc_id", "text")
    b = raw.where("doc_id % 7 = 0").select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    c = raw.where("doc_id % 11 = 0").select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr(
            "substring(text, 1, "
            "CAST(floor(CAST(3 * length(text) AS DOUBLE) / 4.0) AS INT))"
        ).alias("text"),
    )
    return a.unionByName(b).unionByName(c)


def _drain_foreach_batch(stream: DataFrame, on_batch, ckpt_key: str) -> None:
    """Drain a foreachBatch ingest stream with availableNow: fresh
    checkpoint per invocation (callers drop/recreate their sink table,
    so a surviving checkpoint would mark every source file processed),
    and the shuffle-partition scoping run_to_table documents (state/
    shuffle tasks sized to the core count for the drain, restored
    after)."""
    import os
    import shutil
    import tempfile

    spark = stream.sparkSession
    ckpt = os.path.join(
        tempfile.gettempdir(),
        f"jedai_ckpt_{ckpt_key}_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    before = spark.conf.get("spark.sql.shuffle.partitions", None)
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(4, cores)))
    try:
        q = (
            stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if before is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", before)


def _batch_sink(pairs: DataFrame, bid: int, out_table: str,
                idempotent: bool) -> None:
    """Write one micro-batch's results. ``idempotent=False`` is the
    blind append (at-least-once under retry). ``idempotent=True`` lands
    the batch in its own ``_batch_id`` partition via DYNAMIC partition
    overwrite: a retried batch overwrites exactly its own partition, so
    replays converge to one copy — exactly-once at the sink without a
    transactional table format. The partition column is part of the
    table schema; readers select it away (or keep it as lineage)."""
    from pyspark.sql import functions as F

    if not idempotent:
        pairs.write.mode("append").saveAsTable(out_table)
        return
    spark = pairs.sparkSession
    out = pairs.withColumn("_batch_id", F.lit(int(bid)))
    if not spark.catalog.tableExists(out_table):
        out.write.partitionBy("_batch_id").saveAsTable(out_table)
    else:
        # the session conf, not the writer option: insertInto ignores
        # the per-writer option and would STATIC-overwrite the whole
        # table (wiping every other batch) — measured, not theoretical
        before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            out.write.mode("overwrite").insertInto(out_table)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", before
            )


def stream_incremental_dedup(
    docs_stream: DataFrame,
    index_sh: DataFrame,
    tau: float,
    out_table: str,
    idempotent: bool = False,
) -> None:
    """Incremental near-dup INGEST: each arriving micro-batch of
    documents is deduplicated against the STANDING shingle index with
    the cross-corpus MinHash-LSH path, and the verified pairs are
    appended to ``out_table`` — the canonical production ingest loop
    (foreachBatch turns every micro-batch into a batch plan, so the
    whole cross-dedup machinery — banded collision equi-join,
    pair-keyed verification — runs unchanged per batch).

    Per-batch results are INDEPENDENT (each pair couples one batch doc
    with the static index; no batch x batch pairs exist by
    construction), so the appended union is invariant to how the stream
    splits into micro-batches (pytest-pinned with maxFilesPerTrigger=1).
    At 100 TB: the index side is the bucketed standing shingle table
    (pin_shingles with a table), each day's crawl streams through,
    and state is zero — no watermark, no state store.

    Delivery guarantee: the default blind append is AT-LEAST-ONCE, not
    exactly-once — the checkpoint makes every micro-batch processed,
    but a batch that failed after a partial write and was retried (or
    the last batch re-run after a restart) appends twice. Pass
    ``idempotent=True`` for the exactly-once sink: each batch lands in
    its own ``_batch_id`` partition via dynamic partition overwrite, so
    replays converge to one copy (see _batch_sink). The testdata drains
    run availableNow once into a fresh table, where both coincide; the
    gate keeps the append form (stable output schema)."""
    from ds_jedai_spark.operators import dedup

    def on_batch(batch_df: DataFrame, bid: int) -> None:
        pairs = dedup.minhash_lsh_pairs_cross(
            batch_df, None, tau=tau, sh_b=index_sh
        )
        _batch_sink(pairs, bid, out_table, idempotent)

    _drain_foreach_batch(docs_stream, on_batch, f"dedup_{out_table}")


def stream_incremental_embedding_dedup(
    emb_stream: DataFrame,
    index_emb: DataFrame,
    index_bands: DataFrame,
    tau: float,
    out_table: str,
    idempotent: bool = False,
) -> None:
    """Embedding-space incremental ingest (the stream_incremental_dedup
    mirror): each micro-batch of arriving vectors is near-dup-checked
    against the STANDING LSH band-table index via
    lsh_neardup_pairs_cross — only the batch computes hyperplane dots;
    the index side reads the pinned band table. Zero streaming state;
    per-batch results couple batch vectors with the index only, so the
    appended union is invariant to the micro-batch split. Same
    delivery-guarantee contract as stream_incremental_dedup: blind
    append (default) is at-least-once under retry; ``idempotent=True``
    switches to the per-batch-id dynamic-overwrite sink."""
    from ds_jedai_spark.operators import similarity

    def on_batch(batch_df: DataFrame, bid: int) -> None:
        # n_bands="auto": the pin's own (lsh_bands, lsh_bits) stamp is
        # authoritative — the batch must hash with the pin's hyperplane
        # parameters, whatever they were at build time.
        pairs = similarity.lsh_neardup_pairs_cross(
            batch_df, index_emb, tau, index_bands=index_bands,
            n_bands="auto",
        )
        _batch_sink(pairs, bid, out_table, idempotent)

    _drain_foreach_batch(emb_stream, on_batch, f"embdedup_{out_table}")


def stream_validate(
    spark: SparkSession, sf_dir: str, rules: dict[str, str]
) -> DataFrame:
    """Streaming data-quality monitor: the documents file stream
    through the SAME one-pass violation aggregation as the batch
    expectations check (operators/validate.validate_wide) — a global
    streaming aggregate whose complete-mode output converges to the
    batch answer once the source drains. The per-micro-batch state is
    the handful of per-rule counters (bytes, not rows), so the monitor
    costs nothing at any stream rate."""
    from ds_jedai_spark.operators.validate import _violation_aggs

    raw = event_stream(spark, sf_dir, glob="documents.parquet")
    return raw.agg(*_violation_aggs(rules))
