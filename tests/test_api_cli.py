"""End-to-end config surface: YAML -> api.run == brute-force general path."""

import pytest
import yaml
from pyspark.sql import functions as F

from ds_jedai_spark import api
from ds_jedai_spark.config import ConfigError, load_config, parse_config


def _write_tsv(path, rows):
    with open(path, "w") as f:
        f.write("id\twkt\n")
        for i, w in rows:
            f.write(f"{i}\t{w}\n")


SOURCE = [
    (1, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"),
    (2, "POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))"),
    (3, "LINESTRING (0 5, 9 5)"),
    (4, "POINT (5 5)"),
    # non-convex coverage through the -conf path: a donut overlapping
    # the plain polygons and a point sitting in its hole
    (5, "POLYGON ((2 2, 9 2, 9 9, 2 9, 2 2), "
        "(4 4, 7 4, 7 7, 4 7, 4 4))"),
]
TARGET = [
    (10, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
    (11, "LINESTRING (2 0, 2 9)"),
    (12, "POINT (4 4)"),
    (13, "POLYGON ((6 6, 8 6, 8 8, 6 8, 6 6))"),
    (14, "MULTIPOLYGON (((0 8, 1 8, 1 9, 0 9, 0 8)), "
        "((5 5, 6 5, 6 6, 5 6, 5 5)))"),
]


@pytest.fixture(scope="module")
def conf_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("apicfg")
    _write_tsv(d / "source.tsv", SOURCE)
    _write_tsv(d / "target.tsv", TARGET)
    doc = {
        "source": {"path": str(d / "source.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "target": {"path": str(d / "target.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "relation": "DE9IM",
    }
    p = d / "conf.yaml"
    p.write_text(yaml.safe_dump(doc))
    return str(p)


def test_yaml_roundtrip_and_validation(conf_path):
    cfg = load_config(conf_path)
    assert cfg.relation == "DE9IM" and cfg.ws == "SIMPLE"
    with pytest.raises(ConfigError):
        parse_config({"source": {"path": "x"}, "target": {"path": "y"},
                      "relation": "NOPE"})
    with pytest.raises(ConfigError):
        parse_config({"source": {"path": "x"}, "target": {"path": "y"},
                      "configurations": {"mainWF": "BAD"}})
    # loadBalancer holds the same hard-error contract as the other enums
    # (a typo silently behaving as AUTO was the r11 advice item)...
    with pytest.raises(ConfigError, match="loadBalancer"):
        parse_config({"source": {"path": "x"}, "target": {"path": "y"},
                      "configurations": {"loadBalancer": "ALWAYS"}})
    # ...and valid values are case-normalized into extra.
    ok = parse_config({"source": {"path": "x"}, "target": {"path": "y"},
                       "configurations": {"loadBalancer": "off"}})
    assert ok.extra["loadBalancer"] == "OFF"
    # Programmatic callers bypass parse_config; auto_balance guards too.
    from ds_jedai_spark.operators.loadbalance import auto_balance

    with pytest.raises(ValueError, match="loadBalancer"):
        auto_balance(None, None, None, mode="ALWAYS")


def test_de9im_run_matches_brute_force(spark, conf_path):
    from ds_jedai_spark.config import load_config
    from ds_jedai_spark.operators.relate_general import with_general_relations
    from ds_jedai_spark.operators.spatial_join import brute_force_join

    cfg = load_config(conf_path)
    got = api.run(spark, cfg).first().asDict()

    s = api.read_dataset(spark, cfg.source)
    t = api.read_dataset(spark, cfg.target)
    bf = with_general_relations(
        brute_force_join(s, t, ("gtype", "coords"), ("gtype", "coords"))
    )
    assert got["verifications"] == bf.count()
    assert got["qualifying_pairs"] == bf.where("r_intersects").count()
    assert got["n_touches"] == bf.where("r_touches").count()
    assert got["n_crosses"] == bf.where("r_crosses").count()


def test_single_relation_pairs(spark, conf_path, tmp_path):
    cfg = load_config(conf_path)
    cfg.relation = "INTERSECTS"
    cfg.export_path = str(tmp_path / "out")
    pairs = {(r.s_id, r.t_id) for r in api.run(spark, cfg).collect()}
    assert ("1", "12") in pairs and len(pairs) >= 5
    exported = spark.read.option("header", True).csv(cfg.export_path)
    assert exported.count() == len(pairs)


def test_decomposed_entity_type_same_qualifying(spark, conf_path):
    # Fine-grained pre-filter may prune non-intersecting candidates but
    # never a qualifying pair: counts of true relations are unchanged.
    cfg = load_config(conf_path)
    plain = api.run(spark, cfg).first().asDict()
    cfg.entity_type = "INDEXED_DECOMPOSED_ENTITY"
    fine = api.run(spark, cfg).first().asDict()
    assert fine["verifications"] <= plain["verifications"]
    for k in plain:
        if k != "verifications":
            assert fine[k] == plain[k], k


def test_progressive_run_budget_caps(spark, conf_path):
    cfg = load_config(conf_path)
    cfg.relation = "INTERSECTS"
    cfg.progressive_algorithm = "PROGRESSIVE_GIANT"
    cfg.budget = 3
    pairs = api.run(spark, cfg).collect()
    assert len(pairs) <= 3


def test_kdbtree_grid_and_theta_modes_match_default(spark, conf_path):
    cfg = load_config(conf_path)
    want = api.run(spark, cfg).first().asDict()
    # Sampled-partitioner path and alternate theta modes: identical counts.
    cfg.grid_type = "KDBTREE"
    cfg.partitions = 16
    assert api.run(spark, cfg).first().asDict() == want
    cfg.grid_type = "TILES"
    cfg.theta_granularity = "avg2"
    assert api.run(spark, cfg).first().asDict() == want


@pytest.mark.parametrize("alg", ["DYNAMIC_PROGRESSIVE_GIANT", "EARLY_STOPPING"])
def test_stateful_algorithms_run_and_stay_subset(spark, conf_path, alg):
    cfg = load_config(conf_path)
    cfg.relation = "INTERSECTS"
    full = {(r.s_id, r.t_id) for r in api.run(spark, cfg).collect()}
    cfg.progressive_algorithm = alg
    cfg.budget = 100
    got = {(r.s_id, r.t_id) for r in api.run(spark, cfg).collect()}
    assert got and got <= full


@pytest.mark.parametrize("alg", ["TOPK", "RECIPROCAL_TOPK"])
def test_topk_algorithms_run_and_stay_subset(spark, conf_path, alg):
    """The dynamic-k dispatch (k = ceil(budget / |sources|) folded in as a
    broadcast aggregate) must produce a nonempty subset of the full
    qualifying pairs, with at most k pairs per source for TOPK."""
    cfg = load_config(conf_path)
    cfg.relation = "INTERSECTS"
    full = {(r.s_id, r.t_id) for r in api.run(spark, cfg).collect()}
    cfg.progressive_algorithm = alg
    cfg.budget = 8
    got = [(r.s_id, r.t_id) for r in api.run(spark, cfg).collect()]
    assert got and set(got) <= full
    if alg == "TOPK":
        from collections import Counter

        # True k = ceil(budget / |candidate sources|); candidate sources
        # superset the qualifying sources, so this bound only loosens.
        k_bound = -(-8 // max(len({s for s, _ in full}), 1))
        assert max(Counter(s for s, _ in got).values()) <= k_bound


def test_cli_pipeline_list_and_unknown(capsys):
    from ds_jedai_spark import cli

    assert cli.main(["-pipeline", "list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "giant_counts_variants" in out and len(out) <= 50

    assert cli.main(["-pipeline", "nope_such_query"]) == 2


def test_cli_op_surface(spark, tmp_path, capsys, cli_main):
    """-op asof/interval/chunk e2e: user parquet in, user-chosen knobs,
    parquet out — the temporal/pipeline operators from the shell."""

    ev = str(tmp_path / "ev.parquet")
    from ds_jedai_spark.io.synthetic import register_views

    register_views(spark, "/root/testdata/sf0.001", ["events"])
    spark.table("events").write.mode("overwrite").parquet(ev)

    # as-of with a tolerance + nearest direction, written to parquet
    out = str(tmp_path / "asof_out.parquet")
    rc = cli_main([
        "-op", "asof", "-left", ev, "-right", ev,
        "-key", "user_id", "-ts", "ts",
        "-right-attrs", "event_type,value",
        "-direction", "nearest", "-tolerance-us", "3600000000",
        "-out", out,
    ])
    assert rc == 0
    back = spark.read.parquet(out)
    assert back.count() == spark.read.parquet(ev).count()
    assert "asof_event_type" in back.columns and "asof_value" in back.columns
    # self-as-of with exact matches allowed: every row matches itself
    assert back.where(F.col("asof_ts") == F.col("ts")).count() == back.count()

    # interval join with colliding right columns (CLI auto-prefixes)
    rc = cli_main([
        "-op", "interval", "-left", ev, "-right", ev,
        "-ts", "ts", "-right-start", "ts", "-right-end", "ts",
        "-keys", "user_id=user_id", "-how", "inner",
        "-out", str(tmp_path / "iv.parquet"),
    ])
    assert rc == 0
    iv = spark.read.parquet(str(tmp_path / "iv.parquet"))
    # degenerate [ts, ts] self-intervals on the same key: >= one
    # self-match per row
    assert iv.count() >= back.count()
    assert "r_ts" in iv.columns

    # chunking documents with custom window/overlap
    docs = str(tmp_path / "docs.parquet")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.mode(
        "overwrite"
    ).parquet(docs)
    rc = cli_main([
        "-op", "chunk", "-left", docs,
        "-chunk-tokens", "16", "-overlap", "4", "-limit", "2",
    ])
    assert rc == 0
    txt = capsys.readouterr().out
    assert "doc_id\tchunk_id" in txt

    # chunk honors -id-col/-text-col (previously silently ignored)
    docs2 = str(tmp_path / "docs_custom.parquet")
    spark.read.parquet(docs).selectExpr(
        "doc_id AS my_id", "text AS body"
    ).write.mode("overwrite").parquet(docs2)
    rc = cli_main([
        "-op", "chunk", "-left", docs2, "-id-col", "my_id",
        "-text-col", "body", "-chunk-tokens", "16", "-limit", "2",
    ])
    assert rc == 0
    assert "doc_id\tchunk_id" in capsys.readouterr().out
    with pytest.raises(SystemExit, match="not found in input"):
        cli_main(["-op", "chunk", "-left", docs2, "-limit", "1"])

    # bad usage: missing -right
    assert cli_main(["-op", "asof", "-left", ev]) == 2


def test_cli_op_dedup_surface(spark, tmp_path, cli_main):
    """-op dedup / emb-dedup on user parquet: self and incremental
    (batch-vs-corpus) forms, custom column names, threshold knob."""

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    renamed = str(tmp_path / "mydocs.parquet")
    docs.select(
        F.col("doc_id").alias("id"), F.col("text").alias("body"), "source"
    ).write.mode("overwrite").parquet(renamed)
    out = str(tmp_path / "pairs.parquet")
    rc = cli_main([
        "-op", "dedup", "-left", renamed,
        "-id-col", "id", "-text-col", "body", "-tau", "0.8",
        "-out", out,
    ])
    assert rc == 0
    pairs = spark.read.parquet(out)
    assert set(pairs.columns) == {"d1", "d2", "jaccard"}
    assert pairs.where(F.col("jaccard") < 0.8).count() == 0

    # incremental: even half as batch vs odd half as corpus
    even = str(tmp_path / "even.parquet")
    odd = str(tmp_path / "odd.parquet")
    docs.where("doc_id % 2 = 0").write.mode("overwrite").parquet(even)
    docs.where("doc_id % 2 = 1").write.mode("overwrite").parquet(odd)
    out2 = str(tmp_path / "cross.parquet")
    rc = cli_main(["-op", "dedup", "-left", even, "-right", odd,
                   "-out", out2])
    assert rc == 0
    cross = spark.read.parquet(out2)
    for r in cross.collect():
        assert r["d1"] % 2 == 0 and r["d2"] % 2 == 1

    # embedding near-dup with auto-scaled LSH params
    emb = str(tmp_path / "emb.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).write.mode("overwrite").parquet(emb)
    out3 = str(tmp_path / "embpairs.parquet")
    rc = cli_main(["-op", "emb-dedup", "-left", emb, "-tau", "0.4",
                   "-out", out3])
    assert rc == 0
    ep = spark.read.parquet(out3)
    assert set(ep.columns) == {"d1", "d2", "cos"}
    assert ep.count() > 0
    assert ep.where(F.col("cos") < 0.4).count() == 0


def test_cli_op_ann(spark, tmp_path, cli_main):
    emb = str(tmp_path / "emb.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).write.mode("overwrite").parquet(emb)

    out = str(tmp_path / "brute.parquet")
    assert cli_main(["-op", "ann", "-left", emb, "-method", "brute",
                     "-k", "4", "-n-queries", "6", "-out", out]) == 0
    res = spark.read.parquet(out)
    assert set(res.columns) == {"qid", "vid", "cos"}
    counts = {r["qid"]: r["n"] for r in
              res.groupBy("qid").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == set(range(6)) and all(v == 4 for v in counts.values())

    out2 = str(tmp_path / "ivf.parquet")
    assert cli_main(["-op", "ann", "-left", emb, "-method", "ivf",
                     "-k", "3", "-out", out2]) == 0
    res2 = spark.read.parquet(out2)
    assert res2.count() > 0
    assert res2.groupBy("qid").count().agg(F.max("count")).first()[0] <= 3


def test_cli_op_ann_offset_ids(spark, tmp_path, cli_main):
    """-op ann on user parquet whose vec_ids are OFFSET (no id < n
    exists): both methods must return the full top-k for the n smallest
    ids actually present — the silent 'wrote 0 rows' failure mode of the
    literal vec_id < n query predicate."""

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb = str(tmp_path / "emb_off.parquet")
    base.withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    ).write.mode("overwrite").parquet(emb)
    smallest = [r["vec_id"] for r in
                base.select((F.col("vec_id") + 1_000_000).alias("vec_id"))
                .orderBy("vec_id").limit(6).collect()]

    out = str(tmp_path / "brute_off.parquet")
    assert cli_main(["-op", "ann", "-left", emb, "-method", "brute",
                     "-k", "4", "-n-queries", "6", "-out", out]) == 0
    res = spark.read.parquet(out)
    counts = {r["qid"]: r["n"] for r in
              res.groupBy("qid").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == set(smallest)
    assert all(v == 4 for v in counts.values())

    out2 = str(tmp_path / "ivf_off.parquet")
    assert cli_main(["-op", "ann", "-left", emb, "-method", "ivf",
                     "-k", "3", "-n-queries", "6", "-out", out2]) == 0
    res2 = spark.read.parquet(out2)
    assert res2.count() > 0
    assert set(r["qid"] for r in res2.select("qid").distinct().collect()) \
        <= set(smallest)
    assert res2.groupBy("qid").count().agg(F.max("count")).first()[0] <= 3

    out3 = str(tmp_path / "pq_off.parquet")
    assert cli_main(["-op", "ann", "-left", emb, "-method", "pq",
                     "-k", "3", "-n-queries", "6", "-out", out3]) == 0
    res3 = spark.read.parquet(out3)
    assert res3.count() > 0
    assert set(r["qid"] for r in res3.select("qid").distinct().collect()) \
        <= set(smallest)
    assert res3.groupBy("qid").count().agg(F.max("count")).first()[0] <= 3


def test_cli_op_ann_empty_corpus_raises(spark, tmp_path, cli_main):
    """Pathological input (zero vectors) errors loudly instead of
    training fine and writing 0 rows."""

    empty = str(tmp_path / "empty.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).where("vec_id < 0").write.mode("overwrite").parquet(empty)
    for method in ("brute", "ivf"):
        with pytest.raises(SystemExit, match="no vectors"):
            cli_main(["-op", "ann", "-left", empty, "-method", method,
                      "-out", str(tmp_path / "nope.parquet")])


def test_cli_op_shuffle(spark, tmp_path, cli_main):
    docs = str(tmp_path / "d.parquet")
    spark.range(100).select(F.col("id").alias("my_id")).write.mode(
        "overwrite"
    ).parquet(docs)
    out = str(tmp_path / "shuffled.parquet")
    assert cli_main(["-op", "shuffle", "-left", docs, "-id-col", "my_id",
                     "-shards", "4", "-out", out]) == 0
    res = spark.read.parquet(out)
    assert res.count() == 100
    assert set(res.columns) == {"doc_id", "shard", "pos"}
    # positions are 1..n within each shard
    from pyspark.sql import functions as SF
    per = res.groupBy("shard").agg(
        SF.count(SF.lit(1)).alias("n"), SF.max("pos").alias("mx"),
        SF.min("pos").alias("mn"),
    ).collect()
    assert len(per) == 4
    for r in per:
        assert r["mn"] == 1 and r["mx"] == r["n"]


def test_cli_op_shuffle_guard(spark, tmp_path, cli_main):
    """-op shuffle routes through _guard_rename: a pre-existing doc_id
    column alongside -id-col refuses with guidance (not a silent
    duplicate column), and a missing default doc_id gives the guided
    error instead of a raw AnalysisException."""

    clash = str(tmp_path / "clash.parquet")
    spark.range(10).select(
        F.col("id").alias("my_id"), (F.col("id") * 2).alias("doc_id")
    ).write.mode("overwrite").parquet(clash)
    with pytest.raises(SystemExit, match="already has a 'doc_id'"):
        cli_main(["-op", "shuffle", "-left", clash, "-id-col", "my_id",
                  "-out", str(tmp_path / "no1.parquet")])

    noid = str(tmp_path / "noid.parquet")
    spark.range(10).select(F.col("id").alias("other")).write.mode(
        "overwrite"
    ).parquet(noid)
    with pytest.raises(SystemExit, match="not found in input"):
        cli_main(["-op", "shuffle", "-left", noid,
                  "-out", str(tmp_path / "no2.parquet")])


def test_cli_op_dupspans_and_scrub(spark, tmp_path, cli_main):
    """-op dupspans finds redundant duplicated runs on user parquet with
    custom column names; -op scrub emits the keep-first-scrubbed corpus
    (doc_id, text) with the redundant copies gone."""

    boiler = "q w e r t y u i"
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, f"alpha {boiler} beta"), (2, f"g1 g2 {boiler} g3"),
         (3, "all unique words in this one here now")],
        "id long, body string",
    ).write.mode("overwrite").parquet(docs)

    out = str(tmp_path / "spans.parquet")
    assert cli_main(["-op", "dupspans", "-left", docs,
                     "-id-col", "id", "-text-col", "body",
                     "-out", out]) == 0
    spans = spark.read.parquet(out)
    assert [tuple(r) for r in spans.collect()] == [(2, 3, 10, 1)]

    out2 = str(tmp_path / "clean.parquet")
    assert cli_main(["-op", "scrub", "-left", docs,
                     "-id-col", "id", "-text-col", "body",
                     "-out", out2]) == 0
    clean = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(out2).collect()}
    assert clean[1] == f"alpha {boiler} beta"      # canonical copy kept
    assert clean[2] == "g1 g2 g3"                  # redundant copy gone
    assert clean[3] == "all unique words in this one here now"

    # shorter runs dedup'd once -span-words drops below the run length
    out3 = str(tmp_path / "spans5.parquet")
    assert cli_main(["-op", "dupspans", "-left", docs,
                     "-id-col", "id", "-text-col", "body",
                     "-span-words", "5", "-out", out3]) == 0
    s5 = spark.read.parquet(out3)
    assert s5.where("doc_id = 2").count() >= 1


def test_cli_ann_build_then_search_index(spark, tmp_path, cli_main):
    """-op ann-build persists the full index (IVF cent/cells, PQ
    books/codes, stamped LSH bands) as tables; -op ann -index searches
    against them WITHOUT retraining and matches the inline-training
    results bit for bit (training is deterministic)."""

    emb = str(tmp_path / "emb.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).write.mode("overwrite").parquet(emb)

    out_b = str(tmp_path / "build.parquet")
    assert cli_main(["-op", "ann-build", "-left", emb,
                     "-index", "t_cli_idx", "-out", out_b]) == 0
    summary = spark.read.parquet(out_b).first()
    assert summary["n_vectors"] > 0 and summary["dim"] > 0
    for suffix in ("cent", "cells", "books", "codes", "bands"):
        assert spark.catalog.tableExists(f"t_cli_idx_{suffix}"), suffix
    assert {"lsh_bands", "lsh_bits"} <= set(
        spark.table("t_cli_idx_bands").columns
    )

    for method in ("ivf", "pq"):
        out_i = str(tmp_path / f"{method}_idx.parquet")
        out_n = str(tmp_path / f"{method}_noidx.parquet")
        assert cli_main(["-op", "ann", "-left", emb, "-method", method,
                         "-k", "3", "-n-queries", "5",
                         "-index", "t_cli_idx", "-out", out_i]) == 0
        assert cli_main(["-op", "ann", "-left", emb, "-method", method,
                         "-k", "3", "-n-queries", "5", "-out", out_n]) == 0
        got = sorted(map(tuple, spark.read.parquet(out_i).collect()))
        want = sorted(map(tuple, spark.read.parquet(out_n).collect()))
        assert got == want and got, method

    # brute rejects -index loudly (it has nothing to reuse)
    assert cli_main(["-op", "ann", "-left", emb, "-method", "brute",
                     "-index", "t_cli_idx",
                     "-out", str(tmp_path / "no.parquet")]) == 2


def test_cli_dedup_build_then_incremental(spark, tmp_path, cli_main):
    """-op dedup-build persists the bucketed shingle index; -op dedup
    -index dedups an arriving batch against it without -right and
    matches the inline cross run; -op emb-dedup -index reuses the
    ann-build band table via its parameter stamp."""

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    even = str(tmp_path / "even.parquet")
    odd = str(tmp_path / "odd.parquet")
    base.where("doc_id % 2 = 0").write.mode("overwrite").parquet(even)
    # near-dup injection: odd corpus plus truncated copies of even docs
    base.where("doc_id % 2 = 1").select("doc_id", "text").unionByName(
        base.where("doc_id % 2 = 0").select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.expr("substring(text, 1, CAST(length(text) * 0.9 AS INT))")
            .alias("text"),
        )
    ).write.mode("overwrite").parquet(odd)

    out_b = str(tmp_path / "shbuild.parquet")
    assert cli_main(["-op", "dedup-build", "-left", odd,
                     "-index", "t_cli_sh", "-out", out_b]) == 0
    assert spark.read.parquet(out_b).first()["n_docs"] > 0
    assert spark.catalog.tableExists("t_cli_sh")

    out_i = str(tmp_path / "dd_idx.parquet")
    out_r = str(tmp_path / "dd_right.parquet")
    assert cli_main(["-op", "dedup", "-left", even, "-index", "t_cli_sh",
                     "-tau", "0.5", "-out", out_i]) == 0
    assert cli_main(["-op", "dedup", "-left", even, "-right", odd,
                     "-tau", "0.5", "-out", out_r]) == 0
    got = sorted(map(tuple, spark.read.parquet(out_i).collect()))
    want = sorted(map(tuple, spark.read.parquet(out_r).collect()))
    assert got == want and got

    # emb-dedup against the ann-build band table: build first, then the
    # cross run with -index must equal the run that rebuilds bands
    emb = str(tmp_path / "embc.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).write.mode("overwrite").parquet(emb)
    assert cli_main(["-op", "ann-build", "-left", emb,
                     "-index", "t_cli_idx2", "-tau", "0.9",
                     "-out", str(tmp_path / "b2.parquet")]) == 0
    out_e = str(tmp_path / "emb_idx.parquet")
    assert cli_main(["-op", "emb-dedup", "-left", emb, "-right", emb,
                     "-index", "t_cli_idx2", "-tau", "0.9",
                     "-out", out_e]) == 0
    res = spark.read.parquet(out_e)
    assert set(res.columns) == {"d1", "d2", "cos"}


def test_cli_ann_nprobe(spark, tmp_path, cli_main):
    """-nprobe widens the IVF scan: every single-cell neighbor set is a
    subset of the nprobe=3 set, and offset ids keep working."""

    emb = str(tmp_path / "emb_np.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).withColumn("vec_id", F.col("vec_id") + 7777).write.mode(
        "overwrite"
    ).parquet(emb)

    out1 = str(tmp_path / "np1.parquet")
    out3 = str(tmp_path / "np3.parquet")
    assert cli_main(["-op", "ann", "-left", emb, "-method", "ivf",
                     "-k", "3", "-n-queries", "5", "-out", out1]) == 0
    assert cli_main(["-op", "ann", "-left", emb, "-method", "ivf",
                     "-k", "3", "-n-queries", "5", "-nprobe", "3",
                     "-out", out3]) == 0
    r1 = spark.read.parquet(out1)
    r3 = spark.read.parquet(out3)
    assert r1.count() > 0 and r3.count() >= r1.count()
    # wider probe can only improve each query's best cosine
    best1 = {r["qid"]: r["m"] for r in
             r1.groupBy("qid").agg(F.max("cos").alias("m")).collect()}
    best3 = {r["qid"]: r["m"] for r in
             r3.groupBy("qid").agg(F.max("cos").alias("m")).collect()}
    for qid, m1 in best1.items():
        assert best3[qid] >= m1


def test_cli_dedup_apply(spark, tmp_path, cli_main):
    """-op dedup-apply writes the deduplicated corpus: near-dup copies
    collapse to one representative, unclustered docs pass through with
    cluster_id = -1, and every surviving clustered doc is its cluster's
    minimum id."""

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    docs = str(tmp_path / "docs_apply.parquet")
    # exact copies of every 5th doc at +100000 ids: guaranteed clusters
    base.unionByName(
        base.where("doc_id % 5 = 0").select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    ).write.mode("overwrite").parquet(docs)

    out = str(tmp_path / "surv.parquet")
    assert cli_main(["-op", "dedup-apply", "-left", docs,
                     "-tau", "0.8", "-out", out]) == 0
    surv = spark.read.parquet(out)
    n_in = spark.read.parquet(docs).count()
    assert 0 < surv.count() < n_in          # something was removed
    assert set(surv.columns) == {"doc_id", "text", "cluster_id"}
    # no injected copy survives while its original is present
    ids = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert not any(i >= 100000 and i - 100000 in ids for i in ids)
    # clustered survivors are their cluster's representative
    assert surv.where(
        (F.col("cluster_id") != -1) & (F.col("cluster_id") != F.col("doc_id"))
    ).count() == 0


def test_cli_emb_dedup_self_with_index(spark, tmp_path, cli_main):
    """-op emb-dedup -index without -right runs the self-dedup over the
    persisted band table and matches the rebuild-bands run (the pin was
    built with auto params over the same corpus, so candidates agree
    whenever the parameters do — here we only pin schema + nonemptiness
    plus the exact-equality case of identical parameters)."""

    emb = str(tmp_path / "emb_self.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).write.mode("overwrite").parquet(emb)
    assert cli_main(["-op", "ann-build", "-left", emb,
                     "-index", "t_cli_idx3", "-tau", "0.9",
                     "-out", str(tmp_path / "b3.parquet")]) == 0
    out = str(tmp_path / "self_idx.parquet")
    assert cli_main(["-op", "emb-dedup", "-left", emb,
                     "-index", "t_cli_idx3", "-tau", "0.9",
                     "-out", out]) == 0
    res = spark.read.parquet(out)
    assert set(res.columns) == {"d1", "d2", "cos"}


def test_cli_op_quantize(spark, tmp_path, cli_main):
    emb = str(tmp_path / "emb_q.parquet")
    spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).write.mode("overwrite").parquet(emb)
    out = str(tmp_path / "q.parquet")
    assert cli_main(["-op", "quantize", "-left", emb, "-out", out]) == 0
    res = spark.read.parquet(out)
    assert set(res.columns) == {"vec_id", "maxabs", "sse"}
    assert res.count() == spark.read.parquet(emb).count()
    assert res.where("sse < 0").count() == 0


def test_load_balancer_dispatch_routes_and_matches(spark, conf_path):
    """Auto skew-split dispatch: the 5-vertex-box corpus estimates cheap
    (plain route), high-vertex polygons estimate expensive (split
    route), ON/OFF force both, and every route returns the identical
    DE9IM counts row."""
    import dataclasses

    from ds_jedai_spark.operators import loadbalance as lb

    cfg = load_config(conf_path)
    # The test corpus is boxes/lines/points (<= 5 vertices a side):
    # AUTO must estimate below threshold and keep the plain path.
    src = api.read_dataset(spark, cfg.source)
    tgt = api.read_dataset(spark, cfg.target)
    est = lb.estimate_pair_cost(src, tgt)
    assert 0 < est < lb.VERTEX_COST_THRESHOLD
    # One aggregate, same value as the product of the two per-side
    # full-scan means.
    from ds_jedai_spark.operators.measures import npoints_expr

    def mean(df):
        return df.select(F.avg(npoints_expr())).first()[0]

    assert est == mean(src) * mean(tgt)
    # A 16-gon-ish corpus must estimate above threshold.
    many = spark.createDataFrame(
        [(1, [[[float(i), float(i % 3)] for i in range(17)]])],
        "id long, coords array<array<array<double>>>",
    )
    assert lb.estimate_pair_cost(many, many) > lb.VERTEX_COST_THRESHOLD

    # auto_balance routing flags on the real candidate set.
    theta = api.compute_theta(src, cfg.theta_granularity)
    cand = api.tile_join(
        src, tgt, theta=theta,
        source_extra=("gtype", "coords"), target_extra=("gtype", "coords"),
    )
    _, engaged = lb.auto_balance(cand, src, tgt, mode="AUTO")
    assert not engaged
    _, engaged = lb.auto_balance(cand, src, tgt, mode="ON")
    assert engaged
    _, engaged = lb.auto_balance(cand, many, many, mode="AUTO")
    assert engaged
    _, engaged = lb.auto_balance(cand, many, many, mode="OFF")
    assert not engaged

    # End-to-end: all three modes produce the identical counts row.
    want = api.run(spark, cfg).first().asDict()
    for mode in ("ON", "OFF"):
        forced = dataclasses.replace(
            cfg, extra={**cfg.extra, "loadBalancer": mode}
        )
        assert api.run(spark, forced).first().asDict() == want, mode


def test_cli_op_relate(spark, tmp_path, capsys, cli_main):
    """-op relate e2e: the flagship tile join + exact relate on user WKT
    TSVs without a YAML — DE9IM counts row, single-predicate pairs
    (equal to the -conf path), guards, and parquet -out."""

    d = tmp_path
    _write_tsv(d / "s.tsv", SOURCE)
    _write_tsv(d / "t.tsv", TARGET)

    # DE9IM counts row equals the -conf/api path on the same data
    cfg = parse_config({
        "source": {"path": str(d / "s.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "target": {"path": str(d / "t.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "relation": "DE9IM",
    })
    want = api.run(spark, cfg).first().asDict()
    rc = cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                   "-right", str(d / "t.tsv")])
    assert rc == 0
    out = capsys.readouterr().out
    header, row = out.splitlines()[0].split("\t"), out.splitlines()[1].split("\t")
    assert dict(zip(header, (int(v) for v in row))) == want

    # single predicate emits qualifying pairs, written to parquet
    pq = str(d / "relate_pairs.parquet")
    rc = cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                   "-right", str(d / "t.tsv"),
                   "-relation", "intersects", "-out", pq])
    assert rc == 0
    got = {(r.s_id, r.t_id) for r in spark.read.parquet(pq).collect()}
    import dataclasses
    pairs_cfg = dataclasses.replace(cfg, relation="INTERSECTS")
    exp = {(r.s_id, r.t_id) for r in api.run(spark, pairs_cfg).collect()}
    assert got == exp and got

    # guards: missing -right, unknown relation
    assert cli_main(["-op", "relate", "-left", str(d / "s.tsv")]) == 2
    assert cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                     "-right", str(d / "t.tsv"),
                     "-relation", "nope"]) == 2


def test_cli_op_relate_progressive(spark, tmp_path, capsys, cli_main):
    """-op relate -algorithm/-budget/-main-wf: the YAML-free path pins
    equal to the -conf route for a static and a stateful progressive
    algorithm, and unknown values are guided errors."""

    d = tmp_path
    _write_tsv(d / "s.tsv", SOURCE)
    _write_tsv(d / "t.tsv", TARGET)

    for alg, wf in (("PROGRESSIVE_GIANT", "JS"),
                    ("EARLY_STOPPING", "MBRO")):
        cfg = parse_config({
            "source": {"path": str(d / "s.tsv"), "realIdField": "id",
                       "geometryField": "wkt"},
            "target": {"path": str(d / "t.tsv"), "realIdField": "id",
                       "geometryField": "wkt"},
            "relation": "DE9IM",
            "configurations": {"progressiveAlgorithm": alg, "budget": 7,
                               "mainWF": wf},
        })
        want = api.run(spark, cfg).first().asDict()
        rc = cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                       "-right", str(d / "t.tsv"),
                       "-algorithm", alg.lower(), "-budget", "7",
                       "-main-wf", wf.lower()])
        assert rc == 0
        out = capsys.readouterr().out
        hdr, row = (out.splitlines()[0].split("\t"),
                    out.splitlines()[1].split("\t"))
        got = dict(zip(hdr, (int(v) for v in row)))
        assert got == want, (alg, got, want)
        assert got["verifications"] <= (7 if alg != "EARLY_STOPPING"
                                        else got["verifications"])

    # guards: unknown algorithm / weighting function
    assert cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                     "-right", str(d / "t.tsv"),
                     "-algorithm", "nope"]) == 2
    assert cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                     "-right", str(d / "t.tsv"),
                     "-main-wf", "nope"]) == 2


def test_cli_op_relate_grid_and_entity(spark, tmp_path, capsys, cli_main):
    """-grid-type/-partitions/-entity-type on the YAML-free path pin
    equal to the -conf route (KDBTREE partitioned join + decomposed
    fine-envelope pre-filter), and unknown values are guided errors."""

    d = tmp_path
    _write_tsv(d / "s.tsv", SOURCE)
    _write_tsv(d / "t.tsv", TARGET)
    cfg = parse_config({
        "source": {"path": str(d / "s.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "target": {"path": str(d / "t.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "relation": "DE9IM",
        "configurations": {"gridType": "KDBTREE", "partitions": 16,
                           "entityType": "DECOMPOSED_ENTITY"},
    })
    want = api.run(spark, cfg).first().asDict()
    rc = cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                   "-right", str(d / "t.tsv"),
                   "-grid-type", "kdbtree", "-partitions", "16",
                   "-entity-type", "decomposed_entity"])
    assert rc == 0
    out = capsys.readouterr().out
    hdr, row = out.splitlines()[0].split("\t"), out.splitlines()[1].split("\t")
    assert dict(zip(hdr, (int(v) for v in row))) == want

    assert cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                     "-right", str(d / "t.tsv"),
                     "-grid-type", "nope"]) == 2
    assert cli_main(["-op", "relate", "-left", str(d / "s.tsv"),
                     "-right", str(d / "t.tsv"),
                     "-entity-type", "nope"]) == 2


def _write_geoparquet(path, rows):
    """Write (id, wkt) rows as a GeoParquet file: WKB binary `geometry`
    column + `geo` footer metadata naming it (scripts/make_wkb_fixture.py
    convention)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ds_jedai_spark.model.geometry import format_wkb, parse_wkt

    table = pa.table({
        "id": pa.array([str(i) for i, _ in rows], pa.string()),
        "geometry": pa.array(
            [format_wkb(*parse_wkt(w)) for _, w in rows], pa.binary()
        ),
    }).replace_schema_metadata({
        b"geo": json.dumps({"version": "1.0.0",
                            "primary_column": "geometry",
                            "columns": {"geometry": {"encoding": "WKB"}}}
                           ).encode()
    })
    pq.write_table(table, str(path))


def test_cli_op_convert(spark, tmp_path, capsys, cli_main):
    """-op convert: WKT TSV -> geoparquet -> rowparquet -> geojson, the
    row format identical at every hop; guards for missing -out and an
    unknown -to."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.io.readers import read_geojson, read_wkt_delimited

    d = tmp_path
    _write_tsv(d / "s.tsv", SOURCE)
    key = ["id", "gtype", "coords", "minx", "miny", "maxx", "maxy"]
    want = sorted(
        tuple(r) for r in read_wkt_delimited(
            spark, str(d / "s.tsv"), id_field="id", geom_field="wkt"
        ).select(key).collect()
    )

    geo = str(d / "s_geo.parquet")
    assert cli_main(["-op", "convert", "-left", str(d / "s.tsv"),
                     "-to", "geoparquet", "-out", geo]) == 0
    assert "5 entities" in capsys.readouterr().out
    rowp = str(d / "s_row.parquet")
    assert cli_main(["-op", "convert", "-left", geo,
                     "-to", "rowparquet", "-out", rowp]) == 0
    got = spark.read.parquet(rowp).select(key).collect()
    assert sorted(tuple(r) for r in got) == want
    gj = str(d / "s.geojson_dir")
    assert cli_main(["-op", "convert", "-left", rowp,
                     "-to", "geojson", "-out", gj]) == 0
    back = read_geojson(spark, gj).withColumn("id", F.col("id"))
    assert sorted(tuple(r) for r in back.select(key).collect()) == want

    assert cli_main(["-op", "convert", "-left", str(d / "s.tsv")]) == 2
    assert cli_main(["-op", "convert", "-left", str(d / "s.tsv"),
                     "-to", "nope", "-out", str(d / "x")]) == 2


def test_cli_op_knn_distance(spark, tmp_path, cli_main):
    """-op knn / -op distance on user point TSVs: results equal a
    pure-Python brute force; non-point input and a missing -tau are
    guided errors."""
    import math


    d = tmp_path
    rng_pts = [(i, (i * 7) % 13 / 2.0, (i * 5) % 11 / 2.0) for i in range(12)]
    tgt_pts = [(100 + i, (i * 3) % 9 / 2.0, (i * 7) % 10 / 2.0)
               for i in range(9)]

    def write_pts(path, rows):
        with open(path, "w") as f:
            f.write("id\twkt\n")
            for i, x, y in rows:
                f.write(f"{i}\tPOINT ({x} {y})\n")

    write_pts(d / "a.tsv", rng_pts)
    write_pts(d / "b.tsv", tgt_pts)

    # distance join vs brute force
    out = str(d / "dist.parquet")
    assert cli_main(["-op", "distance", "-left", str(d / "a.tsv"),
                     "-right", str(d / "b.tsv"), "-tau", "2.0",
                     "-out", out]) == 0
    got = {(int(r.s_id), int(r.t_id))
           for r in spark.read.parquet(out).collect()}
    want = {(i, j) for i, x1, y1 in rng_pts for j, x2, y2 in tgt_pts
            if (x1 - x2) ** 2 + (y1 - y2) ** 2 <= 4.0}
    assert got == want and got

    # exact kNN vs brute force (distance ties broken by engine rank —
    # compare the per-source kth-distance multiset instead of ids)
    out2 = str(d / "knn.parquet")
    assert cli_main(["-op", "knn", "-left", str(d / "a.tsv"),
                     "-right", str(d / "b.tsv"), "-k", "3",
                     "-out", out2]) == 0
    rows = spark.read.parquet(out2).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(int(r.s_id), []).append(int(r.t_id))
    xy = {j: (x, y) for j, x, y in tgt_pts}
    for i, x1, y1 in rng_pts:
        assert len(by_src[i]) == 3, (i, by_src.get(i))
        # every reported neighbor lies within the true kth distance
        # (distance ties may break either way; the distance multiset
        # is what exactness pins)
        kth = sorted(
            math.hypot(x1 - x2, y1 - y2) for _, x2, y2 in tgt_pts
        )[2]
        for j in by_src[i]:
            x2, y2 = xy[j]
            assert math.hypot(x1 - x2, y1 - y2) <= kth + 1e-9, (i, j)

    # guards
    assert cli_main(["-op", "distance", "-left", str(d / "a.tsv"),
                     "-right", str(d / "b.tsv")]) == 2
    with open(d / "poly.tsv", "w") as f:
        f.write("id\twkt\n1\tPOLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))\n")
    with pytest.raises(SystemExit, match="non-point"):
        cli_main(["-op", "knn", "-left", str(d / "poly.tsv"),
                  "-right", str(d / "b.tsv"), "-k", "2"])


def test_cli_op_relate_geoparquet(spark, tmp_path, capsys, cli_main):
    """-op relate on GeoParquet/WKB inputs with ZERO extra flags (the
    geometry column auto-detected from the geo footer metadata) lands on
    the identical DE9IM counts row as the same entities through the WKT
    TSV path."""

    d = tmp_path
    _write_tsv(d / "s.tsv", SOURCE)
    _write_tsv(d / "t.tsv", TARGET)
    _write_geoparquet(d / "s_geo.parquet", SOURCE)
    _write_geoparquet(d / "t_geo.parquet", TARGET)

    cfg = parse_config({
        "source": {"path": str(d / "s.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "target": {"path": str(d / "t.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "relation": "DE9IM",
    })
    want = api.run(spark, cfg).first().asDict()
    rc = cli_main(["-op", "relate", "-left", str(d / "s_geo.parquet"),
                   "-right", str(d / "t_geo.parquet")])
    assert rc == 0
    out = capsys.readouterr().out
    hdr, row = out.splitlines()[0].split("\t"), out.splitlines()[1].split("\t")
    assert dict(zip(hdr, (int(v) for v in row))) == want

    # single predicate: WKB pairs == WKT pairs
    import dataclasses
    pairs_cfg = dataclasses.replace(cfg, relation="CONTAINS")
    exp = {(int(r.s_id), int(r.t_id))
           for r in api.run(spark, pairs_cfg).collect()}
    pq_out = str(d / "geo_pairs.parquet")
    rc = cli_main(["-op", "relate", "-left", str(d / "s_geo.parquet"),
                   "-right", str(d / "t_geo.parquet"),
                   "-relation", "contains", "-out", pq_out])
    assert rc == 0
    got = {(int(r.s_id), int(r.t_id))
           for r in spark.read.parquet(pq_out).collect()}
    assert got == exp and got


def test_load_balancer_auto_plan_shapes(spark, tmp_path, conf_path):
    """Plan-level dispatch pins: on the cheap (box) corpus the AUTO
    route's physical plan is union-free — the dispatcher must not
    introduce the skew-split materialization; on a high-vertex comb
    corpus AUTO engages and the two-path union appears, with results
    equal to the forced-OFF run."""
    import dataclasses

    cfg = load_config(conf_path)
    auto = dataclasses.replace(cfg, extra={"loadBalancer": "AUTO"})
    out = api.run(spark, auto)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan, "cheap route grew a skew-split union"

    # 19-vertex combs: mean vertex product ~361 > 64 -> AUTO engages.
    def comb(ox, oy):
        teeth = [f"{ox + i} {oy + (2 if i % 2 else 0)}" for i in range(8)]
        ring = ", ".join(
            [f"{ox} {oy}"] + teeth
            + [f"{ox + 7} {oy - 1}", f"{ox} {oy - 1}", f"{ox} {oy}"]
        )
        return f"POLYGON (({ring}))"

    rows = [(i, comb(i * 2, 0)) for i in range(12)]
    _write_tsv(tmp_path / "combs_s.tsv", rows)
    _write_tsv(tmp_path / "combs_t.tsv", [(100 + i, comb(i * 2 + 1, 1))
                                          for i in range(12)])
    doc = {
        "source": {"path": str(tmp_path / "combs_s.tsv"),
                   "realIdField": "id", "geometryField": "wkt"},
        "target": {"path": str(tmp_path / "combs_t.tsv"),
                   "realIdField": "id", "geometryField": "wkt"},
        "relation": "DE9IM",
    }
    base = parse_config(doc)
    from ds_jedai_spark.operators import loadbalance as lb

    src = api.read_dataset(spark, base.source)
    tgt = api.read_dataset(spark, base.target)
    assert lb.estimate_pair_cost(src, tgt) > lb.VERTEX_COST_THRESHOLD
    eng = api.run(
        spark, dataclasses.replace(base, extra={"loadBalancer": "AUTO"})
    )
    plan = eng._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan, "AUTO did not engage on the comb corpus"
    off = api.run(
        spark, dataclasses.replace(base, extra={"loadBalancer": "OFF"})
    )
    assert eng.first().asDict() == off.first().asDict()


def test_cli_op_relate_parquet_and_dates(spark, tmp_path, capsys, cli_main):
    """-op relate on engine row-format parquet inputs, and -date-col
    enabling the spatio-temporal qualifier (equal to the -conf
    dateField path)."""

    d = tmp_path
    _write_tsv(d / "s.tsv", SOURCE)
    _write_tsv(d / "t.tsv", TARGET)
    # engine row-format parquet round-trip: same counts as the TSVs
    cfg = parse_config({
        "source": {"path": str(d / "s.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "target": {"path": str(d / "t.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "relation": "DE9IM",
    })
    api.read_dataset(spark, cfg.source).write.parquet(str(d / "s.parquet"))
    api.read_dataset(spark, cfg.target).write.parquet(str(d / "t.parquet"))
    want = api.run(spark, cfg).first().asDict()
    rc = cli_main(["-op", "relate", "-left", str(d / "s.parquet"),
                   "-right", str(d / "t.parquet")])
    assert rc == 0
    out = capsys.readouterr().out
    hdr, row = out.splitlines()[0].split("\t"), out.splitlines()[1].split("\t")
    assert dict(zip(hdr, (int(v) for v in row))) == want

    # -date-col: |days between| < 2 qualifier, equal to the -conf path
    def with_dates(rows, base_day):
        return [(i, w, f"2020-01-{base_day + (i % 3):02d} 00:00:00")
                for i, w in rows]

    def write_dated(path, rows):
        with open(path, "w") as f:
            f.write("id\twkt\td\n")
            for i, w, ts in rows:
                f.write(f"{i}\t{w}\t{ts}\n")

    write_dated(d / "sd.tsv", with_dates(SOURCE, 10))
    write_dated(d / "td.tsv", with_dates(TARGET, 12))
    doc = {
        "source": {"path": str(d / "sd.tsv"), "realIdField": "id",
                   "geometryField": "wkt", "dateField": "d"},
        "target": {"path": str(d / "td.tsv"), "realIdField": "id",
                   "geometryField": "wkt", "dateField": "d"},
        "relation": "INTERSECTS",
    }
    exp = {(r.s_id, r.t_id)
           for r in api.run(spark, parse_config(doc)).collect()}
    pq = str(d / "st_pairs.parquet")
    rc = cli_main(["-op", "relate", "-left", str(d / "sd.tsv"),
                   "-right", str(d / "td.tsv"), "-relation", "intersects",
                   "-date-col", "d", "-out", pq])
    assert rc == 0
    got = {(r.s_id, r.t_id) for r in spark.read.parquet(pq).collect()}
    # the date windows overlap partially, so the qualifier must both
    # keep some pairs and drop some
    import dataclasses
    allp = {(r.s_id, r.t_id)
            for r in api.run(
                spark, dataclasses.replace(cfg, relation="INTERSECTS")
            ).collect()}
    assert got == exp and got and got < allp


def test_cli_op_relate_plain_wkt_parquet(spark, tmp_path, capsys, cli_main):
    """-op relate on PLAIN user parquet (id + WKT string column, not the
    engine row format) parses via the geom_field fallback and matches
    the TSV path; a typed timestamp date column feeds the temporal
    qualifier without a string round-trip."""
    import datetime


    d = tmp_path
    _write_tsv(d / "s.tsv", SOURCE)
    _write_tsv(d / "t.tsv", TARGET)
    cfg = parse_config({
        "source": {"path": str(d / "s.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "target": {"path": str(d / "t.tsv"), "realIdField": "id",
                   "geometryField": "wkt"},
        "relation": "DE9IM",
    })
    want = api.run(spark, cfg).first().asDict()

    def write_plain(path, rows, ts=False):
        df = spark.createDataFrame(
            [(i, w, datetime.datetime(2020, 1, 1 + (i % 3)))
             for i, w in rows],
            "id long, wkt string, dt timestamp",
        )
        if not ts:
            df = df.drop("dt")
        df.write.parquet(str(path))

    write_plain(d / "sp.parquet", SOURCE)
    write_plain(d / "tp.parquet", TARGET)
    rc = cli_main(["-op", "relate", "-left", str(d / "sp.parquet"),
                   "-right", str(d / "tp.parquet")])
    assert rc == 0
    out = capsys.readouterr().out
    hdr, row = out.splitlines()[0].split("\t"), out.splitlines()[1].split("\t")
    assert dict(zip(hdr, (int(v) for v in row))) == want

    # typed timestamp -date-col engages the |days|<2 qualifier
    write_plain(d / "sd.parquet", SOURCE, ts=True)
    write_plain(d / "td.parquet", TARGET, ts=True)
    pq = str(d / "pairs.parquet")
    rc = cli_main(["-op", "relate", "-left", str(d / "sd.parquet"),
                   "-right", str(d / "td.parquet"),
                   "-relation", "intersects", "-date-col", "dt",
                   "-out", pq])
    assert rc == 0
    got = {(int(r.s_id), int(r.t_id))
           for r in spark.read.parquet(pq).collect()}
    allp = {(int(r.s_id), int(r.t_id)) for r in api.run(
        spark,
        parse_config({
            "source": {"path": str(d / "s.tsv"), "realIdField": "id",
                       "geometryField": "wkt"},
            "target": {"path": str(d / "t.tsv"), "realIdField": "id",
                       "geometryField": "wkt"},
            "relation": "INTERSECTS",
        }),
    ).collect()}
    # every dated pair is a spatial pair; same-cycle dates (both sides
    # use day = 1 + i%3) keep at least the id-aligned matches
    assert got and got <= allp
