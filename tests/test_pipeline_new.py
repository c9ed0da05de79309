"""Unit laws for decontamination and int8 quantization."""

import math

from pyspark.sql import functions as F

from ds_jedai_spark.operators import similarity, textops

SF = "/root/testdata/sf0.001"


def test_contamination_known_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "a b c d"),        # grams: a_b_c, b_c_d -> both hit
            (2, "x y z w"),        # grams: x_y_z, y_z_w -> no hit
            (3, "a b c q r"),      # grams: a_b_c (hit), b_c_q, c_q_r -> 1/3
            (4, "t u"),            # too short: no grams, absent from output
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "p a b c d e")], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.contaminated)
        for r in textops.contamination(train, bench).collect()
    }
    assert got == {1: (2, 2, True), 2: (2, 0, False), 3: (3, 1, True)}


def test_contamination_self_is_total(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i")], "doc_id bigint, text string"
    )
    out = textops.contamination(docs, docs).collect()
    assert all(r.n_hit == r.n_grams and r.contaminated for r in out)


def test_int8_quantize_matches_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(64)
    got = {
        r.vec_id: (r.maxabs, r.sse)
        for r in similarity.int8_quantize_stats(emb).collect()
    }
    for row in emb.collect():
        qv = [math.floor(float(x) * similarity.QUANT) for x in row.embedding]
        m = max((abs(v) for v in qv), default=0)
        if m == 0:
            want = (0, 0)
        else:
            q8 = [math.floor((254 * x + m) / (2 * m)) for x in qv]
            assert all(-127 <= c <= 127 for c in q8)
            want = (m, sum((127 * x - c * m) ** 2 for x, c in zip(qv, q8)))
        assert got[row.vec_id] == want


def test_int8_quantize_zero_vector(spark):
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0], 0)], "vec_id bigint, embedding array<float>, label int"
    )
    r = similarity.int8_quantize_stats(emb).collect()[0]
    assert (r.maxabs, r.sse) == (0, 0)


def test_contamination_plan_has_no_cartesian(spark):
    from ds_jedai_spark.io.synthetic import register_views

    register_views(spark, SF)
    d = spark.table("documents")
    plan = textops.contamination(
        d.where(F.col("source") != "src0"), d.where(F.col("source") == "src0")
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_pii_scrub_detects_and_redacts(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact bob@mail.com or 10.0.0.1 now"),
            (2, "nothing sensitive here"),
            (3, "two mails a@b.com c@d.org one ip 192.168.1.200"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in textops.pii_scrub(docs).collect()}
    assert (got[1].n_email, got[1].n_ip) == (1, 1)
    assert (got[2].n_email, got[2].n_ip) == (0, 0)
    assert (got[3].n_email, got[3].n_ip) == (2, 1)
    # Redacted lengths: original minus matched spans plus tag lengths.
    assert got[2].len_clean == len("nothing sensitive here")
    assert got[1].len_clean == len("contact <EMAIL> or <IP> now")


def test_containment_catches_doc_inside_doc_that_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: overlap
    coefficient ~1 (containment pair) while Jaccard is far below the 0.8
    threshold (no jaccard pair)."""
    from ds_jedai_spark.operators import dedup

    inner = " ".join(f"w{i}" for i in range(12))
    outer = inner + " " + " ".join(f"x{i}" for i in range(60))
    other = " ".join(f"y{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, inner), (2, outer), (3, other)], "doc_id long, text string"
    )
    cont = {(r.d1, r.d2) for r in dedup.containment_pairs(docs, 0.9).collect()}
    jac = {(r.d1, r.d2) for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()}
    assert (1, 2) in cont
    assert (1, 2) not in jac
    assert all(p[0] != 3 and p[1] != 3 for p in cont)


def test_pq_adc_recall_against_exact_topk(spark):
    """PQ ADC ordering sanity on the compression/quality tradeoff
    (exactness vs the oracle is covered by the gate). The synthetic
    embeddings are RANDOM vectors — the worst case for product
    quantization, which earns its recall from cluster structure real
    embedding corpora have — so the bound here is deliberately loose:
    far above the ~0.08 a random top-5 would score, far below what PQ
    delivers on clustered data; widening the candidate list must also
    help (the rerank-after-PQ deployment pattern)."""
    from ds_jedai_spark.io.synthetic import register_views
    from ds_jedai_spark.operators import similarity

    register_views(spark, "/root/testdata/sf0.01")
    emb = spark.table("embeddings")
    exact = {
        (r.qid, r.vid)
        for r in similarity.brute_topk(emb, n_queries=10, k=5).collect()
    }
    approx = {
        (r.qid, r.vid)
        for r in similarity.pq_adc_topk(emb, n_queries=10, k=5).collect()
    }
    wide = {
        (r.qid, r.vid)
        for r in similarity.pq_adc_topk(emb, n_queries=10, k=20).collect()
    }
    recall = len(exact & approx) / len(exact)
    recall_wide = len(exact & wide) / len(exact)
    assert recall >= 0.15, recall
    assert recall_wide >= recall and recall_wide >= 0.4, (recall, recall_wide)


def test_pq_rerank_improves_on_raw_adc(spark):
    """Rerank-after-PQ must recover exactly the exact-cosine best among
    its shortlist — recall at k strictly dominates the raw ADC ordering
    on the same shortlist."""
    from ds_jedai_spark.io.synthetic import register_views
    from ds_jedai_spark.operators import similarity

    register_views(spark, "/root/testdata/sf0.01")
    emb = spark.table("embeddings")
    exact = {
        (r.qid, r.vid)
        for r in similarity.brute_topk(emb, n_queries=10, k=5).collect()
    }
    adc = {
        (r.qid, r.vid)
        for r in similarity.pq_adc_topk(emb, n_queries=10, k=5).collect()
    }
    rer = {
        (r.qid, r.vid)
        for r in similarity.pq_rerank_topk(emb, n_queries=10, k=5).collect()
    }
    r_adc = len(exact & adc) / len(exact)
    r_rer = len(exact & rer) / len(exact)
    assert r_rer >= r_adc
    assert r_rer >= 0.4, (r_adc, r_rer)


def test_ann_pin_trains_once_and_truncates_lineage(spark):
    """One training per run: the second query's artifact lookup is a
    cache hit, and every pinned frame's plan is a checkpoint scan
    (LogicalRDD) — reusing it CANNOT replay the Lloyd training lineage."""
    from ds_jedai_spark import pins
    from ds_jedai_spark.plans import pipeline_plans as pl

    pins.clear()
    a1 = pl._pinned_ann(spark, SF)
    a2 = pl._pinned_ann(spark, SF)
    assert a1 is a2
    for frame in [*a1["books"], a1["cent"], a1["codes"], a1["cells"]]:
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan, plan.splitlines()[0]


def test_pq_adc_pinned_books_match_retrained(spark):
    """Search over the pinned codebooks is bit-identical to search that
    trains inline (the pin changes WHEN training runs, not the math)."""
    from ds_jedai_spark.operators import similarity
    from ds_jedai_spark.plans.pipeline_plans import _emb

    emb = _emb(spark, SF)
    books = similarity.pin_codebooks(emb)
    got = sorted(
        similarity.pq_adc_topk(emb, books=books).collect(),
        key=lambda r: (r.qid, r.vid),
    )
    want = sorted(
        similarity.pq_adc_topk(emb).collect(), key=lambda r: (r.qid, r.vid)
    )
    assert [(r.qid, r.vid) for r in got] == [(r.qid, r.vid) for r in want]
    assert all(abs(a.cos - b.cos) < 1e-12 for a, b in zip(got, want))


def test_ann_pin_table_mode_matches_local(spark):
    """A table pin (the multi-job artifact form) must produce the same
    trained centroids/codebooks as the localCheckpoint form, and search
    over either must agree."""
    from ds_jedai_spark.operators import similarity
    from ds_jedai_spark.plans.pipeline_plans import _emb

    emb = _emb(spark, SF)
    try:
        cent_t = similarity.pin_centroids(
            emb, table="cent_pin_test"
        )
        cent_l = similarity.pin_centroids(emb)
        as_set = lambda df: {
            (r.cid, tuple(r.cv)) for r in df.collect()
        }
        assert as_set(cent_t) == as_set(cent_l)

        books_t = similarity.pin_codebooks(
            emb, table="books_pin_test"
        )
        got = sorted(
            similarity.pq_adc_topk(emb, books=books_t).collect(),
            key=lambda r: (r.qid, r.vid),
        )
        want = sorted(
            similarity.pq_adc_topk(emb).collect(),
            key=lambda r: (r.qid, r.vid),
        )
        assert [(r.qid, r.vid) for r in got] == [
            (r.qid, r.vid) for r in want
        ]
        ivf_t = sorted(
            similarity.ivf_trained_topk(emb, cent=cent_t).collect(),
            key=lambda r: (r.qid, r.vid),
        )
        ivf_plain = sorted(
            similarity.ivf_trained_topk(emb).collect(),
            key=lambda r: (r.qid, r.vid),
        )
        assert [(r.qid, r.vid) for r in ivf_t] == [
            (r.qid, r.vid) for r in ivf_plain
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS cent_pin_test")
        spark.sql("DROP TABLE IF EXISTS books_pin_test")


def test_chunk_documents_invariants(spark):
    """Sliding-window chunking: chunks tile the doc with the configured
    stride, consecutive chunks overlap by `overlap` tokens, the union of
    chunks covers every token, only the last chunk may be short, and an
    empty doc yields exactly one empty chunk."""
    from ds_jedai_spark.operators.textops import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(57))),
            (2, " ".join(f"w{i}" for i in range(32))),   # exactly one chunk
            (3, " ".join(f"w{i}" for i in range(5))),    # shorter than chunk
            (4, ""),                                     # empty doc
        ],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in by_doc.values():
        d.sort(key=lambda r: r.chunk_id)
    # doc 1 (57 tokens): stride 24 -> chunks [0,32) [24,56) [48,57)
    got = [(r.start_tok, r.end_tok, r.is_last) for r in by_doc[1]]
    assert got == [(0, 32, 0), (24, 56, 0), (48, 57, 1)]
    # full coverage of every token position
    covered = set()
    for r in by_doc[1]:
        covered.update(range(r.start_tok, r.end_tok))
    assert covered == set(range(57))
    assert [(r.start_tok, r.end_tok) for r in by_doc[2]] == [(0, 32)]
    assert [(r.start_tok, r.end_tok) for r in by_doc[3]] == [(0, 5)]
    assert [(r.start_tok, r.end_tok, r.n_tok, r.is_last)
            for r in by_doc[4]] == [(0, 0, 0, 1)]


def test_chunk_documents_rejects_bad_overlap(spark):
    from ds_jedai_spark.operators.textops import chunk_documents

    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_minhash_lsh_cross_equals_filtered_self_join(spark):
    """Cross-corpus LSH on an even/odd split must return exactly the
    self-join LSH pairs whose two docs fall on opposite sides (with d1
    from side a, d2 from side b), and never an a x a or b x b pair."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, base + (f" tail{i // 4}" if i % 4 else "")) for i in range(40)],
        "doc_id long, text string",
    )
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    cross = {
        (r.d1, r.d2): round(r.jaccard, 12)
        for r in dedup.minhash_lsh_pairs_cross(a, b, tau=0.5).collect()
    }
    assert all(d1 % 2 == 0 and d2 % 2 == 1 for d1, d2 in cross)
    full = dedup.minhash_lsh_pairs(docs, tau=0.5).collect()
    want = {}
    for r in full:
        if r.d1 % 2 != r.d2 % 2:
            even, odd = (r.d1, r.d2) if r.d1 % 2 == 0 else (r.d2, r.d1)
            want[(even, odd)] = round(r.jaccard, 12)
    assert len(cross) > 0 and cross == want


def test_minhash_estimate_pairs_properties(spark):
    """Signature-estimate triage: exact duplicates score est = 1.0, all
    estimates are multiples of 1/32 in (0, 1], and the estimate path
    returns a superset-quality signal without touching shingle sets
    (for identical docs it must agree with the exact path)."""
    from ds_jedai_spark.operators import dedup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, text + " different tail words here"),
         (4, "totally unrelated content words with no shared grams at all")],
        "doc_id long, text string",
    )
    rows = dedup.minhash_estimate_pairs(docs, tau=0.5).collect()
    got = {(r.d1, r.d2): r.est for r in rows}
    assert got[(1, 2)] == 1.0
    for est in got.values():
        assert 0.0 < est <= 1.0 and abs(est * 32 - round(est * 32)) < 1e-12
    assert all((4 not in p) for p in got)


def test_corpus_shuffle_partition_properties(spark):
    """Deterministic shuffle: shards exhaust the corpus, checksums are
    stable across invocations (pure function of doc ids), and the
    checksum is order-sensitive (a different order key changes it)."""
    from pyspark.sql import functions as F

    from ds_jedai_spark.operators.textops import (
        SHUFFLE_SHARDS,
        corpus_shuffle,
    )
    from ds_jedai_spark.plans.pipeline_plans import _docs

    docs = _docs(spark, "/root/testdata/sf0.001")
    a = {r["shard"]: (r["n_docs"], r["checksum"])
         for r in corpus_shuffle(docs).collect()}
    b = {r["shard"]: (r["n_docs"], r["checksum"])
         for r in corpus_shuffle(docs).collect()}
    assert a == b and len(a) == SHUFFLE_SHARDS
    assert sum(n for n, _ in a.values()) == docs.count()
    # order-sensitivity: reversing the permutation (order by h DESC via
    # negated ids trick is not equivalent, so re-rank directly)
    h = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) "
        "AS BIGINT)"
    )
    from pyspark.sql import Window

    d = docs.select("doc_id", h.alias("h")).withColumn(
        "shard", F.col("h") % SHUFFLE_SHARDS
    )
    w = Window.partitionBy("shard").orderBy(F.desc("h"), "doc_id")
    rev = (
        d.select(
            "shard",
            ((F.row_number().over(w).cast("long") * (F.col("doc_id") + 1))
             % 1_000_003).alias("term"),
        )
        .groupBy("shard")
        .agg((F.sum("term") % 1_000_003).alias("checksum"))
    )
    rv = {r["shard"]: r["checksum"] for r in rev.collect()}
    assert any(rv[s] != a[s][1] for s in rv), (
        "reversed order produced identical checksums - not order-sensitive"
    )


def test_minhash_progressive_budget_semantics(spark):
    """Budgeted dedup: at most `budget` verifications, schedule ==
    top-budget by (est DESC, d1, d2), and growing the budget only adds
    pairs (monotone schedule prefix)."""
    from ds_jedai_spark.operators import dedup
    from ds_jedai_spark.plans.pipeline_plans import _corpus

    corpus = _corpus(spark, "/root/testdata/sf0.001")
    sh = dedup.pin_shingles(corpus)
    small = dedup.minhash_progressive_pairs(corpus, budget=10, sh=sh)
    rows_small = small.collect()
    assert 0 < len(rows_small) <= 10
    big = dedup.minhash_progressive_pairs(corpus, budget=40, sh=sh)
    rows_big = big.collect()
    assert len(rows_small) <= len(rows_big) <= 40
    key = lambda r: (r["d1"], r["d2"])
    assert {key(r) for r in rows_small} <= {key(r) for r in rows_big}
    # every verified pair's exact jaccard is consistent with the full
    # estimate-free path where both report it
    exact = {
        (r["d1"], r["d2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(corpus, 0.0, sh=sh).collect()
    }
    for r in rows_big:
        assert abs(exact[key(r)] - r["jaccard"]) < 1e-12
        assert 0.0 <= r["est"] <= 1.0


def test_duplicate_clusters_long_chain(spark):
    """A 300-link chain (diameter far beyond any per-hop propagation
    budget) must converge via the star-contraction backbone, labeling
    every node with the chain minimum; and non-convergence must raise
    rather than silently return wrong labels."""
    import pytest as _pytest
    from pyspark.sql import Row

    from ds_jedai_spark.operators.dedup import duplicate_clusters

    n = 300
    pairs = spark.createDataFrame(
        [Row(d1=i, d2=i + 1) for i in range(n)]
    )
    labels = duplicate_clusters(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert len(got) == n + 1 and set(got.values()) == {0}

    with _pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(pairs, max_iter=2)


def test_dedup_apply_materializes_survivor_corpus(spark):
    """dedup_apply keeps exactly one representative (the cluster-min
    doc) per duplicate cluster plus all unclustered docs, passes the
    corpus columns through, and tags singletons with cluster_id = -1."""
    from pyspark.sql import Row

    from ds_jedai_spark.operators.dedup import dedup_apply, duplicate_clusters

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"t{i}") for i in range(10)]
    )
    # two clusters {1,2,3} and {7,9}; 0,4,5,6,8 are singletons
    pairs = spark.createDataFrame(
        [Row(d1=1, d2=2), Row(d1=2, d2=3), Row(d1=7, d2=9)]
    )
    out = dedup_apply(docs, duplicate_clusters(pairs)).collect()
    got = {r["doc_id"]: (r["cluster_id"], r["text"]) for r in out}
    assert set(got) == {0, 1, 4, 5, 6, 7, 8}
    assert got[1] == (1, "t1") and got[7] == (7, "t7")
    for s in (0, 4, 5, 6, 8):
        assert got[s] == (-1, f"t{s}")


def _span_docs(spark, rows):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows]
    )


def test_duplicated_spans_keep_first_and_merge(spark):
    """Canonical (corpus-first) occurrence is never flagged; overlapping
    and adjacent redundant grams merge into one maximal span."""
    from ds_jedai_spark.operators.textops import duplicated_spans

    boiler = "q w e r t y u i"  # exactly k=8 words
    docs = _span_docs(
        spark,
        [
            (1, f"alpha {boiler} beta"),          # canonical at pos 2
            (2, f"g1 g2 {boiler} g3"),            # redundant at pos 3
            (3, f"{boiler} {boiler}"),            # two adjacent copies
            (4, "short doc"),                     # < k words: no grams
            (5, "all words here are one of a kind nothing repeated"),
        ],
    )
    got = {
        (r.doc_id, r.span_start, r.span_end): r.n_grams
        for r in duplicated_spans(docs, k=8).collect()
    }
    # doc1 keeps its copy; doc2 loses words 3..10; doc3 loses 1..16 as
    # ONE merged span (grams at pos 1 and 9, junction grams unique)
    assert got == {(2, 3, 10): 1, (3, 1, 16): 2}


def test_duplicated_spans_intra_document_repeat(spark):
    """A run repeated only WITHIN one doc is still dedup'd (occurrence
    count, not distinct-doc count) — first copy kept."""
    from ds_jedai_spark.operators.textops import duplicated_spans

    run = "a b c d e f g h"
    docs = _span_docs(spark, [(7, f"{run} mid1 mid2 {run}")])
    got = [
        (r.span_start, r.span_end) for r in duplicated_spans(docs, 8).collect()
    ]
    assert got == [(11, 18)]


def test_scrub_duplicated_spans_rebuilds_text(spark):
    """Scrub drops exactly the redundant span words, normalizes
    whitespace, and leaves span-free docs byte-identical (md5 of the
    single-space-joined token stream)."""
    import hashlib

    from ds_jedai_spark.operators.textops import scrub_duplicated_spans

    boiler = "q w e r t y u i"
    docs = _span_docs(
        spark,
        [
            (1, f"alpha {boiler} beta"),
            (2, f"g1 g2 {boiler} g3"),
            (3, f"{boiler} {boiler}"),
        ],
    )
    got = {r.doc_id: r for r in scrub_duplicated_spans(docs, 8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (got[1].n_dropped, got[1].clean_md5) == (0, md5(f"alpha {boiler} beta"))
    assert (got[2].n_dropped, got[2].clean_md5) == (8, md5("g1 g2 g3"))
    assert (got[3].n_dropped, got[3].n_words, got[3].len_clean, got[3].clean_md5) == (
        16, 16, 0, md5(""))


def test_duplicated_spans_long_run_single_span(spark):
    """A duplicated run of length L >> k surfaces as ONE span of exactly
    L words in the copy (L-k+1 overlapping grams merged), never as
    L-k+1 spans — the tiling law of the islands merge."""
    from ds_jedai_spark.operators.textops import duplicated_spans

    for L in (9, 17, 40):
        run = " ".join(f"w{i}" for i in range(L))
        docs = _span_docs(spark, [(1, f"{run} tailone"), (2, f"lead {run}")])
        spans = duplicated_spans(docs, k=8).collect()
        assert len(spans) == 1
        (s,) = spans
        assert (s.doc_id, s.span_start, s.span_end, s.n_grams) == (
            2, 2, L + 1, L - 8 + 1)


def test_token_stats_empty_and_degenerate_docs(spark):
    """Empty text was an ANSI DIVIDE_BY_ZERO in words_per_100_chars
    (Spark 4 raises on double/0 too); empty docs now report 0. Zero-word
    docs drop out of the exploded-word aggregates by construction."""
    from ds_jedai_spark.operators import textops

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "a b a"), (3, "...")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textops.token_stats(docs).collect()}
    assert got[0].words_per_100_chars == 0.0 and got[0].n_words == 0
    assert got[1].n_words == 0 and got[1].words_per_100_chars == 0.0
    assert got[2].n_words == 3
    # word-exploded aggregates: empty docs absent, never a zero divisor
    q = textops.quality(docs)
    assert {r.doc_id for r in q.collect()} <= {1, 2, 3}
    r = textops.repetition(docs)
    assert all(row.n_words >= 1 for row in r.collect())
