"""Training-data pipeline query plans + DuckDB oracles.

Deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding
cosine), similarity search (brute-force + IVF), text analysis (token
stats, quality, lang-ID, fingerprint) and multimodal metadata — each as a
DataFrame plan over the driver's ``documents`` / ``embeddings`` tables
with a mirrored DuckDB oracle.

The oracle SQL re-states each operator's algebra in DuckDB dialect from
the same constants (hash families, thresholds, corpus derivation), so a
mismatch means an engine bug, not formula drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ds_jedai_spark import pins
from ds_jedai_spark.io.synthetic import load_sql, register_views
from ds_jedai_spark.operators import dedup, multimodal, similarity, textops

TAU_JACCARD = 0.8
MAX_HAMMING = 2
TAU_COS = 0.4
TAU_CONTAIN = 0.9


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_sql(spark, sf_dir, textops.CORPUS_SQL)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.table("documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.table("embeddings")


# One pinned (doc_id, shingle) table per (session, sf_dir): the three
# shingle-based dedup schemes and the cluster pass run back-to-back in
# the composite gate, and each would otherwise localCheckpoint an
# identical table.
def _pinned_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        from ds_jedai_spark.operators.ranking import shuffle_parts

        # Spread the compact doc rows before the shingle explode: the
        # corpus is a single parquet file here, so the explode and the
        # pinned checkpoint would otherwise hold 1-3 partitions and
        # single-thread every downstream signature/band scan. A quarter
        # of the shuffle parallelism wins the measured alternating A/B
        # at sf0.1 (2.1/2.6/2.7s warm for 8/32/plain partitions — full
        # fan-out pays more per-task overhead than this corpus size
        # amortizes) while still scaling with the session's configured
        # parallelism on bigger clusters.
        corpus = _corpus(spark, sf_dir)
        # wid-stamp the pin (dedup._with_wid): every minhash signature,
        # band table, and hashed-gram verification pass keys on the
        # md5-derived shingle id — hoisting it into the pinned table
        # computes the hash once per (doc, shingle) row instead of once
        # per consumer pass (r17 optimization round)
        return pins.pin(
            dedup._with_wid(
                textops.shingles(
                    corpus.repartition(max(8, shuffle_parts(corpus) // 4))
                )
            )
        )

    return pins.cached(spark, "shingles", sf_dir, build)


# One trained-artifact pin per (session, sf_dir): a real ANN index is
# trained once and queried many times, but each search plan would
# otherwise replay the full Lloyd lineage per plan branch — and the
# ann_topk gate composite runs the ADC and rerank parts back-to-back, so
# without the pin the same 4 codebooks train twice in one gate query.
def _pinned_ann(spark: SparkSession, sf_dir: str) -> dict:
    def build():
        emb = _emb(spark, sf_dir)
        # Three independent build chains — (codebooks -> codes),
        # (centroids -> cells), (bands) — submitted concurrently so the
        # tail tasks of one chain's jobs back-fill the cores the others
        # leave idle (r17 optimization round; the artifacts are
        # deterministic, so overlap changes nothing but the wall).
        from concurrent.futures import ThreadPoolExecutor

        def _pq_chain():
            books = similarity.pin_codebooks(emb)
            return books, similarity.pin_codes(emb, books)

        def _ivf_chain():
            cent = similarity.pin_centroids(emb)
            return cent, similarity.pin_cells(emb, cent)

        with ThreadPoolExecutor(max_workers=4) as pool:
            f_pq = pool.submit(_pq_chain)
            f_ivf = pool.submit(_ivf_chain)
            f_bands = pool.submit(similarity.pin_bands, emb)
            # gathered verify matrix: an index payload like codes/cells
            # (r18) — built once here, so searches skip the per-call
            # probe collect; None above the broadcast cap (join tier)
            f_gather = pool.submit(
                similarity.gather_quantized, similarity.quantized(emb)
            )
            books, codes = f_pq.result()
            cent, cells = f_ivf.result()
            bands = f_bands.result()
            qgather = f_gather.result()
        return {
            "books": books,
            "cent": cent,
            # the index PAYLOADS: corpus encoded/assigned once at build
            # time — searches read codes/cells instead of re-encoding
            "codes": codes,
            "cells": cells,
            # LSH band keys (vec_id, band, bucket): computed once at
            # build time — LSH searches and the incremental cross-dedup
            # read the standing band table, not the hyperplane dots
            "bands": bands,
            # broadcast of the quantized verify matrix (or None above
            # VERIFY_BROADCAST_CAP): searches pass it to
            # _cosine_verify_pairs instead of re-collecting per call
            "qgather": qgather,
        }

    return pins.cached(spark, "ann", sf_dir, build)


# ------------------------------------------------------------- queries

def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_corpus(spark, sf_dir))


def dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _corpus(spark, sf_dir), TAU_JACCARD, sh=_pinned_shingles(spark, sf_dir)
    )


def dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _corpus(spark, sf_dir),
        tau=TAU_JACCARD,
        sh=_pinned_shingles(spark, sf_dir),
    )


def dedup_minhash_lsh_cross(spark, sf_dir):
    """Incremental dedup: the even-doc_id half of the corpus as today's
    batch against the odd half as the standing index — only cross pairs
    are generated (dedup.minhash_lsh_pairs_cross). Both sides slice the
    one pinned shingle table."""
    sh = _pinned_shingles(spark, sf_dir)
    return dedup.minhash_lsh_pairs_cross(
        None,
        None,
        tau=TAU_JACCARD,
        sh_a=sh.where(F.col("doc_id") % 2 == 0),
        sh_b=sh.where(F.col("doc_id") % 2 == 1),
    )


def dedup_minhash_estimate(spark, sf_dir):
    return dedup.minhash_estimate_pairs(
        _corpus(spark, sf_dir),
        tau=TAU_JACCARD,
        sh=_pinned_shingles(spark, sf_dir),
    )


PROG_DEDUP_BUDGET = 50


def dedup_progressive(spark, sf_dir):
    return dedup.minhash_progressive_pairs(
        _corpus(spark, sf_dir),
        budget=PROG_DEDUP_BUDGET,
        sh=_pinned_shingles(spark, sf_dir),
    )


def dedup_progressive_oracle() -> str:
    return (
        f"WITH {_SHINGLE_CTE}, {_MINHASH_WID_CTE}, "
        f"hx AS (SELECT doc_id, i, min(((2*i+1)*wid + i*i + 7) % {P}) AS h "
        "FROM dw, (SELECT unnest(range(0, 32)) AS i) r GROUP BY doc_id, i), "
        "band AS (SELECT doc_id, i - (i % 4) AS band, sum(h * ((i % 4) + 1)) AS bkey "
        "FROM hx GROUP BY doc_id, band), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM band a JOIN band b USING (band, bkey) WHERE a.doc_id < b.doc_id), "
        "est AS (SELECT c.d1, c.d2, "
        "CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS DOUBLE) / 32.0 AS est "
        "FROM cand c JOIN hx a ON a.doc_id = c.d1 "
        "JOIN hx b ON b.doc_id = c.d2 AND b.i = a.i GROUP BY 1, 2), "
        "sched AS (SELECT d1, d2, est FROM (SELECT *, row_number() OVER ("
        f"ORDER BY est DESC, d1, d2) AS rn FROM est) WHERE rn <= {PROG_DEDUP_BUDGET}) "
        "SELECT s.d1, s.d2, s.est, j.jaccard FROM sched s JOIN jac j USING (d1, d2)"
    )


def dedup_simhash(spark, sf_dir):
    return dedup.simhash_pairs(
        _corpus(spark, sf_dir), MAX_HAMMING, sh=_pinned_shingles(spark, sf_dir)
    )


def dedup_containment(spark, sf_dir):
    return dedup.containment_pairs(
        _corpus(spark, sf_dir),
        TAU_CONTAIN,
        sh=_pinned_shingles(spark, sf_dir),
    )


def dedup_clusters(spark, sf_dir):
    """Connected components over the exact n-gram-Jaccard duplicate graph
    — the cluster-assignment stage a production dedup pipeline runs after
    pair discovery (keep one doc per cluster_id)."""
    return dedup.duplicate_clusters(
        dedup.ngram_jaccard_pairs(
            _corpus(spark, sf_dir),
            TAU_JACCARD,
            sh=_pinned_shingles(spark, sf_dir),
        )
    )


def dedup_survivors(spark, sf_dir):
    """The deduplicated corpus itself: cluster the exact n-gram-Jaccard
    duplicate graph, then keep one representative per cluster plus all
    unclustered docs (cluster_id = -1). The user-facing OUTPUT of the
    dedup pipeline, not just its pair/cluster diagnostics."""
    docs = _corpus(spark, sf_dir)
    clusters = dedup.duplicate_clusters(
        dedup.ngram_jaccard_pairs(
            docs, TAU_JACCARD, sh=_pinned_shingles(spark, sf_dir)
        )
    )
    return dedup.dedup_apply(docs, clusters).select("doc_id", "cluster_id")


def dedup_embedding_cosine(spark, sf_dir):
    return similarity.cosine_neardup_pairs(_emb(spark, sf_dir), TAU_COS)


def ann_brute_topk(spark, sf_dir):
    return similarity.brute_topk(_emb(spark, sf_dir))


def ann_ivf_topk(spark, sf_dir):
    return similarity.ivf_label_topk(_emb(spark, sf_dir))


def ann_lsh_pairs(spark, sf_dir):
    pin = _pinned_ann(spark, sf_dir)
    return similarity.lsh_neardup_pairs(
        _emb(spark, sf_dir), TAU_COS,
        bands=pin["bands"], gathered=pin["qgather"],
    )


def dedup_embedding_cross(spark, sf_dir):
    """Incremental embedding dedup: the even-vec_id half of the corpus
    as today's batch against the odd half as the standing index — only
    cross pairs are generated (similarity.lsh_neardup_pairs_cross).
    The index side's band keys slice the one pinned band table
    (_pinned_ann["bands"]); only the batch side computes hyperplane
    dots."""
    emb = _emb(spark, sf_dir)
    return similarity.lsh_neardup_pairs_cross(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        TAU_COS,
        index_bands=_pinned_ann(spark, sf_dir)["bands"].where(
            F.col("vec_id") % 2 == 1
        ),
    )


def ann_lsh_recall(spark, sf_dir):
    """Measured recall of the LSH path against the exact cosine pass —
    the quality metric an ANN deployment monitors."""
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    exact = similarity.cosine_neardup_pairs(emb, TAU_COS).select(
        F.col("v1").alias("d1"), F.col("v2").alias("d2")
    )
    pin = _pinned_ann(spark, sf_dir)
    lsh = similarity.lsh_neardup_pairs(
        emb, TAU_COS, bands=pin["bands"], gathered=pin["qgather"]
    ).select("d1", "d2")
    hit = exact.join(lsh, on=["d1", "d2"], how="left_semi")
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_found")))
        .withColumn(
            "recall",
            F.expr("CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE)"),
        )
    )


def text_token_stats(spark, sf_dir):
    return textops.token_stats(_docs(spark, sf_dir))


def text_quality(spark, sf_dir):
    return textops.quality(_docs(spark, sf_dir))


def text_lang_id(spark, sf_dir):
    return textops.lang_id(_docs(spark, sf_dir))


def text_fingerprint(spark, sf_dir):
    return textops.fingerprint(_docs(spark, sf_dir))


def text_repetition(spark, sf_dir):
    return textops.repetition(_docs(spark, sf_dir))


def text_corpus_shuffle(spark, sf_dir):
    return textops.corpus_shuffle(_docs(spark, sf_dir))


def text_corpus_shuffle_oracle() -> str:
    from ds_jedai_spark.operators.textops import (
        SHUFFLE_CHECK_MOD,
        SHUFFLE_SHARDS,
    )

    return (
        "WITH d AS (SELECT doc_id, CAST(('0x' || substr("
        "md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h "
        "FROM documents), "
        f"sh AS (SELECT doc_id, h, h % {SHUFFLE_SHARDS} AS shard FROM d), "
        "p AS (SELECT shard, doc_id, CAST(row_number() OVER ("
        "PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos FROM sh) "
        "SELECT shard, count(*) AS n_docs, "
        f"CAST(sum((pos * (doc_id + 1)) % {SHUFFLE_CHECK_MOD}) "
        f"% {SHUFFLE_CHECK_MOD} AS BIGINT) AS checksum "
        "FROM p GROUP BY shard"
    )


def text_corpus_split(spark, sf_dir):
    return textops.corpus_split(_docs(spark, sf_dir))


def corpus_clean_stats(spark, sf_dir):
    """End-to-end cleaning pipeline over the duplicate-injected corpus:
    exact dedup (keep min doc_id per text) + quality filter + English
    language filter, reporting corpus/unique/clean counts and the clean
    token total.

    The per-doc statistics (quality + language hits) are FUSED into one
    grouped aggregation over the exploded words — a single shuffle where
    naively composing quality() and lang_id() would take two. The dedup
    groupBy ships full text as the shuffle key here for oracle
    transparency; the 100 TB path groups by xxhash64(text) (64-bit keys,
    same algebra, collision-checked by a residual equality)."""
    from pyspark.sql import functions as F

    docs = _corpus(spark, sf_dir)
    w = textops.words(docs)
    stop = F.array(*[F.lit(s) for s in textops.STOPWORDS])
    aggs = [
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("word").alias("n_distinct"),
        F.count(F.when(F.array_contains(stop, F.col("word")), True)).alias("n_stop"),
    ]
    for lang, wl in textops.LANG_WORDLISTS.items():
        arr = F.array(*[F.lit(x) for x in wl])
        aggs.append(
            F.count(F.when(F.array_contains(arr, F.col("word")), True)).alias(
                f"hits_{lang}"
            )
        )
    per_doc = w.groupBy("doc_id").agg(*aggs)
    score = F.lit(0.6) * (
        F.col("n_distinct").cast("double") / F.col("n_words")
    ) + F.lit(0.4) * (F.col("n_stop").cast("double") / F.col("n_words"))
    is_en = (F.col("hits_en") >= F.col("hits_de")) & (
        F.col("hits_en") >= F.col("hits_fr")
    )
    uniq = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    clean = per_doc.join(uniq, "doc_id").where(
        (F.col("n_words") >= 5) & (score >= 0.45) & is_en
    )
    n_corpus = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    n_unique = uniq.agg(F.count(F.lit(1)).alias("n_unique"))
    cl = clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.coalesce(F.sum("n_words"), F.lit(0)).cast("long").alias("clean_tokens"),
    )
    return n_corpus.crossJoin(n_unique).crossJoin(cl)


# Declarative expectation rules for the documents contract (r17,
# operators/validate.py). Every predicate is plain shared SQL (NULL /
# range / domain / LIKE / cross-column arithmetic — no engine-specific
# function), evaluated in ONE aggregate pass; lang_domain violates on
# purpose (es/zh rows exist), the rest should hold on healthy data.
DQ_RULES = {
    "nn_text": "text IS NOT NULL",
    "nchars_match": "n_chars = length(text)",
    "nchars_range": "n_chars >= 1 AND n_chars <= 100000",
    "lang_domain": "lang IN ('en', 'de', 'fr')",
    "id_nonneg": "doc_id >= 0",
    "source_shape": "source NOT LIKE '% %'",
}


def data_quality_row(spark, sf_dir):
    """The expectations pass over the raw documents table: one row,
    total + per-rule violation counts, single aggregate scan."""
    from ds_jedai_spark.operators.validate import validate_wide

    return validate_wide(_docs(spark, sf_dir), DQ_RULES)


def data_quality_row_oracle() -> str:
    from ds_jedai_spark.operators.validate import validate_sql

    return validate_sql("SELECT * FROM documents", DQ_RULES)


def text_pack_sequences(spark, sf_dir):
    return textops.pack_sequences(_docs(spark, sf_dir))


def text_mixture_sample(spark, sf_dir):
    return textops.mixture_sample(_docs(spark, sf_dir))


def text_chunking(spark, sf_dir):
    return textops.chunk_documents(_docs(spark, sf_dir))


def text_chunking_oracle() -> str:
    ct, ov = textops.CHUNK_TOKENS, textops.CHUNK_OVERLAP
    st = ct - ov
    return (
        "WITH d AS (SELECT doc_id, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) "
        "AS BIGINT) AS n FROM documents), "
        f"c AS (SELECT doc_id, n, GREATEST(1, (n - {ov} + {st - 1}) "
        f"// {st}) AS nch FROM d), "
        "e AS (SELECT doc_id, n, nch, "
        "unnest(range(0, nch)) AS chunk_id FROM c) "
        f"SELECT doc_id, chunk_id, chunk_id * {st} AS start_tok, "
        f"LEAST(chunk_id * {st} + {ct}, n) AS end_tok, "
        f"LEAST(chunk_id * {st} + {ct}, n) - chunk_id * {st} AS n_tok, "
        "CAST(chunk_id = nch - 1 AS BIGINT) AS is_last "
        "FROM e"
    )


def media_metadata(spark, sf_dir):
    return multimodal.media_metadata(_docs(spark, sf_dir))


def media_resize(spark, sf_dir):
    return multimodal.resize_meta(_docs(spark, sf_dir))


def media_frame_sample(spark, sf_dir):
    return multimodal.frame_sample(_docs(spark, sf_dir))


# ------------------------------------------------------------- oracles

_SHINGLE_CTE = (
    f"corpus AS ({textops.CORPUS_SQL}), "
    "warr AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS arr "
    "FROM corpus), "
    "sh0 AS (SELECT doc_id, unnest(list_transform("
    "range(1, CASE WHEN len(arr) >= 3 THEN len(arr) - 1 ELSE 1 END), "
    "i -> arr[i] || '_' || arr[i+1] || '_' || arr[i+2])) AS shingle FROM warr), "
    "d AS (SELECT DISTINCT doc_id, shingle FROM sh0), "
    "sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id), "
    "ov AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common "
    "FROM d a JOIN d b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), "
    "jac AS (SELECT d1, d2, CAST(common AS DOUBLE) / CAST(n1 + n2 - common AS DOUBLE) "
    "AS jaccard FROM ov "
    "JOIN (SELECT doc_id AS d1, n AS n1 FROM sz) USING (d1) "
    "JOIN (SELECT doc_id AS d2, n AS n2 FROM sz) USING (d2))"
)

# md5 is bit-identical across Spark and DuckDB, so shingle ids derive
# map-side from the digest — no dense_rank vocabulary CTE. 12 hex chars
# (48 bits) for minhash; 7 (28 bits) for simhash, whose Knuth multiply
# must stay inside int64 in both engines.
_MINHASH_WID_CTE = (
    "dw AS (SELECT doc_id, "
    "CAST(('0x' || substr(md5(shingle), 1, 12)) AS BIGINT) AS wid FROM d)"
)
_SIMHASH_WID_CTE = (
    "dw AS (SELECT doc_id, "
    "CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS wid FROM d)"
)

P = dedup.MINHASH_P


def dedup_exact_oracle() -> str:
    return (
        f"WITH corpus AS ({textops.CORPUS_SQL}) "
        "SELECT keep_id, copies FROM (SELECT min(doc_id) AS keep_id, "
        "count(*) AS copies FROM corpus GROUP BY text) WHERE copies > 1"
    )


def dedup_ngram_jaccard_oracle() -> str:
    return (
        f"WITH {_SHINGLE_CTE} "
        f"SELECT d1, d2, jaccard FROM jac WHERE jaccard >= {TAU_JACCARD!r}"
    )


def dedup_clusters_oracle() -> str:
    # Transitive closure via recursive CTE: a node's cluster id is the
    # minimum id among all reachable nodes of the symmetric pair graph.
    return (
        f"WITH RECURSIVE {_SHINGLE_CTE}, "
        f"p AS (SELECT d1, d2 FROM jac WHERE jaccard >= {TAU_JACCARD!r}), "
        "e AS (SELECT d1 AS a, d2 AS b FROM p UNION ALL "
        "SELECT d2 AS a, d1 AS b FROM p), "
        "walk(node, label) AS ("
        "SELECT a, a FROM (SELECT DISTINCT a FROM e) "
        "UNION "
        "SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node) "
        "SELECT node AS doc_id, min(label) AS cluster_id FROM walk GROUP BY node"
    )


def dedup_survivors_oracle() -> str:
    # Same transitive closure as dedup_clusters_oracle, then the apply
    # step: keep unclustered docs and each cluster's min-id
    # representative (the label IS the component-minimum id).
    return (
        f"WITH RECURSIVE {_SHINGLE_CTE}, "
        f"p AS (SELECT d1, d2 FROM jac WHERE jaccard >= {TAU_JACCARD!r}), "
        "e AS (SELECT d1 AS a, d2 AS b FROM p UNION ALL "
        "SELECT d2 AS a, d1 AS b FROM p), "
        "walk(node, label) AS ("
        "SELECT a, a FROM (SELECT DISTINCT a FROM e) "
        "UNION "
        "SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node), "
        "cl AS (SELECT node AS doc_id, min(label) AS cluster_id "
        "FROM walk GROUP BY node) "
        "SELECT c.doc_id, "
        "coalesce(cl.cluster_id, CAST(-1 AS BIGINT)) AS cluster_id "
        "FROM corpus c LEFT JOIN cl USING (doc_id) "
        "WHERE cl.cluster_id IS NULL OR cl.cluster_id = c.doc_id"
    )


def dedup_containment_oracle() -> str:
    return (
        f"WITH {_SHINGLE_CTE}, "
        "cont AS (SELECT d1, d2, CAST(common AS DOUBLE) / "
        "CAST(least(n1, n2) AS DOUBLE) AS containment FROM ov "
        "JOIN (SELECT doc_id AS d1, n AS n1 FROM sz) USING (d1) "
        "JOIN (SELECT doc_id AS d2, n AS n2 FROM sz) USING (d2)) "
        f"SELECT d1, d2, containment FROM cont "
        f"WHERE containment >= {TAU_CONTAIN!r}"
    )


def dedup_minhash_lsh_oracle() -> str:
    return (
        f"WITH {_SHINGLE_CTE}, {_MINHASH_WID_CTE}, "
        f"hx AS (SELECT doc_id, i, min(((2*i+1)*wid + i*i + 7) % {P}) AS h "
        "FROM dw, (SELECT unnest(range(0, 32)) AS i) r GROUP BY doc_id, i), "
        "band AS (SELECT doc_id, i - (i % 4) AS band, sum(h * ((i % 4) + 1)) AS bkey "
        "FROM hx GROUP BY doc_id, band), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM band a JOIN band b USING (band, bkey) WHERE a.doc_id < b.doc_id) "
        "SELECT d1, d2, jaccard FROM jac JOIN cand USING (d1, d2) "
        f"WHERE jaccard >= {TAU_JACCARD!r}"
    )


def dedup_minhash_lsh_cross_oracle() -> str:
    return (
        f"WITH {_SHINGLE_CTE}, {_MINHASH_WID_CTE}, "
        f"hx AS (SELECT doc_id, i, min(((2*i+1)*wid + i*i + 7) % {P}) AS h "
        "FROM dw, (SELECT unnest(range(0, 32)) AS i) r GROUP BY doc_id, i), "
        "band AS (SELECT doc_id, i - (i % 4) AS band, sum(h * ((i % 4) + 1)) AS bkey "
        "FROM hx GROUP BY doc_id, band), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM band a JOIN band b USING (band, bkey) "
        "WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1) "
        "SELECT c.d1, c.d2, j.jaccard FROM cand c JOIN jac j "
        "ON j.d1 = least(c.d1, c.d2) AND j.d2 = greatest(c.d1, c.d2) "
        f"WHERE j.jaccard >= {TAU_JACCARD!r}"
    )


def dedup_minhash_estimate_oracle() -> str:
    return (
        f"WITH {_SHINGLE_CTE}, {_MINHASH_WID_CTE}, "
        f"hx AS (SELECT doc_id, i, min(((2*i+1)*wid + i*i + 7) % {P}) AS h "
        "FROM dw, (SELECT unnest(range(0, 32)) AS i) r GROUP BY doc_id, i), "
        "band AS (SELECT doc_id, i - (i % 4) AS band, sum(h * ((i % 4) + 1)) AS bkey "
        "FROM hx GROUP BY doc_id, band), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 "
        "FROM band a JOIN band b USING (band, bkey) WHERE a.doc_id < b.doc_id), "
        "est AS (SELECT c.d1, c.d2, "
        "CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS DOUBLE) / 32.0 AS est "
        "FROM cand c JOIN hx a ON a.doc_id = c.d1 "
        "JOIN hx b ON b.doc_id = c.d2 AND b.i = a.i GROUP BY 1, 2) "
        f"SELECT d1, d2, est FROM est WHERE est >= {TAU_JACCARD!r}"
    )


def dedup_simhash_oracle() -> str:
    return (
        f"WITH {_SHINGLE_CTE}, {_SIMHASH_WID_CTE}, "
        "perbit AS (SELECT doc_id, j, sum(((((wid+1) * 2654435761) >> (j+8)) % 2) * 2 - 1) AS s "
        "FROM dw, (SELECT unnest(range(0, 32)) AS j) r GROUP BY doc_id, j), "
        "fp AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) "
        "ELSE 0 END) AS BIGINT) AS fp FROM perbit GROUP BY doc_id), "
        "nib AS (SELECT doc_id, fp, k, (fp >> (k*8)) % 256 AS nibble "
        "FROM fp, (SELECT unnest(range(0, 4)) AS k) r), "
        "cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, "
        "a.fp AS fp1, b.fp AS fp2 FROM nib a JOIN nib b USING (k, nibble) "
        "WHERE a.doc_id < b.doc_id) "
        "SELECT d1, d2, CAST(bit_count(xor(fp1, fp2)) AS BIGINT) AS hamming "
        f"FROM cand WHERE bit_count(xor(fp1, fp2)) <= {MAX_HAMMING}"
    )


_QUANT_CTE = (
    "q AS (SELECT vec_id, label, list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv FROM embeddings), "
    "n AS (SELECT vec_id, label, qv, list_dot_product(qv, qv) AS n2 FROM q)"
)


def dedup_embedding_cosine_oracle() -> str:
    return (
        f"WITH {_QUANT_CTE} "
        "SELECT a.vec_id AS v1, b.vec_id AS v2, "
        "list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) AS cos "
        "FROM n a JOIN n b ON a.vec_id < b.vec_id "
        f"WHERE list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) >= {TAU_COS!r}"
    )


def ann_lsh_pairs_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT vec_id, qv, n2, {b} AS band, {expr} AS bucket FROM n"
        for b, expr in enumerate(similarity.band_buckets_duckdb())
    )
    return (
        f"WITH {_QUANT_CTE}, "
        f"bk AS ({bands}), "
        "cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2 "
        "FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id) "
        "SELECT d1, d2, list_dot_product(x.qv, y.qv) / sqrt(x.n2 * y.n2) AS cos "
        "FROM cand JOIN n x ON x.vec_id = d1 JOIN n y ON y.vec_id = d2 "
        f"WHERE list_dot_product(x.qv, y.qv) / sqrt(x.n2 * y.n2) >= {TAU_COS!r}"
    )


def dedup_embedding_cross_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT vec_id, qv, n2, {b} AS band, {expr} AS bucket FROM n"
        for b, expr in enumerate(similarity.band_buckets_duckdb())
    )
    return (
        f"WITH {_QUANT_CTE}, "
        f"bk AS ({bands}), "
        "cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2 "
        "FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket "
        "AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1) "
        "SELECT d1, d2, list_dot_product(x.qv, y.qv) / sqrt(x.n2 * y.n2) AS cos "
        "FROM cand JOIN n x ON x.vec_id = d1 JOIN n y ON y.vec_id = d2 "
        f"WHERE list_dot_product(x.qv, y.qv) / sqrt(x.n2 * y.n2) >= {TAU_COS!r}"
    )


def ann_lsh_recall_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT vec_id, qv, n2, {b} AS band, {expr} AS bucket FROM n"
        for b, expr in enumerate(similarity.band_buckets_duckdb())
    )
    return (
        f"WITH {_QUANT_CTE}, "
        "ex AS (SELECT a.vec_id AS d1, b.vec_id AS d2 FROM n a JOIN n b "
        "ON a.vec_id < b.vec_id "
        f"WHERE list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) >= {TAU_COS!r}), "
        f"bk AS ({bands}), "
        "cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2 "
        "FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id), "
        "hit AS (SELECT ex.* FROM ex JOIN cand USING (d1, d2)) "
        "SELECT (SELECT count(*) FROM ex) AS n_exact, "
        "(SELECT count(*) FROM hit) AS n_found, "
        "CAST((SELECT count(*) FROM hit) AS DOUBLE) / "
        "CAST((SELECT count(*) FROM ex) AS DOUBLE) AS recall"
    )


def ann_kmeans_cells(spark, sf_dir):
    from ds_jedai_spark.operators.similarity import kmeans_cells

    return kmeans_cells(
        _emb(spark, sf_dir), cent=_pinned_ann(spark, sf_dir)["cent"]
    )


def _kmeans_cte() -> str:
    """Unrolled Lloyd iterations as CTE text ending in aF (final
    assignment: vec_id, qv, cid, d2) — shared by the kmeans queries."""
    from ds_jedai_spark.operators.similarity import KMEANS_ITERS, KMEANS_K

    def sc(cent: str, tag: str) -> str:
        return (
            f"sc{tag} AS (SELECT q.vec_id, q.qv, c.cid, "
            f"CAST(list_sum(list_transform(range(1, len(q.qv) + 1), "
            f"i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS d2 "
            f"FROM qe q, {cent} c), "
            f"a{tag} AS (SELECT vec_id, qv, cid, d2 FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY vec_id "
            f"ORDER BY d2, cid) AS rn FROM sc{tag}) WHERE rn = 1)"
        )

    parts = [
        _QUANT_CTE.split(", n AS")[0],  # just the q CTE
        "qe AS (SELECT vec_id, qv FROM q)",
        # rank-based seeding (k SMALLEST ids present), matching
        # similarity.train_centroids' orderBy().limit(k): identical to
        # the old vec_id < k threshold on dense 0..n-1 ids, but the
        # bit-identical-replay contract now holds on sparse ids too
        f"c0 AS (SELECT vec_id AS cid, qv AS cv FROM qe "
        f"ORDER BY vec_id LIMIT {KMEANS_K})",
    ]
    prev = "c0"
    for it in range(1, KMEANS_ITERS):
        parts.append(sc(prev, str(it)))
        parts.append(
            f"u{it} AS (SELECT cid, generate_subscripts(qv, 1) AS pos, "
            f"unnest(qv) AS v FROM a{it}), "
            f"s{it} AS (SELECT cid, pos, CAST(floor(CAST(sum(v) AS DOUBLE) "
            f"/ count(*)) AS BIGINT) AS m FROM u{it} GROUP BY cid, pos), "
            f"c{it} AS (SELECT cid, list(m ORDER BY pos) AS cv "
            f"FROM s{it} GROUP BY cid)"
        )
        prev = f"c{it}"
    parts.append(sc(prev, "F"))
    return "WITH " + ", ".join(parts)


def ann_kmeans_cells_oracle() -> str:
    return (
        f"{_kmeans_cte()} "
        "SELECT cid, count(*) AS n_vecs, CAST(sum(d2) AS BIGINT) AS inertia "
        "FROM aF GROUP BY cid"
    )


def ann_ivf_trained_topk(spark, sf_dir):
    from ds_jedai_spark.operators.similarity import ivf_trained_topk

    art = _pinned_ann(spark, sf_dir)
    return ivf_trained_topk(
        _emb(spark, sf_dir), cent=art["cent"], cells=art["cells"]
    )


def ann_ivf_trained_topk_oracle() -> str:
    return (
        f"{_kmeans_cte()}, "
        "nn AS (SELECT vec_id, qv, cid, list_dot_product(qv, qv) AS n2 FROM aF), "
        "scored AS (SELECT a.vec_id AS qid, b.vec_id AS vid, "
        "list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) AS cos "
        "FROM nn a JOIN nn b ON a.cid = b.cid AND a.vec_id % 50 = 0 "
        "AND a.vec_id <> b.vec_id) "
        "SELECT qid, vid, cos FROM (SELECT qid, vid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM scored) WHERE rn <= 3"
    )


def ann_pq_adc_topk(spark, sf_dir):
    from ds_jedai_spark.operators.similarity import pq_adc_topk

    art = _pinned_ann(spark, sf_dir)
    return pq_adc_topk(
        _emb(spark, sf_dir), books=art["books"], codes=art["codes"]
    )


def _pq_cte() -> str:
    """Unrolled per-sub-block Lloyd training + encoding as CTE text:
    codes (vec_id, m, cid), books (m, cid, cv, cnorm2), queries
    (qid, m, qsub, n1) — the DuckDB replay of similarity.pq_adc_topk's
    training/encode stages (integer-exact throughout)."""
    from ds_jedai_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        PQ_M,
    )

    def lloyd(tag: str, src: str) -> tuple[list[str], str]:
        def sc(cent: str, t: str) -> str:
            return (
                f"sc{t} AS (SELECT q.vec_id, q.qv, c.cid, "
                f"CAST(list_sum(list_transform(range(1, len(q.qv) + 1), "
                f"i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS d2 "
                f"FROM {src} q, {cent} c), "
                f"a{t} AS (SELECT vec_id, qv, cid, d2 FROM ("
                f"SELECT *, row_number() OVER (PARTITION BY vec_id "
                f"ORDER BY d2, cid) AS rn FROM sc{t}) WHERE rn = 1)"
            )

        parts = [
            # rank-based seeds (k smallest ids present), matching
            # similarity.pq_codebooks_stacked — see _kmeans_cte's c0
            f"c{tag}0 AS (SELECT vec_id AS cid, qv AS cv FROM {src} "
            f"ORDER BY vec_id LIMIT {KMEANS_K})"
        ]
        prev = f"c{tag}0"
        for it in range(1, KMEANS_ITERS):
            t = f"{tag}{it}"
            parts.append(sc(prev, t))
            parts.append(
                f"u{t} AS (SELECT cid, generate_subscripts(qv, 1) AS pos, "
                f"unnest(qv) AS v FROM a{t}), "
                f"s{t} AS (SELECT cid, pos, CAST(floor(CAST(sum(v) AS DOUBLE) "
                f"/ count(*)) AS BIGINT) AS m FROM u{t} GROUP BY cid, pos), "
                f"c{t} AS (SELECT cid, list(m ORDER BY pos) AS cv "
                f"FROM s{t} GROUP BY cid)"
            )
            prev = f"c{t}"
        parts.append(sc(prev, f"{tag}F"))
        return parts, prev

    parts = [
        _QUANT_CTE.split(", n AS")[0],
        "qe AS (SELECT vec_id, qv FROM q)",
    ]
    code_sel, book_sel, query_sel = [], [], []
    for m in range(PQ_M):
        sub = (
            f"sub{m} AS (SELECT vec_id, list_slice(qv, "
            f"{m} * (len(qv) // {PQ_M}) + 1, "
            f"({m} + 1) * (len(qv) // {PQ_M})) AS qv FROM qe)"
        )
        parts.append(sub)
        lp, cent = lloyd(f"p{m}", f"sub{m}")
        parts.extend(lp)
        code_sel.append(f"SELECT vec_id, {m} AS m, cid FROM ap{m}F")
        book_sel.append(
            f"SELECT {m} AS m, cid, cv, "
            f"CAST(list_dot_product(cv, cv) AS BIGINT) AS cnorm2 FROM {cent}"
        )
        query_sel.append(
            f"SELECT vec_id AS qid, {m} AS m, qv AS qsub, "
            f"(SELECT CAST(list_dot_product(e.qv, e.qv) AS BIGINT) FROM qe e "
            f"WHERE e.vec_id = sub{m}.vec_id) AS n1 "
            f"FROM sub{m} WHERE vec_id < 10"
        )
    parts.append("codes AS (" + " UNION ALL ".join(code_sel) + ")")
    parts.append("books AS (" + " UNION ALL ".join(book_sel) + ")")
    parts.append("queries AS (" + " UNION ALL ".join(query_sel) + ")")
    return "WITH " + ", ".join(parts)


def ann_pq_adc_topk_oracle() -> str:
    return (
        f"{_pq_cte()}, "
        "contrib AS (SELECT q.qid, c.vec_id AS vid, q.n1, "
        "CAST(list_dot_product(q.qsub, b.cv) AS BIGINT) AS dotm, b.cnorm2 "
        "FROM codes c JOIN books b USING (m, cid) JOIN queries q USING (m) "
        "WHERE q.qid <> c.vec_id), "
        "scored AS (SELECT qid, vid, "
        "CAST(sum(dotm) AS DOUBLE) / sqrt(CAST(any_value(n1) AS DOUBLE) * "
        "CAST(sum(cnorm2) AS DOUBLE)) AS cos FROM contrib GROUP BY qid, vid) "
        "SELECT qid, vid, cos FROM (SELECT qid, vid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM scored) WHERE rn <= 5"
    )


def ann_pq_rerank_topk(spark, sf_dir):
    from ds_jedai_spark.operators.similarity import pq_rerank_topk

    art = _pinned_ann(spark, sf_dir)
    return pq_rerank_topk(
        _emb(spark, sf_dir), books=art["books"], codes=art["codes"]
    )


def ann_pq_rerank_topk_oracle() -> str:
    return (
        f"{_pq_cte()}, "
        "contrib AS (SELECT q.qid, c.vec_id AS vid, q.n1, "
        "CAST(list_dot_product(q.qsub, b.cv) AS BIGINT) AS dotm, b.cnorm2 "
        "FROM codes c JOIN books b USING (m, cid) JOIN queries q USING (m) "
        "WHERE q.qid <> c.vec_id), "
        "adc AS (SELECT qid, vid, "
        "CAST(sum(dotm) AS DOUBLE) / sqrt(CAST(any_value(n1) AS DOUBLE) * "
        "CAST(sum(cnorm2) AS DOUBLE)) AS acos FROM contrib GROUP BY qid, vid), "
        "short AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER "
        "(PARTITION BY qid ORDER BY acos DESC, vid) AS rn FROM adc) WHERE rn <= 20), "
        "nn AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) "
        "AS n2 FROM qe), "
        "rer AS (SELECT s.qid, s.vid, "
        "CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) / "
        "sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos "
        "FROM short s JOIN nn a ON a.vec_id = s.qid "
        "JOIN nn b ON b.vec_id = s.vid) "
        "SELECT qid, vid, cos FROM (SELECT qid, vid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM rer) WHERE rn <= 5"
    )


def ann_pq_recall(spark, sf_dir):
    from ds_jedai_spark.operators.similarity import pq_recall

    art = _pinned_ann(spark, sf_dir)
    return pq_recall(
        _emb(spark, sf_dir), books=art["books"], codes=art["codes"]
    )


def ann_pq_recall_oracle() -> str:
    return (
        f"{_pq_cte()}, "
        "contrib AS (SELECT q.qid, c.vec_id AS vid, q.n1, "
        "CAST(list_dot_product(q.qsub, b.cv) AS BIGINT) AS dotm, b.cnorm2 "
        "FROM codes c JOIN books b USING (m, cid) JOIN queries q USING (m) "
        "WHERE q.qid <> c.vec_id), "
        "adcs AS (SELECT qid, vid, "
        "CAST(sum(dotm) AS DOUBLE) / sqrt(CAST(any_value(n1) AS DOUBLE) * "
        "CAST(sum(cnorm2) AS DOUBLE)) AS acos FROM contrib GROUP BY qid, vid), "
        "adck AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER "
        "(PARTITION BY qid ORDER BY acos DESC, vid) AS rn FROM adcs) WHERE rn <= 5), "
        "short AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER "
        "(PARTITION BY qid ORDER BY acos DESC, vid) AS rn FROM adcs) WHERE rn <= 20), "
        "nn AS (SELECT vec_id, qv, CAST(list_dot_product(qv, qv) AS BIGINT) "
        "AS n2 FROM qe), "
        "rer AS (SELECT s.qid, s.vid, "
        "CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) / "
        "sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cos "
        "FROM short s JOIN nn a ON a.vec_id = s.qid "
        "JOIN nn b ON b.vec_id = s.vid), "
        "rerk AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM rer) WHERE rn <= 5), "
        "tru AS (SELECT qid, vid FROM (SELECT a.vec_id AS qid, "
        "b.vec_id AS vid, row_number() OVER (PARTITION BY a.vec_id ORDER BY "
        "CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) / "
        "sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) DESC, b.vec_id) "
        "AS rn FROM nn a JOIN nn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) "
        "WHERE rn <= 5) "
        "SELECT nt AS n_truth, naf AS adc_found, nrf AS rerank_found, "
        "CAST(naf AS DOUBLE) / CAST(nt AS DOUBLE) AS adc_recall, "
        "CAST(nrf AS DOUBLE) / CAST(nt AS DOUBLE) AS rerank_recall FROM ("
        "SELECT (SELECT count(*) FROM tru) AS nt, "
        "(SELECT count(*) FROM tru JOIN adck USING (qid, vid)) AS naf, "
        "(SELECT count(*) FROM tru JOIN rerk USING (qid, vid)) AS nrf)"
    )


def ann_brute_topk_oracle() -> str:
    return (
        f"WITH {_QUANT_CTE}, "
        "scored AS (SELECT a.vec_id AS qid, b.vec_id AS vid, "
        "list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) AS cos "
        "FROM n a JOIN n b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) "
        "SELECT qid, vid, cos FROM (SELECT qid, vid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM scored) WHERE rn <= 5"
    )


def ann_ivf_topk_oracle() -> str:
    return (
        f"WITH {_QUANT_CTE}, "
        "scored AS (SELECT a.vec_id AS qid, b.vec_id AS vid, "
        "list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) AS cos "
        "FROM n a JOIN n b ON a.label = b.label AND a.vec_id % 50 = 0 "
        "AND a.vec_id <> b.vec_id) "
        "SELECT qid, vid, cos FROM (SELECT qid, vid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM scored) WHERE rn <= 3"
    )


_WORDS_CTE = (
    "w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word, "
    "generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents), "
    "w AS (SELECT doc_id, pos, word FROM w0 WHERE word <> '')"
)


def text_token_stats_oracle() -> str:
    return (
        "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_raw, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) "
        "AS n_words, "
        f"CAST(len(regexp_extract_all(text, '{textops.BPE_SPLIT_RE.replace(chr(39), chr(39)*2)}')) AS BIGINT) "
        "AS n_subtokens, CAST(length(text) AS BIGINT) AS n_chars, "
        "CASE WHEN length(text) > 0 THEN "
        "len(list_filter(string_split(text, ' '), x -> x <> '')) * 100.0 / length(text) "
        "ELSE 0.0 END AS words_per_100_chars FROM documents"
    )


def text_quality_oracle() -> str:
    stop = ", ".join(f"'{s}'" for s in textops.STOPWORDS)
    return (
        f"WITH {_WORDS_CTE} "
        "SELECT doc_id, count(*) AS n_words, count(DISTINCT word) AS n_distinct, "
        f"count(*) FILTER (WHERE word IN ({stop})) AS n_stop, "
        "CAST(sum(length(word)) AS DOUBLE) / count(*) AS avg_word_len, "
        f"CAST(count(*) FILTER (WHERE word IN ({stop})) AS DOUBLE) / count(*) "
        "AS stop_ratio, "
        "0.6 * (CAST(count(DISTINCT word) AS DOUBLE) / count(*)) + "
        f"0.4 * (CAST(count(*) FILTER (WHERE word IN ({stop})) AS DOUBLE) / count(*)) "
        "AS quality_score FROM w GROUP BY doc_id"
    )


def text_repetition_oracle() -> str:
    return (
        f"WITH {_WORDS_CTE}, "
        "wc AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2), "
        "pw AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_word_count, "
        "sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_word_instances "
        "FROM wc GROUP BY doc_id), "
        "sq AS (SELECT doc_id, pos, word, "
        "lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM w), "
        "bg AS (SELECT doc_id, word || ' ' || nxt AS bigram FROM sq "
        "WHERE nxt IS NOT NULL), "
        "bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2), "
        "pb AS (SELECT doc_id, sum(c) AS n_bigrams, "
        "sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_bigram_instances "
        "FROM bc GROUP BY doc_id) "
        "SELECT pw.doc_id, CAST(pw.n_words AS BIGINT) AS n_words, "
        "CAST(top_word_count AS DOUBLE) / n_words AS top_word_frac, "
        "CAST(dup_word_instances AS DOUBLE) / n_words AS dup_word_frac, "
        "CAST(coalesce(pb.n_bigrams, 0) AS BIGINT) AS n_bigrams, "
        "CASE WHEN coalesce(pb.n_bigrams, 0) > 0 THEN "
        "CAST(coalesce(pb.dup_bigram_instances, 0) AS DOUBLE) / "
        "CAST(pb.n_bigrams AS DOUBLE) ELSE 0.0 END AS dup_bigram_frac "
        "FROM pw LEFT JOIN pb ON pw.doc_id = pb.doc_id"
    )


def text_corpus_split_oracle() -> str:
    t = textops
    return (
        "WITH s AS (SELECT CASE "
        f"WHEN (doc_id * {t.SPLIT_MULT}) % {t.SPLIT_BUCKETS} < {t.SPLIT_TRAIN} "
        "THEN 'train' "
        f"WHEN (doc_id * {t.SPLIT_MULT}) % {t.SPLIT_BUCKETS} < {t.SPLIT_VAL} "
        "THEN 'val' ELSE 'test' END AS split, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) "
        "AS nw FROM documents) "
        "SELECT split, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_words "
        "FROM s GROUP BY split"
    )


def text_lang_id_oracle() -> str:
    hits = {
        lang: f"count(*) FILTER (WHERE word IN ({', '.join(repr(x) for x in wl)}))"
        for lang, wl in textops.LANG_WORDLISTS.items()
    }
    return (
        f"WITH {_WORDS_CTE}, agg AS (SELECT doc_id, "
        + ", ".join(f"{expr} AS hits_{lang}" for lang, expr in hits.items())
        + " FROM w GROUP BY doc_id) "
        "SELECT doc_id, hits_en, hits_de, hits_fr, "
        "CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr THEN 'en' "
        "WHEN hits_de >= hits_fr THEN 'de' ELSE 'fr' END AS lang_pred FROM agg"
    )


def text_fingerprint_oracle() -> str:
    return (
        f"WITH {_WORDS_CTE}, "
        "v AS (SELECT word, CAST(dense_rank() OVER (ORDER BY word) AS BIGINT) AS wid "
        "FROM (SELECT DISTINCT word FROM w)), "
        "t AS (SELECT doc_id, ((wid + 1) * pos * "
        f"{textops.FP_MULT}) % {textops.FP_MOD} AS term FROM w JOIN v USING (word)) "
        f"SELECT doc_id, CAST(sum(term) % {textops.FP_MOD} AS BIGINT) AS fingerprint "
        "FROM t GROUP BY doc_id"
    )


def corpus_clean_stats_oracle() -> str:
    stop = ", ".join(f"'{s}'" for s in textops.STOPWORDS)
    hits = {
        lang: f"count(*) FILTER (WHERE word IN ({', '.join(repr(x) for x in wl)}))"
        for lang, wl in textops.LANG_WORDLISTS.items()
    }
    score = (
        "0.6 * (CAST(n_distinct AS DOUBLE) / n_words) + "
        "0.4 * (CAST(n_stop AS DOUBLE) / n_words)"
    )
    return (
        f"WITH corpus AS ({textops.CORPUS_SQL}), "
        "w0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus), "
        "w AS (SELECT doc_id, word FROM w0 WHERE word <> ''), "
        "per_doc AS (SELECT doc_id, count(*) AS n_words, "
        "count(DISTINCT word) AS n_distinct, "
        f"count(*) FILTER (WHERE word IN ({stop})) AS n_stop, "
        + ", ".join(f"{expr} AS hits_{lang}" for lang, expr in hits.items())
        + " FROM w GROUP BY doc_id), "
        "uniq AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text), "
        "clean AS (SELECT per_doc.* FROM per_doc JOIN uniq USING (doc_id) "
        f"WHERE n_words >= 5 AND {score} >= 0.45 "
        "AND hits_en >= hits_de AND hits_en >= hits_fr) "
        "SELECT (SELECT count(*) FROM corpus) AS n_corpus, "
        "(SELECT count(*) FROM uniq) AS n_unique, "
        "count(*) AS n_clean, "
        "CAST(coalesce(sum(n_words), 0) AS BIGINT) AS clean_tokens FROM clean"
    )


def text_pack_sequences_oracle() -> str:
    b, sh = textops.PACK_BUDGET, textops.PACK_SHARDS
    return (
        "WITH tok AS (SELECT doc_id, doc_id % "
        f"{sh} AS shard, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) "
        "AS n_tokens FROM documents), "
        "run AS (SELECT shard, doc_id, n_tokens, "
        "SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM tok) "
        f"SELECT shard, CAST(floor(CAST(cum - n_tokens AS DOUBLE) / {b}.0) AS BIGINT) "
        "AS seq_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, "
        "min(doc_id) AS first_doc, max(doc_id) AS last_doc "
        "FROM run GROUP BY 1, 2"
    )


def text_mixture_sample_oracle() -> str:
    t = textops
    return (
        "WITH r AS (SELECT doc_id, source, "
        f"{t.MIX_BASE} + (CAST(substring(source, 4, 8) AS BIGINT) * {t.MIX_STEP}) "
        f"% {t.MIX_SPAN} AS rate_pct FROM documents) "
        "SELECT source, rate_pct, count(*) AS n_docs, "
        f"count(*) FILTER (WHERE (doc_id * {t.MIX_MULT}) % 100 < rate_pct) "
        "AS n_sampled FROM r GROUP BY 1, 2"
    )


def media_metadata_oracle() -> str:
    return (
        "SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len, "
        "64 + octet_length(CAST(text AS BLOB)) % 193 AS width, "
        "64 + (octet_length(CAST(text AS BLOB)) * 7) % 211 AS height, "
        "octet_length(CAST(text AS BLOB)) % 16 + 1 AS frames FROM documents"
    )


_META_CTE = f"meta AS ({media_metadata_oracle()})"


def media_resize_oracle() -> str:
    t = multimodal.RESIZE_TARGET
    m = "greatest(width, height)"
    return (
        f"WITH {_META_CTE} SELECT doc_id, width, height, "
        f"CAST(floor((width * {t}.0) / {m}) AS BIGINT) AS out_w, "
        f"CAST(floor((height * {t}.0) / {m}) AS BIGINT) AS out_h FROM meta"
    )


def media_frame_sample_oracle() -> str:
    return (
        f"WITH {_META_CTE} SELECT doc_id, frames, "
        f"CAST(unnest(range(0, frames, greatest(1, frames // 8))) AS BIGINT) "
        f"AS frame_idx FROM meta"
    )


QUERIES = {
    "data_quality_row": data_quality_row,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_cross": dedup_minhash_lsh_cross,
    "dedup_minhash_estimate": dedup_minhash_estimate,
    "dedup_progressive": dedup_progressive,
    "dedup_simhash": dedup_simhash,
    "dedup_containment": dedup_containment,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_cross": dedup_embedding_cross,
    "ann_pq_recall": ann_pq_recall,
    "dedup_clusters": dedup_clusters,
    "dedup_survivors": dedup_survivors,
    "ann_brute_topk": ann_brute_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_lsh_pairs": ann_lsh_pairs,
    "ann_lsh_recall": ann_lsh_recall,
    "ann_kmeans_cells": ann_kmeans_cells,
    "ann_pq_adc_topk": ann_pq_adc_topk,
    "ann_pq_rerank_topk": ann_pq_rerank_topk,
    "ann_ivf_trained_topk": ann_ivf_trained_topk,
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "text_repetition": text_repetition,
    "text_corpus_split": text_corpus_split,
    "text_corpus_shuffle": text_corpus_shuffle,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_pack_sequences": text_pack_sequences,
    "text_chunking": text_chunking,
    "text_mixture_sample": text_mixture_sample,
    "corpus_clean_stats": corpus_clean_stats,
    "media_metadata": media_metadata,
    "media_resize": media_resize,
    "media_frame_sample": media_frame_sample,
}

ORACLES = {
    "data_quality_row": data_quality_row_oracle(),
    "dedup_exact": dedup_exact_oracle(),
    "dedup_ngram_jaccard": dedup_ngram_jaccard_oracle(),
    "dedup_minhash_lsh": dedup_minhash_lsh_oracle(),
    "dedup_minhash_lsh_cross": dedup_minhash_lsh_cross_oracle(),
    "dedup_minhash_estimate": dedup_minhash_estimate_oracle(),
    "dedup_progressive": dedup_progressive_oracle(),
    "dedup_simhash": dedup_simhash_oracle(),
    "dedup_containment": dedup_containment_oracle(),
    "dedup_embedding_cosine": dedup_embedding_cosine_oracle(),
    "dedup_embedding_cross": dedup_embedding_cross_oracle(),
    "ann_pq_recall": ann_pq_recall_oracle(),
    "dedup_clusters": dedup_clusters_oracle(),
    "dedup_survivors": dedup_survivors_oracle(),
    "ann_brute_topk": ann_brute_topk_oracle(),
    "ann_ivf_topk": ann_ivf_topk_oracle(),
    "ann_lsh_pairs": ann_lsh_pairs_oracle(),
    "ann_kmeans_cells": ann_kmeans_cells_oracle(),
    "ann_pq_adc_topk": ann_pq_adc_topk_oracle(),
    "ann_pq_rerank_topk": ann_pq_rerank_topk_oracle(),
    "ann_ivf_trained_topk": ann_ivf_trained_topk_oracle(),
    "ann_lsh_recall": ann_lsh_recall_oracle(),
    "text_token_stats": text_token_stats_oracle(),
    "text_quality": text_quality_oracle(),
    "text_repetition": text_repetition_oracle(),
    "text_corpus_split": text_corpus_split_oracle(),
    "text_corpus_shuffle": text_corpus_shuffle_oracle(),
    "text_lang_id": text_lang_id_oracle(),
    "text_fingerprint": text_fingerprint_oracle(),
    "text_pack_sequences": text_pack_sequences_oracle(),
    "text_chunking": text_chunking_oracle(),
    "text_mixture_sample": text_mixture_sample_oracle(),
    "corpus_clean_stats": corpus_clean_stats_oracle(),
    "media_metadata": media_metadata_oracle(),
    "media_resize": media_resize_oracle(),
    "media_frame_sample": media_frame_sample_oracle(),
}


# ---------------------------------------------- decontamination / quantize

def text_contamination(spark, sf_dir):
    """Benchmark decontamination over the documents table: source
    'src0' plays the held-out benchmark, every other source is the
    training corpus."""
    d = _docs(spark, sf_dir)
    return textops.contamination(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
    )


def text_contamination_oracle() -> str:
    return (
        "WITH warr AS (SELECT doc_id, source, "
        "list_filter(string_split(text, ' '), x -> x <> '') AS arr FROM documents), "
        "sh0 AS (SELECT doc_id, source, unnest(list_transform("
        "range(1, CASE WHEN len(arr) >= 3 THEN len(arr) - 1 ELSE 1 END), "
        "i -> arr[i] || '_' || arr[i+1] || '_' || arr[i+2])) AS shingle FROM warr), "
        "d AS (SELECT DISTINCT doc_id, source, shingle FROM sh0), "
        "bg AS (SELECT DISTINCT shingle FROM d WHERE source = 'src0'), "
        "t AS (SELECT doc_id, shingle FROM d WHERE source <> 'src0'), "
        "tot AS (SELECT doc_id, count(*) AS n_grams FROM t GROUP BY 1), "
        "hit AS (SELECT t.doc_id, count(*) AS n_hit FROM t JOIN bg USING (shingle) "
        "GROUP BY 1) "
        "SELECT doc_id, n_grams, coalesce(n_hit, 0) AS n_hit, "
        "CAST(coalesce(n_hit, 0) AS DOUBLE) / n_grams AS hit_frac, "
        "coalesce(n_hit, 0) > 0 AS contaminated "
        "FROM tot LEFT JOIN hit USING (doc_id)"
    )


def emb_quantize(spark, sf_dir):
    return similarity.int8_quantize_stats(_emb(spark, sf_dir))


def emb_quantize_oracle() -> str:
    q8 = (
        "CAST(floor((254.0 * x + maxabs) / (2.0 * maxabs)) AS BIGINT)"
    )
    err = f"(127 * x - {q8} * maxabs)"
    return (
        "WITH base AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv "
        "FROM embeddings), "
        "mx AS (SELECT vec_id, qv, "
        "list_aggregate(list_transform(qv, v -> abs(v)), 'max') AS maxabs FROM base) "
        "SELECT vec_id, CAST(maxabs AS BIGINT) AS maxabs, "
        "CAST(coalesce(list_aggregate(list_transform(qv, x -> "
        f"CASE WHEN maxabs = 0 THEN CAST(0 AS BIGINT) ELSE {err} * {err} END), "
        "'sum'), 0) AS BIGINT) AS sse "
        "FROM mx"
    )


QUERIES.update(
    {
        "text_contamination": text_contamination,
        "emb_quantize": emb_quantize,
    }
)
ORACLES.update(
    {
        "text_contamination": text_contamination_oracle(),
        "emb_quantize": emb_quantize_oracle(),
    }
)


# ------------------------------------------------------------- PII scrub

# Deterministic synthetic PII injection (the testdata corpus is clean, so
# every fifth document gets an email + IPv4 appended; the operator then has
# real work to find and redact, and zero-count rows stay covered too).
_PII_INJECT_SPARK = (
    "CASE WHEN doc_id % 5 = 0 THEN concat(text, ' user', CAST(doc_id AS STRING), "
    "'@mail.com from 10.0.', CAST(doc_id % 256 AS STRING), '.', "
    "CAST((doc_id * 7) % 256 AS STRING)) ELSE text END AS text"
)
_PII_INJECT_SQL = (
    "CASE WHEN doc_id % 5 = 0 THEN text || ' user' || CAST(doc_id AS VARCHAR) || "
    "'@mail.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR) ELSE text END AS text"
)


def text_pii_scrub(spark, sf_dir):
    d = _docs(spark, sf_dir).selectExpr("doc_id", _PII_INJECT_SPARK)
    return textops.pii_scrub(d)


def text_pii_scrub_oracle() -> str:
    # DuckDB string literals keep backslashes verbatim, so the Python
    # pattern values interpolate unchanged.
    email = textops.PII_EMAIL_RE
    ipv4 = textops.PII_IPV4_RE
    return (
        f"WITH d AS (SELECT doc_id, {_PII_INJECT_SQL} FROM documents), "
        "c AS (SELECT doc_id, text, "
        f"regexp_replace(regexp_replace(text, '{email}', '<EMAIL>', 'g'), "
        f"'{ipv4}', '<IP>', 'g') AS clean FROM d) "
        "SELECT doc_id, "
        f"CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email, "
        f"CAST(len(regexp_extract_all(text, '{ipv4}')) AS BIGINT) AS n_ip, "
        "CAST(length(clean) AS BIGINT) AS len_clean, "
        "md5(clean) AS clean_md5 FROM c"
    )


QUERIES["text_pii_scrub"] = text_pii_scrub
ORACLES["text_pii_scrub"] = text_pii_scrub_oracle()


# ------------------------------------- semi-structured props + quota sample

def events_json_stats(spark, sf_dir):
    """Semi-structured extraction: parse the JSON ``props`` column and
    roll up per event type. get_json_object is JVM-side JSON-path
    evaluation — no Python, one groupBy shuffle."""
    register_views(spark, sf_dir)
    ev = spark.table("events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def events_json_stats_oracle() -> str:
    return (
        "SELECT event_type, count(*) AS n, "
        "CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, "
        "min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k, "
        "max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k "
        "FROM events GROUP BY event_type"
    )


QUOTA_PER_SOURCE = 5


def source_quota_sample(spark, sf_dir):
    """Per-domain quota sampling: keep the QUOTA_PER_SOURCE largest
    documents per source (deterministic tiebreak on doc_id) — the
    per-domain cap a mixture-controlled corpus applies. One window
    partitioned by source; no global sort, no skew (partition count =
    number of sources after the groupless shuffle)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= QUOTA_PER_SOURCE)
        .select("source", "doc_id", "n_chars", F.col("rk").cast("bigint").alias("rk"))
    )


def source_quota_sample_oracle() -> str:
    return (
        "SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk FROM ("
        "SELECT source, doc_id, n_chars, row_number() OVER ("
        "PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rk "
        f"FROM documents) WHERE rk <= {QUOTA_PER_SOURCE}"
    )


QUERIES.update(
    {
        "events_json_stats": events_json_stats,
        "source_quota_sample": source_quota_sample,
    }
)
ORACLES.update(
    {
        "events_json_stats": events_json_stats_oracle(),
        "source_quota_sample": source_quota_sample_oracle(),
    }
)


# --------------------------------------------- semantic duplicate clusters

def dedup_semantic_clusters(spark, sf_dir):
    """Connected components over the embedding-cosine near-dup graph —
    semantic dedup (same meaning, different words), the companion to the
    lexical n-gram clustering. Reuses the iterative min-label
    propagation; one shuffle per round, lineage truncated per round."""
    pairs = similarity.cosine_neardup_pairs(_emb(spark, sf_dir), TAU_COS)
    return (
        dedup.duplicate_clusters(pairs, id1="v1", id2="v2")
        .withColumnRenamed("doc_id", "vec_id")
    )


def dedup_semantic_clusters_oracle() -> str:
    quant = _QUANT_CTE
    return (
        f"WITH RECURSIVE {quant}, "
        "p AS (SELECT a.vec_id AS v1, b.vec_id AS v2 "
        "FROM n a JOIN n b ON a.vec_id < b.vec_id "
        f"WHERE list_dot_product(a.qv, b.qv) / sqrt(a.n2 * b.n2) >= {TAU_COS!r}), "
        "e AS (SELECT v1 AS a, v2 AS b FROM p UNION ALL "
        "SELECT v2 AS a, v1 AS b FROM p), "
        "walk(node, label) AS ("
        "SELECT a, a FROM (SELECT DISTINCT a FROM e) "
        "UNION "
        "SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node) "
        "SELECT node AS vec_id, min(label) AS cluster_id FROM walk GROUP BY node"
    )


def dedup_semantic_clusters_lsh(spark, sf_dir):
    """Semantic dedup clustering fed by the LSH candidate generator —
    the SCALE path: edges come from the banded-hyperplane collision
    equi-join (exact-cosine-verified, similarity.lsh_neardup_pairs over
    the pinned band table), not the all-pairs cross join. At 100 TB the
    all-pairs form is O(n^2) in corpus size; this plan's edge discovery
    is one equi-join whose candidate volume shrinks ~2^bits per band,
    at a measured ~95-98% pair recall (the delta is recorded in
    PLANS.md). Clustering is the same iterative min-label propagation.
    Plan shape is pinned by tests/test_semantic_lsh.py: no
    CartesianProduct / nested-loop join anywhere in the edge plan."""
    pairs = similarity.lsh_neardup_pairs(
        _emb(spark, sf_dir), TAU_COS,
        bands=_pinned_ann(spark, sf_dir)["bands"],
    )
    return (
        dedup.duplicate_clusters(pairs, id1="d1", id2="d2")
        .withColumnRenamed("doc_id", "vec_id")
    )


def dedup_semantic_clusters_lsh_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT vec_id, qv, n2, {b} AS band, {expr} AS bucket FROM n"
        for b, expr in enumerate(similarity.band_buckets_duckdb())
    )
    return (
        f"WITH RECURSIVE {_QUANT_CTE}, "
        f"bk AS ({bands}), "
        "cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2 "
        "FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket "
        "AND a.vec_id < b.vec_id), "
        "p AS (SELECT d1 AS v1, d2 AS v2 FROM cand "
        "JOIN n x ON x.vec_id = d1 JOIN n y ON y.vec_id = d2 "
        f"WHERE list_dot_product(x.qv, y.qv) / sqrt(x.n2 * y.n2) >= {TAU_COS!r}), "
        "e AS (SELECT v1 AS a, v2 AS b FROM p UNION ALL "
        "SELECT v2 AS a, v1 AS b FROM p), "
        "walk(node, label) AS ("
        "SELECT a, a FROM (SELECT DISTINCT a FROM e) "
        "UNION "
        "SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node) "
        "SELECT node AS vec_id, min(label) AS cluster_id FROM walk GROUP BY node"
    )


QUERIES["dedup_semantic_clusters"] = dedup_semantic_clusters
ORACLES["dedup_semantic_clusters"] = dedup_semantic_clusters_oracle()
QUERIES["dedup_semantic_clusters_lsh"] = dedup_semantic_clusters_lsh
ORACLES["dedup_semantic_clusters_lsh"] = dedup_semantic_clusters_lsh_oracle()


# ------------------------------------------------------------ media features

def media_features(spark, sf_dir):
    return multimodal.media_features(_docs(spark, sf_dir))


def media_features_oracle() -> str:
    vowels = " + ".join(
        f"(length(text) - length(replace(text, '{v}', '')))"
        for v in "aeiou"
    )
    return (
        "SELECT doc_id, "
        "CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes, "
        "CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_space, "
        f"CAST({vowels} AS BIGINT) AS n_vowel, "
        "md5(text) AS payload_md5 FROM documents"
    )


QUERIES["media_features"] = media_features
ORACLES["media_features"] = media_features_oracle()


# --------------------------------------------------------- multi-probe IVF

def ann_ivf_multiprobe_topk(spark, sf_dir):
    from ds_jedai_spark.operators.similarity import ivf_multiprobe_topk

    art = _pinned_ann(spark, sf_dir)
    return ivf_multiprobe_topk(
        _emb(spark, sf_dir), cent=art["cent"], cells=art["cells"]
    )


def ann_ivf_multiprobe_topk_oracle() -> str:
    return (
        f"{_kmeans_cte()}, "
        "probe AS (SELECT vec_id AS qid, cid AS cell FROM ("
        "SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY d2, cid) AS rn FROM scF) WHERE rn <= 2 AND qid % 50 = 0), "
        "nn AS (SELECT vec_id, qv, cid, list_dot_product(qv, qv) AS n2 FROM aF), "
        "scored AS (SELECT p.qid, b.vec_id AS vid, "
        "list_dot_product(a.qv, b.qv) / sqrt(a2.n2 * b.n2) AS cos "
        "FROM probe p JOIN qe a ON a.vec_id = p.qid "
        "JOIN nn a2 ON a2.vec_id = p.qid "
        "JOIN nn b ON b.cid = p.cell AND b.vec_id <> p.qid) "
        "SELECT qid, vid, cos FROM (SELECT qid, vid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, vid) AS rn FROM scored) WHERE rn <= 3"
    )


QUERIES["ann_ivf_multiprobe_topk"] = ann_ivf_multiprobe_topk
ORACLES["ann_ivf_multiprobe_topk"] = ann_ivf_multiprobe_topk_oracle()


# ------------------------------ substring-level dedup (duplicated spans)

DUPSPAN_K = 8  # Lee-et-al-style min duplicated run length, in words

# Shared oracle prefix: positional k-grams over the empty-filtered word
# array, occurrence counts + canonical-first key per gram (doc_id*1e9+pos
# orders exactly like the Spark min(struct(doc_id,pos)) because pos is
# always < 1e9), redundant occurrences, and the per-doc gaps-and-islands
# merge into maximal spans.
_DUPSPAN_CTE = (
    "warr AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x <> '') AS arr FROM documents), "
    "g0 AS (SELECT doc_id, unnest(list_transform("
    f"range(1, CASE WHEN len(arr) >= {DUPSPAN_K} THEN len(arr) - "
    f"{DUPSPAN_K - 2} ELSE 1 END), "
    "i -> {'pos': i, 'gram': array_to_string("
    f"arr[i:i+{DUPSPAN_K - 1}], '_')}})) AS pg FROM warr), "
    "g AS (SELECT doc_id, pg.pos AS pos, pg.gram AS gram FROM g0), "
    "dup AS (SELECT gram, min(doc_id * 1000000000 + pos) AS fk FROM g "
    "GROUP BY gram HAVING count(*) >= 2), "
    "red AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram) "
    "WHERE g.doc_id * 1000000000 + g.pos <> dup.fk), "
    "isl AS (SELECT doc_id, pos, "
    f"pos + {DUPSPAN_K - 1} AS e, CASE WHEN "
    f"max(pos + {DUPSPAN_K - 1}) OVER w IS NULL OR pos > "
    f"max(pos + {DUPSPAN_K - 1}) OVER w + 1 THEN 1 ELSE 0 END AS nw "
    "FROM red WINDOW w AS (PARTITION BY doc_id ORDER BY pos "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
    "num AS (SELECT doc_id, pos, e, sum(nw) OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS island FROM isl), "
    "spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, "
    "CAST(max(e) AS BIGINT) AS span_end, count(*) AS n_grams "
    "FROM num GROUP BY doc_id, island)"
)


def text_dup_spans(spark, sf_dir):
    """Cross-document substring dedup: maximal redundant >=8-word spans
    (Lee et al. 2022 keep-one semantics) over the documents table."""
    return textops.duplicated_spans(_docs(spark, sf_dir), DUPSPAN_K).select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        "n_grams",
    )


def text_dup_spans_oracle() -> str:
    return (
        f"WITH {_DUPSPAN_CTE} "
        "SELECT doc_id, span_start, span_end, n_grams FROM spans"
    )


def text_span_scrub(spark, sf_dir):
    """Keep-first substring scrub output: per-doc word drop counts plus
    the md5 of the scrubbed byte stream."""
    return textops.scrub_duplicated_spans(_docs(spark, sf_dir), DUPSPAN_K)


def text_span_scrub_oracle() -> str:
    return (
        f"WITH {_DUPSPAN_CTE}, "
        "spl AS (SELECT doc_id, list([span_start, span_end]) AS sp "
        "FROM spans GROUP BY doc_id), "
        "j AS (SELECT w.doc_id, w.arr, "
        "coalesce(spl.sp, CAST([] AS BIGINT[][])) AS sp "
        "FROM warr w LEFT JOIN spl USING (doc_id)), "
        # coalesce: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
        "k AS (SELECT doc_id, arr, coalesce(array_to_string(list_filter(arr, "
        "(x, i) -> len(list_filter(sp, s -> i >= s[1] AND i <= s[2])) = 0"
        "), ' '), '') AS clean FROM j) "
        "SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_words, "
        "CAST(len(arr) - len(string_split(clean, ' ')) + "
        "CASE WHEN clean = '' THEN 1 ELSE 0 END AS BIGINT) AS n_dropped, "
        "CAST(length(clean) AS BIGINT) AS len_clean, "
        "md5(clean) AS clean_md5 FROM k"
    )


QUERIES["text_dup_spans"] = text_dup_spans
ORACLES["text_dup_spans"] = text_dup_spans_oracle()
QUERIES["text_span_scrub"] = text_span_scrub
ORACLES["text_span_scrub"] = text_span_scrub_oracle()


# ----------------------------------------- relevance scoring (round 17)


def text_tfidf_top(spark, sf_dir):
    return textops.tfidf_top(_docs(spark, sf_dir))


def text_tfidf_top_oracle() -> str:
    s = textops.SCORE_SCALE
    return (
        f"WITH {_WORDS_CTE}, "
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2), "
        "dfq AS (SELECT word, count(*) AS df FROM "
        "(SELECT DISTINCT doc_id, word FROM w) GROUP BY word), "
        "nd AS (SELECT count(*) AS n_docs FROM documents), "
        "sc AS (SELECT doc_id, word, tf, df, "
        "CAST(tf AS DOUBLE) * ((CAST(n_docs AS DOUBLE) + 1.0e0) / "
        "(CAST(df AS DOUBLE) + 1.0e0)) AS score "
        "FROM tf JOIN dfq USING (word) CROSS JOIN nd), "
        "top AS (SELECT doc_id, word, tf, df, score, row_number() OVER ("
        "PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn FROM sc) "
        "SELECT d.doc_id, coalesce(t.word, '') AS top_term, "
        "CAST(coalesce(t.tf, 0) AS BIGINT) AS top_tf, "
        "CAST(coalesce(t.df, 0) AS BIGINT) AS top_df, "
        f"coalesce(CAST(round(t.score * {float(s)!r}) AS BIGINT), 0) "
        "AS tfidf_micro "
        "FROM documents d LEFT JOIN (SELECT * FROM top WHERE rn = 1) t "
        "USING (doc_id)"
    )


def text_bm25(spark, sf_dir):
    return textops.bm25(_docs(spark, sf_dir))


def text_bm25_oracle() -> str:
    t = textops
    terms = t.BM25_QUERY
    k1, b, s = t.BM25_K1, t.BM25_B, t.SCORE_SCALE
    in_list = ", ".join(f"'{x}'" for x in terms)
    tf_cols = ", ".join(
        f"sum(CASE WHEN word = '{x}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, x in enumerate(terms)
    )
    df_cols = ", ".join(
        f"count(DISTINCT CASE WHEN word = '{x}' THEN doc_id END) AS df_{i}"
        for i, x in enumerate(terms)
    )
    co = ", ".join(
        f"coalesce(tf_{i}, 0) AS tf_{i}" for i in range(len(terms))
    )
    avgdl = "(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    norm = f"{k1!r}e0 * ({1.0 - b!r}e0 + {b!r}e0 * (CAST(dl AS DOUBLE) / {avgdl}))"
    s_terms = []
    hit_terms = []
    for i in range(len(terms)):
        idf = (
            f"(CAST(n_docs - df_{i} AS DOUBLE) + 0.5e0) / "
            f"(CAST(df_{i} AS DOUBLE) + 0.5e0) + 1.0e0"
        )
        s_terms.append(
            f"CASE WHEN tf_{i} > 0 THEN ({idf}) * "
            f"(CAST(tf_{i} AS DOUBLE) * {k1 + 1.0!r}e0) / "
            f"(CAST(tf_{i} AS DOUBLE) + {norm}) ELSE 0.0e0 END"
        )
        hit_terms.append(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)")
    score = "0.0e0 + " + " + ".join(f"({x})" for x in s_terms)
    return (
        f"WITH {_WORDS_CTE}, "
        "base AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), "
        "x -> x <> '')) AS BIGINT) AS dl FROM documents), "
        f"tfs AS (SELECT doc_id, {tf_cols} FROM w WHERE word IN ({in_list}) "
        "GROUP BY doc_id), "
        "stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM base), "
        f"dfs AS (SELECT {df_cols} FROM w), "
        f"tt AS (SELECT b.doc_id, b.dl, {co}, n_docs, total_dl, "
        + ", ".join(f"df_{i}" for i in range(len(terms)))
        + " FROM base b LEFT JOIN tfs USING (doc_id) "
        "CROSS JOIN stats CROSS JOIN dfs) "
        f"SELECT doc_id, dl, CAST({' + '.join(hit_terms)} AS BIGINT) AS n_hit, "
        f"CAST(round(({score}) * {float(s)!r}) AS BIGINT) AS bm25_micro FROM tt"
    )


QUERIES["text_tfidf_top"] = text_tfidf_top
ORACLES["text_tfidf_top"] = text_tfidf_top_oracle()
QUERIES["text_bm25"] = text_bm25
ORACLES["text_bm25"] = text_bm25_oracle()


# -------------------------------- entity-resolution meta-blocking (r17)

# One pinned meta-blocking pair graph per (session, sf_dir): the three
# pruning-scheme gate tags share it.
def _er_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_jedai_spark.operators import blocking

    def build():
        bi = _pinned_shingles(spark, sf_dir).select(
            "doc_id", F.col("shingle").alias("key")
        )
        return pins.pin(blocking.weighted_pairs(blocking.purge_blocks(bi)))

    return pins.cached(spark, "er", sf_dir, build)


def er_wep_pairs(spark, sf_dir):
    from ds_jedai_spark.operators import blocking

    return blocking.wep(_er_graph(spark, sf_dir))


def er_wnp_pairs(spark, sf_dir):
    from ds_jedai_spark.operators import blocking

    return blocking.wnp(_er_graph(spark, sf_dir))


def er_cnp_pairs(spark, sf_dir):
    from ds_jedai_spark.operators import blocking

    return blocking.cnp(_er_graph(spark, sf_dir))


def _er_cte() -> str:
    from ds_jedai_spark.operators import blocking

    return (
        f"{_SHINGLE_CTE}, "
        "bs AS (SELECT shingle, count(*) AS c FROM d GROUP BY shingle), "
        "kb AS (SELECT doc_id, shingle FROM d JOIN (SELECT shingle FROM bs "
        f"WHERE c >= 2 AND c <= {blocking.PURGE_MAX}) USING (shingle)), "
        "en AS (SELECT doc_id, count(*) AS nb FROM kb GROUP BY doc_id), "
        "cb AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cbs "
        "FROM kb a JOIN kb b USING (shingle) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2), "
        "wg AS (SELECT d1, d2, cbs, n1, n2, "
        "CAST(cbs AS DOUBLE) / CAST(n1 + n2 - cbs AS DOUBLE) AS js FROM cb "
        "JOIN (SELECT doc_id AS d1, nb AS n1 FROM en) USING (d1) "
        "JOIN (SELECT doc_id AS d2, nb AS n2 FROM en) USING (d2))"
    )


def er_wep_pairs_oracle() -> str:
    return (
        f"WITH {_er_cte()}, "
        "gs AS (SELECT sum(cbs) AS tot, count(*) AS m FROM wg) "
        "SELECT d1, d2, cbs, n1, n2, js FROM wg CROSS JOIN gs "
        "WHERE cbs * m >= tot"
    )


def er_wnp_pairs_oracle() -> str:
    return (
        f"WITH {_er_cte()}, "
        "ew AS (SELECT d1 AS id, cbs FROM wg UNION ALL "
        "SELECT d2 AS id, cbs FROM wg), "
        "th AS (SELECT id, sum(cbs) AS tot, count(*) AS m FROM ew GROUP BY id) "
        "SELECT d1, d2, cbs, n1, n2, js FROM wg "
        "JOIN (SELECT id AS d1, tot AS t1, m AS m1 FROM th) USING (d1) "
        "JOIN (SELECT id AS d2, tot AS t2, m AS m2 FROM th) USING (d2) "
        "WHERE cbs * m1 >= t1 OR cbs * m2 >= t2"
    )


def er_cnp_pairs_oracle() -> str:
    from ds_jedai_spark.operators import blocking

    return (
        f"WITH {_er_cte()}, "
        "dir0 AS (SELECT d1 AS id, d2 AS other, cbs FROM wg UNION ALL "
        "SELECT d2 AS id, d1 AS other, cbs FROM wg), "
        "rk AS (SELECT id, other, row_number() OVER (PARTITION BY id "
        "ORDER BY cbs DESC, other ASC) AS rn FROM dir0), "
        "keep AS (SELECT DISTINCT least(id, other) AS d1, "
        f"greatest(id, other) AS d2 FROM rk WHERE rn <= {blocking.CNP_K}) "
        "SELECT w.d1, w.d2, cbs, n1, n2, js FROM wg w JOIN keep "
        "USING (d1, d2)"
    )


QUERIES["er_wep_pairs"] = er_wep_pairs
ORACLES["er_wep_pairs"] = er_wep_pairs_oracle()
QUERIES["er_wnp_pairs"] = er_wnp_pairs
ORACLES["er_wnp_pairs"] = er_wnp_pairs_oracle()
QUERIES["er_cnp_pairs"] = er_cnp_pairs
ORACLES["er_cnp_pairs"] = er_cnp_pairs_oracle()


def er_cep_pairs(spark, sf_dir):
    from ds_jedai_spark.operators import blocking

    return blocking.cep(_er_graph(spark, sf_dir))


def er_cep_pairs_oracle() -> str:
    from ds_jedai_spark.operators import blocking

    return (
        f"WITH {_er_cte()} "
        "SELECT d1, d2, cbs, n1, n2, js FROM wg "
        f"ORDER BY cbs DESC, d1, d2 LIMIT {blocking.CEP_K}"
    )


def er_snb_pairs(spark, sf_dir):
    from ds_jedai_spark.operators import blocking

    return blocking.sorted_neighborhood(_corpus(spark, sf_dir))


def er_snb_pairs_oracle() -> str:
    from ds_jedai_spark.operators import blocking

    return blocking.snb_sql(f"corpus AS ({textops.CORPUS_SQL})")


def dedup_edit_distance(spark, sf_dir):
    return dedup.edit_distance_pairs(_corpus(spark, sf_dir))


def dedup_edit_distance_oracle() -> str:
    return dedup.edit_distance_sql(f"corpus AS ({textops.CORPUS_SQL})")


def er_bf_pairs(spark, sf_dir):
    """Meta-blocking with BLOCK FILTERING engaged (each entity keeps the
    ceil(4/5 * n) smallest of its purged blocks) before the pair graph,
    then weighted node pruning — the full efficiency pipeline of the
    meta-blocking papers."""
    from ds_jedai_spark.operators import blocking

    bi = _pinned_shingles(spark, sf_dir).select(
        "doc_id", F.col("shingle").alias("key")
    )
    fi = blocking.block_filtering(blocking.purge_blocks(bi))
    return blocking.wnp(blocking.weighted_pairs(fi))


def er_bf_pairs_oracle() -> str:
    from ds_jedai_spark.operators import blocking

    p, q = 4, 5
    return (
        f"WITH {_SHINGLE_CTE}, "
        "bs AS (SELECT shingle, count(*) AS c FROM d GROUP BY shingle), "
        "kb AS (SELECT doc_id, shingle FROM d JOIN (SELECT shingle FROM bs "
        f"WHERE c >= 2 AND c <= {blocking.PURGE_MAX}) USING (shingle)), "
        "kr AS (SELECT doc_id, shingle, "
        "row_number() OVER (PARTITION BY doc_id ORDER BY bsz ASC, "
        "shingle ASC) AS rn, "
        "count(*) OVER (PARTITION BY doc_id) AS nbl "
        "FROM (SELECT k.doc_id, k.shingle, s.bsz FROM kb k JOIN "
        "(SELECT shingle, count(*) AS bsz FROM kb GROUP BY shingle) s "
        "USING (shingle))), "
        f"kf AS (SELECT doc_id, shingle FROM kr WHERE rn * {q} <= "
        f"{p} * nbl + {q - 1}), "
        "en AS (SELECT doc_id, count(*) AS nb FROM kf GROUP BY doc_id), "
        "cb AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS cbs "
        "FROM kf a JOIN kf b USING (shingle) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2), "
        "wg AS (SELECT d1, d2, cbs, n1, n2, "
        "CAST(cbs AS DOUBLE) / CAST(n1 + n2 - cbs AS DOUBLE) AS js FROM cb "
        "JOIN (SELECT doc_id AS d1, nb AS n1 FROM en) USING (d1) "
        "JOIN (SELECT doc_id AS d2, nb AS n2 FROM en) USING (d2)), "
        "ew AS (SELECT d1 AS id, cbs FROM wg UNION ALL "
        "SELECT d2 AS id, cbs FROM wg), "
        "th AS (SELECT id, sum(cbs) AS tot, count(*) AS m FROM ew GROUP BY id) "
        "SELECT d1, d2, cbs, n1, n2, js FROM wg "
        "JOIN (SELECT id AS d1, tot AS t1, m AS m1 FROM th) USING (d1) "
        "JOIN (SELECT id AS d2, tot AS t2, m AS m2 FROM th) USING (d2) "
        "WHERE cbs * m1 >= t1 OR cbs * m2 >= t2"
    )


def er_cc_pairs(spark, sf_dir):
    """CLEAN-CLEAN ER over the corpus parity split (even doc_ids =
    dataset L, odd = dataset R): candidates only across the two
    datasets, block sizes counted over both (the multi-source purge
    rule), weighted node pruning. (d1, d2) = (left id, right id)."""
    from ds_jedai_spark.operators import blocking

    c = _corpus(spark, sf_dir)
    return blocking.er_pairs_cross(
        c.where("doc_id % 2 = 0"), c.where("doc_id % 2 = 1")
    )


def er_cc_pairs_oracle() -> str:
    from ds_jedai_spark.operators import blocking

    return (
        f"WITH {_SHINGLE_CTE}, "
        "bs AS (SELECT shingle, count(*) AS c FROM d GROUP BY shingle), "
        "kb AS (SELECT doc_id, shingle FROM d JOIN (SELECT shingle FROM bs "
        f"WHERE c >= 2 AND c <= {blocking.PURGE_MAX}) USING (shingle)), "
        "en AS (SELECT doc_id, count(*) AS nb FROM kb GROUP BY doc_id), "
        "cb AS (SELECT l.doc_id AS d1, r.doc_id AS d2, count(*) AS cbs "
        "FROM (SELECT * FROM kb WHERE doc_id % 2 = 0) l "
        "JOIN (SELECT * FROM kb WHERE doc_id % 2 = 1) r USING (shingle) "
        "GROUP BY 1, 2), "
        "wg AS (SELECT d1, d2, cbs, n1, n2, "
        "CAST(cbs AS DOUBLE) / CAST(n1 + n2 - cbs AS DOUBLE) AS js FROM cb "
        "JOIN (SELECT doc_id AS d1, nb AS n1 FROM en) USING (d1) "
        "JOIN (SELECT doc_id AS d2, nb AS n2 FROM en) USING (d2)), "
        "ew AS (SELECT d1 AS id, cbs FROM wg UNION ALL "
        "SELECT d2 AS id, cbs FROM wg), "
        "th AS (SELECT id, sum(cbs) AS tot, count(*) AS m FROM ew GROUP BY id) "
        "SELECT d1, d2, cbs, n1, n2, js FROM wg "
        "JOIN (SELECT id AS d1, tot AS t1, m AS m1 FROM th) USING (d1) "
        "JOIN (SELECT id AS d2, tot AS t2, m AS m2 FROM th) USING (d2) "
        "WHERE cbs * m1 >= t1 OR cbs * m2 >= t2"
    )


def er_snb_cc_pairs(spark, sf_dir):
    """Clean-clean sorted-neighborhood over the corpus parity split —
    one sorted sequence per pass, pairs only across the two sides."""
    from ds_jedai_spark.operators import blocking

    c = _corpus(spark, sf_dir)
    return blocking.sorted_neighborhood_cross(
        c.where("doc_id % 2 = 0"), c.where("doc_id % 2 = 1")
    )


def er_snb_cc_pairs_oracle() -> str:
    from ds_jedai_spark.operators import blocking

    return blocking.snb_cross_sql(
        "doc_id % 2 = 0", "doc_id % 2 = 1",
        f"corpus AS ({textops.CORPUS_SQL})",
    )


QUERIES["er_snb_cc_pairs"] = er_snb_cc_pairs
ORACLES["er_snb_cc_pairs"] = er_snb_cc_pairs_oracle()
QUERIES["er_cc_pairs"] = er_cc_pairs
ORACLES["er_cc_pairs"] = er_cc_pairs_oracle()


def er_clusters(spark, sf_dir):
    """END-TO-END entity resolution: meta-blocking candidates (block
    purging + CBS pair graph + weighted node pruning) -> connected
    components (large-star/small-star contraction) -> entity clusters.
    (doc_id, cluster_id = component-minimum id) for every entity that
    survived pruning with at least one candidate."""
    from ds_jedai_spark.operators.clustering import connected_components_star

    pairs = er_wnp_pairs(spark, sf_dir).select("d1", "d2")
    cc = connected_components_star(pairs)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def er_clusters_oracle() -> str:
    return (
        f"WITH RECURSIVE {_er_cte()}, "
        "ew AS (SELECT d1 AS id, cbs FROM wg UNION ALL "
        "SELECT d2 AS id, cbs FROM wg), "
        "th AS (SELECT id, sum(cbs) AS tot, count(*) AS m FROM ew GROUP BY id), "
        "kept AS (SELECT d1, d2 FROM wg "
        "JOIN (SELECT id AS d1, tot AS t1, m AS m1 FROM th) USING (d1) "
        "JOIN (SELECT id AS d2, tot AS t2, m AS m2 FROM th) USING (d2) "
        "WHERE cbs * m1 >= t1 OR cbs * m2 >= t2), "
        "e AS (SELECT d1 AS a, d2 AS b FROM kept UNION ALL "
        "SELECT d2 AS a, d1 AS b FROM kept), "
        "walk(node, label) AS ("
        "SELECT a, a FROM (SELECT DISTINCT a FROM e) "
        "UNION "
        "SELECT e.a, w.label FROM e JOIN walk w ON e.b = w.node) "
        "SELECT node AS doc_id, min(label) AS cluster_id FROM walk "
        "GROUP BY node"
    )


QUERIES["er_clusters"] = er_clusters
ORACLES["er_clusters"] = er_clusters_oracle()
QUERIES["er_bf_pairs"] = er_bf_pairs
ORACLES["er_bf_pairs"] = er_bf_pairs_oracle()
QUERIES["er_cep_pairs"] = er_cep_pairs
ORACLES["er_cep_pairs"] = er_cep_pairs_oracle()
QUERIES["er_snb_pairs"] = er_snb_pairs
ORACLES["er_snb_pairs"] = er_snb_pairs_oracle()
QUERIES["dedup_edit_distance"] = dedup_edit_distance
ORACLES["dedup_edit_distance"] = dedup_edit_distance_oracle()
