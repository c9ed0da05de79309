"""LSH-fed semantic dedup: plan shape, pin reuse, cross-corpus split,
and PQ recall invariants.

The scale contract under test: no discovery path in the embedding-dedup
family may contain a cartesian/nested-loop join (the all-pairs cosine
generator is ONLY the labeled oracle baseline), and the cross-corpus
path must read the index side from the pinned band table rather than
re-encoding it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ds_jedai_spark.operators import dedup, similarity
from ds_jedai_spark.plans import pipeline_plans as pl
from tests.conftest import SF_SMALL


def _emb(spark):
    return pl._emb(spark, SF_SMALL)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _no_cartesian(df) -> None:
    plan = _optimized_plan(df)
    for bad in ("Join Cross", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"quadratic join in plan: {bad}\n{plan}"


def test_lsh_neardup_plan_has_no_cartesian(spark):
    pairs = similarity.lsh_neardup_pairs(_emb(spark), pl.TAU_COS)
    _no_cartesian(pairs)


def test_semantic_clusters_lsh_edges_match_direct_lsh(spark):
    """The gate's LSH-fed clustering labels every LSH-pair endpoint and
    respects the edge set: endpoints of a verified pair share a label."""
    emb = _emb(spark)
    pairs = similarity.lsh_neardup_pairs(emb, pl.TAU_COS)
    _no_cartesian(pairs)
    labels = dedup.duplicate_clusters(pairs, id1="d1", id2="d2")
    lab = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    edges = pairs.select("d1", "d2").collect()
    assert edges, "expected LSH pairs at sf0.001"
    for r in edges:
        assert lab[r["d1"]] == lab[r["d2"]]
    # cluster id is the minimum member id (min-label propagation)
    by_cluster: dict[int, list[int]] = {}
    for node, c in lab.items():
        by_cluster.setdefault(c, []).append(node)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_lsh_recall_vs_allpairs(spark):
    """LSH pair recall vs the exact all-pairs baseline stays above the
    banding-analysis floor (the measured delta goes to PLANS.md)."""
    emb = _emb(spark)
    exact = {
        (r["v1"], r["v2"])
        for r in similarity.cosine_neardup_pairs(emb, pl.TAU_COS)
        .select("v1", "v2").collect()
    }
    got = {
        (r["d1"], r["d2"])
        for r in similarity.lsh_neardup_pairs(emb, pl.TAU_COS)
        .select("d1", "d2").collect()
    }
    assert got <= exact  # verification guarantees no false positives
    assert exact, "expected exact pairs at sf0.001"
    recall = len(got) / len(exact)
    assert recall >= 0.8, f"LSH recall collapsed: {recall:.3f}"


def test_verify_join_tier_matches_broadcast_tier(spark, monkeypatch):
    """Exact-cosine verification has two tiers: a broadcast gather below
    VERIFY_BROADCAST_CAP and an equi-join above it. Lowering the cap
    below the corpus size forces the join tier, whose rows must equal
    the broadcast tier's, and the over-cap probe must not gather."""
    emb = _emb(spark)
    qe = similarity.quantized(emb)
    n = emb.count()
    cand = similarity.lsh_band_table(emb).alias("a").join(
        similarity.lsh_band_table(emb).alias("b"), ["band", "bucket"]
    ).where("a.vec_id < b.vec_id").selectExpr(
        "a.vec_id AS d1", "b.vec_id AS d2"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.select("d1", "d2", "cos")
                      .collect())

    assert similarity.gather_quantized(qe) is not None
    bc_pairs = rows(similarity.lsh_neardup_pairs(emb, pl.TAU_COS))
    bc_dup = rows(similarity._cosine_verify_pairs(cand, qe, pl.TAU_COS))
    monkeypatch.setattr(similarity, "VERIFY_BROADCAST_CAP", n - 1)
    assert similarity.gather_quantized(qe) is None
    assert rows(similarity.lsh_neardup_pairs(emb, pl.TAU_COS)) == bc_pairs
    assert rows(
        similarity._cosine_verify_pairs(cand, qe, pl.TAU_COS)
    ) == bc_dup
    assert bc_pairs and bc_dup


def test_cross_pairs_read_index_from_pin_not_reencode(spark):
    """lsh_neardup_pairs_cross must take index candidates from the
    provided band table: removing a vector's bands from the pin removes
    all its pairs even though the vector is still in index_emb."""
    emb = _emb(spark)
    batch = emb.where(F.col("vec_id") % 2 == 0)
    index = emb.where(F.col("vec_id") % 2 == 1)
    bands = similarity.pin_bands(index)
    full = similarity.lsh_neardup_pairs_cross(
        batch, index, pl.TAU_COS, index_bands=bands
    )
    rows = full.collect()
    assert rows, "expected cross pairs at sf0.001"
    victim = rows[0]["d2"]
    pruned = similarity.lsh_neardup_pairs_cross(
        batch, index, pl.TAU_COS,
        index_bands=bands.where(F.col("vec_id") != victim),
    )
    got = pruned.select("d2").distinct().collect()
    assert victim not in {r["d2"] for r in got}


def test_cross_pairs_have_no_within_side_pairs(spark):
    emb = _emb(spark)
    df = pl.dedup_embedding_cross(spark, SF_SMALL)
    _no_cartesian(df)
    for r in df.collect():
        assert r["d1"] % 2 == 0 and r["d2"] % 2 == 1


def test_cross_pairs_equal_filtered_self_join(spark):
    """Cross output == the (even, odd) slice of the self-join LSH pairs
    (orientation-normalized): the incremental path loses nothing."""
    emb = _emb(spark)
    full = {
        (r["d1"], r["d2"])
        for r in similarity.lsh_neardup_pairs(emb, pl.TAU_COS)
        .select("d1", "d2").collect()
    }
    want = {
        (a, b) if a % 2 == 0 else (b, a)
        for a, b in full
        if (a % 2) != (b % 2)
    }
    got = {
        (r["d1"], r["d2"])
        for r in pl.dedup_embedding_cross(spark, SF_SMALL)
        .select("d1", "d2").collect()
    }
    assert got == want


def test_pq_recall_invariants(spark):
    row = pl.ann_pq_recall(spark, SF_SMALL).collect()[0]
    assert row["n_truth"] == 50  # 10 queries x k=5
    assert 0.0 <= row["adc_recall"] <= 1.0
    assert row["rerank_recall"] >= row["adc_recall"], (
        "rerank must dominate raw ADC"
    )
    # floor calibrated at sf0.001 (measured 0.46 with the 8-codeword,
    # 4-sub-block toy index; larger corpora score higher)
    assert row["rerank_recall"] >= 0.3, "PQ rerank recall collapsed"


@pytest.mark.parametrize("tag", ["allpairs", "lsh"])
def test_gate_semantic_cluster_tags_nonempty(spark, tag):
    import __spark_entry__ as entry

    df = entry.queries()["dedup_semantic_clusters"](spark, SF_SMALL)
    n = df.where(F.col("q") == tag).count()
    assert n > 0


def test_auto_lsh_params_policy():
    from ds_jedai_spark.operators.similarity import auto_lsh_params

    b1, k1 = auto_lsh_params(2_000, 0.9)
    b2, k2 = auto_lsh_params(20_000, 0.9)
    b3, k3 = auto_lsh_params(2_000_000, 0.9)
    assert k1 <= k2 <= k3 <= 16  # bits grow with corpus size, capped
    assert all(b >= 1 for b in (b1, b2, b3))
    # a tighter threshold needs fewer bands at the same bits
    bl, kl = auto_lsh_params(20_000, 0.95)
    bh, kh = auto_lsh_params(20_000, 0.8)
    assert kl == kh == k2 and bl <= b2 <= bh
    # tiny corpus floors at 2 bits
    assert auto_lsh_params(10, 0.9)[1] == 2


def test_lsh_auto_params_count_the_corpus_once(spark, monkeypatch):
    """n_bands='auto' counts the corpus for auto_lsh_params and passes
    that count on to pin_bands, so the corpus is counted once, not
    twice. A pin_bands given n_rows counts nothing."""
    emb = _emb(spark)
    counted = []
    real = type(emb).count

    def counting(self):
        counted.append(self is emb)
        return real(self)

    monkeypatch.setattr(type(emb), "count", counting)
    similarity.lsh_neardup_pairs(emb, pl.TAU_COS, n_bands="auto")
    assert counted.count(True) == 1
    counted.clear()
    similarity.pin_bands(emb, n_rows=10)
    assert counted.count(True) == 0


def test_lsh_scaled_params_exact_clones_complete(spark):
    """With corpus-scaled parameters, exact clones (cos = 1.0) are
    always found — identical vectors share every band bucket no matter
    the (bands, bits) choice — and every reported pair still passes
    exact verification (subset of the brute-force pairs)."""
    from ds_jedai_spark.operators.similarity import (
        auto_lsh_params,
        cosine_neardup_pairs,
        lsh_neardup_pairs,
    )

    emb = _emb(spark)
    clones = 3
    rep = spark.range(clones).select(F.col("id").alias("rep"))
    cloned = emb.crossJoin(rep).select(
        (F.col("vec_id") * clones + F.col("rep")).alias("vec_id"),
        "label",
        "embedding",
    )
    n = cloned.count()
    bands, bits = auto_lsh_params(n, 0.9)
    got = {
        (r["d1"], r["d2"])
        for r in lsh_neardup_pairs(cloned, 0.9, n_bands=bands, n_bits=bits)
        .select("d1", "d2").collect()
    }
    exact = {
        (r["v1"], r["v2"])
        for r in cosine_neardup_pairs(cloned, 0.9)
        .select("v1", "v2").collect()
    }
    assert got <= exact
    base = emb.count()
    clone_pairs = {
        (v * clones + i, v * clones + j)
        for v in range(base)
        for i in range(clones)
        for j in range(i + 1, clones)
    }
    assert clone_pairs <= got  # cos=1.0 pairs always collide


def test_auto_ivf_cells_policy_and_clone_neighbors(spark):
    from ds_jedai_spark.operators.similarity import (
        auto_ivf_cells,
        ivf_trained_topk,
        kmeans_assignments,
        train_centroids,
    )

    assert auto_ivf_cells(100) == 10
    assert auto_ivf_cells(20_000) == 141
    assert auto_ivf_cells(4) == 8      # floors at the toy default
    assert auto_ivf_cells(10**12) == 65536  # capped

    # clones land in the same cell (identical vectors assign
    # identically) and dominate each other's top-k at cos = 1.0
    emb = _emb(spark)
    clones = 3
    rep = spark.range(clones).select(F.col("id").alias("rep"))
    cloned = emb.crossJoin(rep).select(
        (F.col("vec_id") * clones + F.col("rep")).alias("vec_id"),
        "label",
        "embedding",
    )
    cells_n = auto_ivf_cells(cloned.count())
    cent = train_centroids(cloned, k=cells_n).localCheckpoint()
    cells = kmeans_assignments(cloned, cent=cent).select(
        "vec_id", "cid"
    ).localCheckpoint()
    cellmap = {r["vec_id"]: r["cid"] for r in cells.collect()}
    base = emb.count()
    for v in range(0, base, 97):
        group = {cellmap[v * clones + i] for i in range(clones)}
        assert len(group) == 1, f"clones of {v} split across cells"
    top = ivf_trained_topk(cloned, cent=cent, cells=cells)
    rows = top.collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, nbrs in by_q.items():
        # the query's 2 sibling clones are exact matches; top-k must
        # lead with cos = 1.0 entries
        assert nbrs[0:2] and all(
            abs(n["cos"] - 1.0) < 1e-12 for n in sorted(
                nbrs, key=lambda x: -x["cos"]
            )[: clones - 1]
        )


def test_simhash_two_word_scale_form(spark):
    """words=2 (64-bit, 16-bit bands) is exact within its guarantee:
    its output is the full hamming64 <= max set — a strict refinement
    of the 32-bit form — and exact clones (hamming 0) are complete."""
    from ds_jedai_spark.operators import dedup
    from ds_jedai_spark.plans.pipeline_plans import _corpus
    from tests.conftest import SF_SMALL

    corpus = _corpus(spark, SF_SMALL)
    clones = 3
    rep = spark.range(clones).select(F.col("id").alias("rep"))
    cloned = corpus.crossJoin(rep).select(
        (F.col("doc_id") * clones + F.col("rep")).alias("doc_id"), "text"
    )
    w1 = {
        (r["d1"], r["d2"])
        for r in dedup.simhash_pairs(cloned, 2).select("d1", "d2").collect()
    }
    w2 = {
        (r["d1"], r["d2"])
        for r in dedup.simhash_pairs(cloned, 2, words=2)
        .select("d1", "d2").collect()
    }
    # 64-bit hamming <= h implies the word-0 32-bit hamming <= h
    assert w2 <= w1
    # docs too short to shingle have no fingerprint at all — clone
    # completeness applies to the shingled docs
    from ds_jedai_spark.operators.textops import shingles

    shingled = {
        r["doc_id"] for r in shingles(corpus).select("doc_id")
        .distinct().collect()
    }
    clone_pairs = {
        (v * clones + i, v * clones + j)
        for v in shingled
        for i in range(clones)
        for j in range(i + 1, clones)
    }
    assert clone_pairs and clone_pairs <= w2  # identical fps band-match
    with pytest.raises(ValueError, match="words"):
        dedup.simhash_pairs(cloned, 2, words=3)


def test_cross_pairs_pin_metadata_guard(spark):
    """A pinned band table carries its own (bands, bits) stamp: a
    NON-DEFAULT pin + n_bands='auto' recovers the pin's parameters (same
    pairs as passing them explicitly); explicit ints that contradict the
    stamp raise; a stamp-less pin + 'auto' raises instead of silently
    hashing the batch with default hyperplanes (recall collapse)."""
    emb = _emb(spark)
    batch = emb.where(F.col("vec_id") % 2 == 0)
    index = emb.where(F.col("vec_id") % 2 == 1)
    nd_bands, nd_bits = 12, 3  # non-default (defaults are 8, 2)
    pin = similarity.pin_bands(index, bands=nd_bands, bits=nd_bits)
    assert {"lsh_bands", "lsh_bits"} <= set(pin.columns)

    explicit = similarity.lsh_neardup_pairs_cross(
        batch, index, pl.TAU_COS, index_bands=pin,
        n_bands=nd_bands, n_bits=nd_bits,
    ).collect()
    assert explicit, "expected cross pairs at sf0.001"
    auto = similarity.lsh_neardup_pairs_cross(
        batch, index, pl.TAU_COS, index_bands=pin, n_bands="auto",
    ).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))

    with pytest.raises(ValueError, match="pinned with"):
        similarity.lsh_neardup_pairs_cross(
            batch, index, pl.TAU_COS, index_bands=pin,
        ).collect()

    bare = pin.select("vec_id", "band", "bucket")  # stamp-less legacy pin
    with pytest.raises(ValueError, match="no .lsh_bands"):
        similarity.lsh_neardup_pairs_cross(
            batch, index, pl.TAU_COS, index_bands=bare, n_bands="auto",
        ).collect()


def test_auto_pq_params_policy():
    """M always divides dim (the slice layout drops remainder dims
    otherwise); k holds vectors-per-codeword ~constant, clamped to
    [KMEANS_K, 256] (one-byte codes)."""
    from ds_jedai_spark.operators.similarity import KMEANS_K, auto_pq_params

    for dim in (64, 768, 1536, 100, 12, 7):
        m, k = auto_pq_params(50_000, dim)
        assert dim % m == 0, (dim, m)
        assert m >= 1
    assert auto_pq_params(64, 64) == (8, KMEANS_K)        # tiny corpus
    assert auto_pq_params(10**8, 768)[1] == 256           # byte-code cap
    m, k = auto_pq_params(6400, 64)
    assert (m, k) == (8, 100)                             # n/64 codewords


def test_pq_pipeline_with_auto_params(spark):
    """The whole encode/ADC/rerank chain runs at a non-default (m, k):
    M is recovered from len(books), codes cover all m sub-blocks, and
    rerank recall with a scaled shortlist is at least as good as the
    gate's toy setting."""
    from ds_jedai_spark.operators import similarity as S

    emb = _emb(spark).localCheckpoint()
    n = emb.count()
    dim = len(emb.select("embedding").first()["embedding"])
    m, k = S.auto_pq_params(n, dim)
    assert (m, k) != (S.PQ_M, S.KMEANS_K)
    books = S.pin_codebooks(emb, k=k, m=m)
    assert len(books) == m
    codes = S.pin_codes(emb, books)
    assert codes.select("m").distinct().count() == m
    r = S.pq_recall(emb, books=books, codes=codes, shortlist=50).first()
    r0 = S.pq_recall(emb).first()
    assert r["rerank_recall"] >= r0["rerank_recall"]
