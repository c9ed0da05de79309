"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Beyond-reference training-data pipeline components (SURVEY.md §7 phase 5).
The blocked-join shape deliberately mirrors the engine's spatial tile
join: block (tile / band bucket / nibble) → equi-join → verify exactly —
the GIA.nt filter-verification paradigm applied to text.

Scale notes (100 TB):
- every join is an equi-join on a block key (Catalyst shuffle hash / AQE
  skew split); verification touches candidate pairs only (semi-join
  restriction of the shingle sets before the overlap count).
- hot shingles (stopword-like) are the skew risk; production would drop
  shingles with document frequency above a threshold before the inverted
  join — expressed here as an optional ``max_df`` filter.
- vocab dense_rank is the oracle-determinism path; production uses
  xxhash64 (see textops.vocab).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ds_jedai_spark.operators.textops import shingles, vocab
from ds_jedai_spark.pins import pin

MINHASH_P = 1000003


def pin_shingles(
    docs: DataFrame,
    table: str | None = None,
    buckets: int = 32,
) -> DataFrame:
    """Materialize the shared (doc_id, shingle) table for a dedup run.

    ``table=None`` is the single-job form (eager localCheckpoint, see
    ``pins.pin``). A ``table`` name is the multi-job form: the shingle
    table is written bucketed+sorted by the join key, so every later
    run — the inverted-index self-join in ``_overlap``, candidate
    verification, other dedup schemes sharing the corpus — re-joins on
    ``shingle`` with NO Exchange on the bucketed sides (Catalyst proves
    co-partitioning from the bucket spec; pinned by
    tests/test_bucketed.py). At 100 TB this is the layout a corpus that
    outlives one job should persist: the shingle explode and its
    shuffle are paid once, not per scheme per run."""
    return pin(shingles(docs), table, bucket_by=("shingle",), buckets=buckets)


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated text group."""
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("copies"))
        .where(F.col("copies") > 1)
        .select("keep_id", "copies")
    )


def _sizes(d: DataFrame) -> DataFrame:
    return d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))


def _overlap(d: DataFrame, max_df: int | None = None) -> DataFrame:
    """Inverted-index self-join: common-shingle counts per doc pair."""
    if max_df is not None:
        hot = (
            d.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        d = d.join(hot, "shingle", "left_semi")
    a = d.select(F.col("doc_id").alias("d1"), "shingle")
    b = d.select(F.col("doc_id").alias("d2"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"))
    )


# The md5-derived 48-bit shingle id every minhash/verification path
# keys on. Computed per (doc, shingle) row — so when a standing shingle
# table is pinned once and consumed many times, hoist it with _with_wid
# at pin time and every consumer reads the column instead of
# re-hashing (r17 optimization round: the bench's dedup lines paid this
# md5 pass 2-3x per run).
_WID_EXPR = "CAST(conv(substring(md5(shingle), 1, 12), 16, 10) AS BIGINT)"


def _with_wid(d: DataFrame) -> DataFrame:
    """Attach the 48-bit md5 shingle id as ``wid`` unless the frame
    already carries it (a wid-stamped pin)."""
    if "wid" in d.columns:
        return d
    return d.withColumn("wid", F.expr(_WID_EXPR))


def _hashed_shingles(d: DataFrame) -> DataFrame:
    """Verification representation of a shingle table: grams replaced by
    the md5-derived 48-bit ids the minhash signatures already use
    (map-side projection, bit-identical in Spark and DuckDB).

    Why: the LSH verification join's shuffle payload is (d1, d2,
    shingle) x ~|sh(d1)| rows per candidate pair — the binding resource
    of the clone-clique scale soaks (BENCH_SCALE lsh decade: c=100
    measured ENOSPC on 79 GB disk with gram STRINGS in r11). An 8-byte
    long per gram instead of a ~30-byte string roughly halves that
    stream; Jaccard over hashed grams is exact up to 48-bit collisions
    (expected colliding gram pairs ~ V^2 / 2^49: ~2e-4 for the 3e5
    distinct grams of the sf0.1 corpus, ~5e-3 at 1e7 grams — and a
    collision shifts one pair's count by 1, not the threshold set, on
    any realistic corpus). The column keeps the name ``shingle`` so
    every downstream join/size helper is representation-agnostic."""
    return _with_wid(d).select("doc_id", F.col("wid").alias("shingle"))


def _pair_common(cand: DataFrame, da: DataFrame, db: DataFrame) -> DataFrame:
    """Pair-keyed common-shingle counts for a candidate set: attach
    d1's shingles per pair, count matches with one (d2, shingle)
    equi-join — |cand| x |sh(d1)| + common rows, linear in candidates
    (the inverted per-shingle self-join squares hot posting lists; see
    minhash_lsh_pairs). Shared by every verified LSH path."""
    return (
        cand.select("d1", "d2")
        .join(da.select(F.col("doc_id").alias("d1x"), "shingle"),
              F.col("d1") == F.col("d1x"))
        .drop("d1x")
        .join(db.select(F.col("doc_id").alias("d2"), "shingle"),
              ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"))
    )


def _with_jaccard(pairs: DataFrame, d: DataFrame) -> DataFrame:
    sz = _sizes(d)
    return (
        pairs.join(sz.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sz.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame, tau: float = 0.8, sh: DataFrame | None = None
) -> DataFrame:
    """Exact shingle-Jaccard near-dup discovery (the correctness baseline
    the LSH variants are verified against). ``sh`` supplies an already
    pinned (doc_id, shingle) table so co-running schemes share one
    materialization."""
    d = sh if sh is not None else pin(shingles(docs))
    return (
        _with_jaccard(_overlap(d), d)
        .where(F.col("jaccard") >= tau)
        .select("d1", "d2", "jaccard")
    )


def containment_pairs(
    docs: DataFrame, tau: float = 0.9, sh: DataFrame | None = None
) -> DataFrame:
    """Near-containment dedup: overlap coefficient
    ``|S1 ∩ S2| / min(|S1|, |S2|) >= tau`` over shingle sets.

    Catches the doc-inside-doc duplication class symmetric Jaccard
    misses: a page embedded verbatim in a longer page (boilerplate
    wrappers, concatenated crawls, quote-heavy reposts) has low Jaccard
    — the union is dominated by the longer doc — but overlap coefficient
    ~1. Same inverted-index equi-join machinery as the Jaccard path, so
    the 100 TB shape (blocked join, candidates-only arithmetic) is
    unchanged."""
    d = sh if sh is not None else pin(shingles(docs))
    return (
        _with_jaccard(_overlap(d), d)
        .withColumn(
            "containment",
            F.col("common").cast("double")
            / F.least("n1", "n2").cast("double"),
        )
        .where(F.col("containment") >= tau)
        .select("d1", "d2", "containment")
    )


# Fixed histogram alphabet for the edit-distance prefilter: lowercase
# letters, digits and space. Characters outside it simply don't count
# toward the L1 lower bound (still sound, just less selective).
_ED_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
# The alphabet is folded into 16 bins (every 16th char shares a bin):
# merging histogram bins is 1-Lipschitz, so the grouped L1 is still a
# lower bound on the full-alphabet L1 — measured sweet spot between
# filter selectivity and the per-candidate cost of evaluating the
# (non-codegen) higher-order zip_with (8/16/37 bins: 3.0/2.6/3.9 s on
# the sf0.1 corpus).
_ED_BINS = 16


def edit_distance_pairs(
    docs: DataFrame,
    d: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Edit-distance similarity join: all pairs with Levenshtein
    distance <= ``d``, discovered through LENGTH BANDING — never
    all-pairs.

    Candidate generation uses the length filter of the string-similarity
    join literature (Gravano et al., VLDB 2001): ``lev(a, b) >= |len(a)
    - len(b)|``, so qualifying pairs lie within ``d`` characters of each
    other. Bucketing lengths at width ``d + 1`` and exploding one side
    into its bucket and both neighbors turns that band into a pure
    equi-join in which every qualifying pair meets EXACTLY once (the
    probe side keeps its single true bucket, so a pair can only collide
    at that one value — no distinct needed).

    Between banding and the DP sits a second sound prefilter: the
    CHARACTER-HISTOGRAM bound. A substitution moves at most 2 units of
    L1 mass between char counts and an insert/delete moves 1, so
    ``lev(a, b) >= L1(hist(a), hist(b)) / 2`` — candidates with
    ``L1 > 2d`` are rejected by a ~|alphabet|-op ``zip_with`` before the
    O(d * len) DP ever runs (counting only a fixed alphabet keeps the
    bound valid for arbitrary text: dropping characters can only shrink
    L1). The histograms are built once per ROW, map-side, from
    ``length(text) - length(replace(text, c))`` scans.

    Verification stays JVM-side: Spark's banded ``levenshtein(l, r,
    threshold)`` costs O(d * len) per candidate instead of O(len^2) and
    returns -1 past the threshold, so the filter is ``dist >= 0``.

    Scale notes (100 TB): one equi-join on the integer length bucket
    (3x fan-out on the build side only), verification linear in
    candidates, no Python, no driver funnel. Skewed length distributions
    concentrate buckets, but AQE skew-join splitting applies because the
    join is a plain shuffle hash/sort-merge equi-join.
    """
    if d < 0:
        raise ValueError(f"d must be >= 0, got {d}")
    w = d + 1
    hist = F.array(
        *[
            sum(
                (
                    F.length("text")
                    - F.length(F.replace(F.col("text"), F.lit(c)))
                    for c in _ED_ALPHABET[i::_ED_BINS]
                ),
                F.lit(0),
            ).cast("int")
            for i in range(_ED_BINS)
        ]
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.length(text_col).alias("ln"),
    ).withColumn("hist", hist)
    # Exchange barrier below the bucket explode (r17 optimization
    # round): without it the optimizer floats the histogram projection
    # ABOVE the 3x Generate — ~37 character scans per EXPLODED row
    # instead of per document (measured 1.7 s -> 0.3 s on the sf0.1 L1
    # stage). The repartition's map side computes hist once per doc and
    # both join branches read the same shuffle output (ReuseExchange);
    # the shuffled rows are (id, text, ln, 16 ints) — noise.
    from ds_jedai_spark.operators.ranking import shuffle_parts

    base = base.repartition(shuffle_parts(base))
    bkt = F.floor(F.col("ln") / w).cast("long")
    probe = base.withColumn("bucket", bkt)
    build = base.withColumn(
        "bucket",
        F.explode(F.array(bkt - 1, bkt, bkt + 1)),
    )
    l1 = F.aggregate(
        F.zip_with(
            F.col("a.hist"), F.col("b.hist"), lambda x, y: F.abs(x - y)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        build.alias("a")
        .join(probe.alias("b"), "bucket")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= d)
            & (l1 <= 2 * d)
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.levenshtein(F.col("a.text"), F.col("b.text"), d).alias("dist"),
        )
        .where(F.col("dist") >= 0)
    )


def edit_distance_sql(corpus_cte: str, d: int = 12) -> str:
    """DuckDB twin of :func:`edit_distance_pairs` over a CTE named
    ``corpus`` (doc_id, text). The oracle applies the same length band
    as an inequality (single-node, no banding needed) and an unbanded
    ``levenshtein`` — identical pair set and distances by the length
    filter's correctness."""
    return (
        f"WITH {corpus_cte}, t AS (SELECT doc_id, text, length(text) AS ln "
        "FROM corpus) "
        "SELECT a.doc_id AS d1, b.doc_id AS d2, "
        "levenshtein(a.text, b.text) AS dist "
        "FROM t a JOIN t b ON a.doc_id < b.doc_id "
        f"AND abs(a.ln - b.ln) <= {d} "
        f"WHERE levenshtein(a.text, b.text) <= {d}"
    )


def duplicate_clusters(
    pairs: DataFrame, id1: str = "d1", id2: str = "d2", max_iter: int = 50
) -> DataFrame:
    """Connected components over the duplicate-pair graph: cluster id =
    the minimum doc_id reachable from a node. Delegates to the engine's
    CC backbone — alternating large-star/small-star edge contraction
    (operators/clustering.connected_components_star, Kiveris et al.
    SoCC 2014), which converges in O(log²n) rounds on ANY topology.
    r17 unified this surface with DBSCAN's backbone, replacing the
    earlier min-label pointer-doubling loop: the star contraction has
    no diameter-sensitive failure mode, so a 30,000-link drifted
    near-dup chain closes in ~8 rounds instead of riding the old
    15-round budget. Each round shuffles only (node, node) pairs; at
    100 TB each round is two groupBy-join passes by doc id.

    Self-paired rows (id1 == id2) still yield singleton clusters, as
    before. Raises if the round budget is exhausted before the
    fixpoint — a wrong clustering must never be returned quietly.
    Round frames are pinned with pins.fresh_stats_checkpoint
    inside the backbone (see its docstring for the Catalyst-stats
    squaring stall that plain localCheckpoint causes in self-joining
    loops).
    """
    from ds_jedai_spark.operators.clustering import star_forest

    # pin the pair frame ONCE: both the backbone's canonical edge set
    # and the singleton-preserving node set below read it, and the
    # upstream discovery plan (an LSH collision join, typically) must
    # not execute twice
    e = pin(pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b")))
    # star_forest's (b -> a) map labels every LEAF; star centers and
    # nodes seen ONLY in self-pairs coalesce to their own id below —
    # the historical contract, minus the wrapper's redundant centers
    # anti-join (r17 optimization round)
    leaf_lbl = star_forest(e, max_iter=max_iter).select(
        F.col("b").alias("node"), F.col("a").alias("label")
    )
    nodes = e.select(F.col("a").alias("node")).union(
        e.select(F.col("b").alias("node"))).distinct()
    return nodes.join(leaf_lbl, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("label", "node").alias("cluster_id")
    )


def dedup_apply(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Materialize the deduplicated corpus — the stage that actually
    shrinks the data after pair discovery + clustering.

    Keeps every doc that is either unclustered (no near-duplicate found)
    or its cluster's representative; ``duplicate_clusters`` labels with
    the component-minimum doc id, so the representative is exactly the
    row with ``cluster_id == doc_id``. All ``docs`` columns pass
    through, plus ``cluster_id`` (-1 for docs with no near-duplicate),
    so downstream stages can count how much each survivor stands for.

    Scale: one LEFT equi-join on doc_id. ``clusters`` holds only docs
    that appear in some duplicate pair — tiny relative to a 100 TB
    corpus, so Catalyst broadcasts it; the corpus side never shuffles.
    """
    return (
        docs.join(clusters, "doc_id", "left")
        .where(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        .withColumn(
            "cluster_id", F.coalesce("cluster_id", F.lit(-1).cast("long"))
        )
    )


def minhash_signatures(d: DataFrame, k: int = 32) -> DataFrame:
    """(doc_id, i, h) minhash signatures with closed-form hash family
    h_i(w) = ((2i+1)*w + i*i + 7) mod P over md5-derived shingle ids.

    Shingle ids are the first 48 bits of md5(shingle) — a pure map-side
    expression, so signature building needs NO vocabulary: no distinct
    shuffle, no ranked-id join back onto the (doc, shingle) stream. (The
    earlier dense_rank variant cost a distinct + range-repartition +
    string equi-join per run — the dominant term of the LSH pipeline at
    bench scale, and a growing one at 100 TB where the vocabulary alone
    is billions of rows.) md5 is bit-identical across Spark and DuckDB,
    so the oracle reproduces the ids with the same expression; 48 bits
    keeps (2k+1)*wid far inside int64.

    The k min-aggregates run as WIDE columns over one row per
    (doc, shingle) — not an explode to k× rows — so map-side partial
    aggregation reduces each doc to a single k-column row per partition
    before the shuffle; the (doc_id, i, h) shape downstream consumers
    expect is restored by an explode over the tiny aggregated frame."""
    dw = _with_wid(d).select("doc_id", "wid")
    wide = dw.groupBy("doc_id").agg(
        *[
            F.min(
                ((2 * i + 1) * F.col("wid") + (i * i + 7)) % F.lit(MINHASH_P)
            ).alias(f"h{i}")
            for i in range(k)
        ]
    )
    sig = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).cast("int").alias("i"), F.col(f"h{i}").alias("h"))
                for i in range(k)
            ]
        )
    )
    return wide.select("doc_id", sig.alias("s")).select("doc_id", "s.i", "s.h")


def band_table_from_sigs(
    sig: DataFrame, k: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys projected CLOSED-FORM from
    the signature arrays (minhash_signature_arrays): band b's key is
    the slot-weighted sum ``sum_s sig[b+s] * (s+1)`` — the same
    order-independent key _band_table always produced, but as a pure
    map-side explode over the k-wide array instead of a second
    (doc_id, band) aggregation shuffle over exploded (i, h) rows (r17
    optimization round). Callers holding a pinned signature frame get
    the band table for free."""
    structs = []
    for b0 in range(0, k, rows_per_band):
        bkey = F.col("sig")[b0] * F.lit(1)
        for s in range(1, rows_per_band):
            bkey = bkey + F.col("sig")[b0 + s] * F.lit(s + 1)
        structs.append(
            F.struct(
                F.lit(b0).cast("int").alias("band"), bkey.alias("bkey")
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"),
             F.col("bb.bkey").alias("bkey"))


def _band_table(d: DataFrame, k: int = 32, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys from the shingle stream: ONE
    wide min-aggregation to the signature arrays, then the closed-form
    band projection (band_table_from_sigs)."""
    return band_table_from_sigs(
        minhash_signature_arrays(d, k), k, rows_per_band
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 32,
    rows_per_band: int = 4,
    tau: float = 0.8,
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH + exact verification.

    shingle → minhash signature → band buckets (order-independent band key
    = sum of position-weighted hashes) → bucket equi-join → verify true
    Jaccard on candidates only.
    """
    d = sh if sh is not None else pin(shingles(docs))
    band = pin(_band_table(d, k, rows_per_band))
    a = band.select(F.col("doc_id").alias("d1"), "band", "bkey")
    b = band.select(F.col("doc_id").alias("d2"), "band", "bkey")
    # The candidate set has exactly ONE consumer (_pair_common), so it
    # stays LAZY (r18): the former localCheckpoint materialized the
    # whole pair set and paid an extra action for zero reuse — removing
    # it fuses collision join + verification into one job (A/B warm
    # 2.45 -> 2.13 s; at scale it drops a full write+read of the
    # candidate stream). The band self-join's two sides share one
    # exchange (identical pinned subtree -> ReusedExchange).
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    # Pair-keyed verification (see _pair_common): measured 25.4s ->
    # 7.8s on the 10x-clone lsh_x10 soak vs the inverted self-join,
    # whose posting-list squaring detonates on clone cliques. Verified
    # over hashed grams (_hashed_shingles) since r12 — halves the
    # verification shuffle, the disk bound of the scale decade.
    dv = _hashed_shingles(d)
    verified = _with_jaccard(_pair_common(cand, dv, dv), dv)
    return verified.where(F.col("jaccard") >= tau).select("d1", "d2", "jaccard")


# Knuth multiplicative hash per fingerprint WORD: (wid + c) * m. Both
# products stay inside int64 for 28-bit shingle ids (< 2^59.3), so Spark
# and DuckDB agree bit-for-bit. Extra words extend the fingerprint for
# the scale form (simhash_pairs words=2) without ever touching bit 63
# of a single value (HUGEINT-vs-wraparound divergence risk).
_SIMHASH_WORDS = ((1, 2654435761), (12345, 2246822519))


def minhash_progressive_pairs(
    docs: DataFrame,
    budget: int = 50,
    k: int = 32,
    rows_per_band: int = 4,
    sh: DataFrame | None = None,
) -> DataFrame:
    """PROGRESSIVE (budgeted) near-dup verification — the reference's
    progressive paradigm (ProgressiveGIAnt.scala:26: rank candidates by
    a cheap weight, verify only the top ``budget``) applied to the
    dedup family: band-collision candidates are ranked by the
    signature-estimate Jaccard (one k-element comparison per pair, no
    corpus access), and ONLY the top ``budget`` of them pay the exact
    shingle verification. The triage that matters when the verification
    budget, not candidate generation, is the bottleneck of a 100 TB
    dedup pass.

    Deterministic schedule: (est DESC, d1, d2) — the same tie-break
    discipline as the spatial progressive plans. The global top-k is a
    TakeOrderedAndProject (driver merges ``budget`` rows); for
    cluster-scale budgets compose with the local-budget split exactly
    as operators/progressive.py does. Output: (d1, d2, est, jaccard)
    for scheduled pairs that share at least one shingle (a scheduled
    pair with none has Jaccard 0 and drops out, matching the exact
    join's domain)."""
    d = sh if sh is not None else pin(shingles(docs))
    sig = pin(minhash_signature_arrays(d, k))
    # band keys are a closed-form projection of the pinned signatures
    # (band_table_from_sigs) — no second corpus aggregation, no separate
    # band pin (r17 optimization round)
    band = band_table_from_sigs(sig, k, rows_per_band)
    a = band.select(F.col("doc_id").alias("d1"), "band", "bkey")
    b = band.select(F.col("doc_id").alias("d2"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("s1", "s2", lambda x, y: x == y), lambda m: m
            )
        ).cast("double")
        / F.lit(float(k))
    )
    sched = (
        cand.join(sig.select(F.col("doc_id").alias("d1"),
                             F.col("sig").alias("s1")), "d1")
        .join(sig.select(F.col("doc_id").alias("d2"),
                         F.col("sig").alias("s2")), "d2")
        .withColumn("est", est)
        .select("d1", "d2", "est")
        .orderBy(F.desc("est"), "d1", "d2")
        .limit(budget)
    )
    dv = _hashed_shingles(d)
    # est rides through the verification groupBy (first() is exact: one
    # sched row per pair), so the schedule is consumed ONCE — the former
    # 50-row localCheckpoint pin and the est join-back both fold away
    # (r17 optimization round: one fewer eager action + one fewer join,
    # identical rows; a zero-common scheduled pair still drops out via
    # the inner shingle join, matching the exact join's domain)
    common = (
        sched
        .join(dv.select(F.col("doc_id").alias("d1x"), "shingle"),
              F.col("d1") == F.col("d1x"))
        .drop("d1x")
        .join(dv.select(F.col("doc_id").alias("d2"), "shingle"),
              ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("common"),
             F.first("est").alias("est"))
    )
    return _with_jaccard(common, dv).select("d1", "d2", "est", "jaccard")


def simhash_fingerprints(
    d: DataFrame, bits: int = 32, word: int = 0
) -> DataFrame:
    """(doc_id, fp) — per-bit majority sign over multiplicative-hash bits.

    bit_j(w) = bit (j+8) of (w + c) * m — a Knuth multiplicative hash
    (``word`` selects the (c, m) family: word 0 is the gate default,
    word 1 extends the fingerprint to 64 bits for the scale form); the
    +8 offset skips the poorly-mixed low product bits. (A plain
    ``parity((w+1)*odd_j mod P)`` family is degenerate: below the modulus
    the parity is independent of j and every bit collapses.)

    Shingle ids are the first 28 bits of md5(shingle) — map-side, no
    vocabulary build (see minhash_signatures). 28 bits, not 48: the
    Knuth multiply must stay inside int64 in BOTH engines ((2^28) *
    2654435761 < 2^63; a 48-bit id would overflow, which Java wraps but
    DuckDB widens to HUGEINT — a silent cross-engine divergence)."""
    c, m = _SIMHASH_WORDS[word]
    dw = d.select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(shingle), 1, 7), 16, 10) AS BIGINT)"
        ).alias("wid"),
    )
    parity = F.expr(f"shiftright((wid + {c}) * {m}, j + 8) % 2")
    contrib = parity * 2 - 1
    per_bit = (
        dw.withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))))
        .withColumn("c", contrib)
        .groupBy("doc_id", "j")
        .agg(F.sum("c").alias("s"))
    )
    bitval = F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(
        F.lit(0)
    )
    return per_bit.groupBy("doc_id").agg(
        F.sum(bitval).cast("long").alias("fp")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 2,
    sh: DataFrame | None = None,
    words: int = 1,
) -> DataFrame:
    """SimHash near-dup: banded candidate join + hamming verify.

    ``words=1`` (gate default): 32-bit fingerprint split into 4
    byte-wide bands; a pair is a candidate when any band matches
    (standard simhash blocking: hamming <= 3 implies at least one of 4
    bands is untouched).

    ``words=2`` is the SCALE form: a 64-bit fingerprint carried as TWO
    32-bit words (second Knuth hash family; a single 64-bit value would
    touch bit 63, where Java wraparound and DuckDB HUGEINT widening
    diverge), split into 4 bands of 16 bits — 65536 buckets per band
    instead of 256. Fixed 8-bit bands are the same quadratic trap as
    the fixed-parameter hyperplane LSH (bucket population ~n/256 grows
    with the corpus, candidates ~n^2/256); the 16-bit bands keep the
    same any-band-untouched guarantee (4 bands > max_hamming) with
    256x finer blocking. Hamming is over all 64 bits, so words=2 is a
    strictly finer similarity test at the same threshold."""
    if words not in (1, 2):
        raise ValueError(f"words must be 1 or 2: {words!r}")
    d = sh if sh is not None else pin(shingles(docs))
    fp = simhash_fingerprints(d).withColumnRenamed("fp", "fp0")
    if words == 2:
        fp = fp.join(
            simhash_fingerprints(d, word=1).withColumnRenamed("fp", "fp1"),
            "doc_id",
        )
    nibble = (
        "shiftright(fp0, k * 8) % 256"
        if words == 1
        else "CASE WHEN k < 2 THEN shiftright(fp0, k * 16) % 65536 "
             "ELSE shiftright(fp1, (k - 2) * 16) % 65536 END"
    )
    nib = pin(
        fp.withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(3)))).withColumn(
            "nibble", F.expr(nibble)
        )
    )
    fcols = [f"fp{w}" for w in range(words)]
    a = nib.select(
        F.col("doc_id").alias("d1"),
        *[F.col(c).alias(f"{c}_1") for c in fcols], "k", "nibble",
    )
    b = nib.select(
        F.col("doc_id").alias("d2"),
        *[F.col(c).alias(f"{c}_2") for c in fcols], "k", "nibble",
    )
    cand = (
        a.join(b, ["k", "nibble"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2",
                *[F.col(f"{c}_1") for c in fcols],
                *[F.col(f"{c}_2") for c in fcols])
        .distinct()
    )
    ham = F.bit_count(F.expr("fp0_1 ^ fp0_2"))
    if words == 2:
        ham = ham + F.bit_count(F.expr("fp1_1 ^ fp1_2"))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def minhash_lsh_pairs_cross(
    docs_a: DataFrame,
    docs_b: DataFrame,
    k: int = 32,
    rows_per_band: int = 4,
    tau: float = 0.8,
    sh_a: DataFrame | None = None,
    sh_b: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus MinHash-LSH near-dup discovery: candidates are pairs
    of ONE doc from each corpus whose band keys collide — the
    INCREMENTAL dedup path (today's batch ``a`` against the persistent
    indexed corpus ``b``) the self-join form cannot express without
    paying b x b again.

    100 TB shape: ``b``'s shingle table and band keys are the standing
    index — pin them bucketed (``pin_shingles(docs, table=...)``) and
    only ``a``'s signatures are computed per batch; the collision join,
    candidate dedup and verification join are all equi-joins carrying
    ids, and no a x a or b x b pair is ever generated. Output:
    (d1 from a, d2 from b, jaccard >= tau).
    """
    da = sh_a if sh_a is not None else pin(shingles(docs_a))
    db = sh_b if sh_b is not None else pin(shingles(docs_b))
    band_a = _band_table(da, k, rows_per_band).select(
        F.col("doc_id").alias("d1"), "band", "bkey"
    )
    band_b = _band_table(db, k, rows_per_band).select(
        F.col("doc_id").alias("d2"), "band", "bkey"
    )
    # single consumer (_pair_common) — lazy, same reasoning as
    # minhash_lsh_pairs' candidate set (r18)
    cand = band_a.join(band_b, ["band", "bkey"]).select("d1", "d2").distinct()
    dva, dvb = _hashed_shingles(da), _hashed_shingles(db)
    common = _pair_common(cand, dva, dvb)
    sz_a = _sizes(dva).select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    sz_b = _sizes(dvb).select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        common.join(sz_a, "d1")
        .join(sz_b, "d2")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= tau)
        .select("d1", "d2", "jaccard")
    )


def minhash_signature_arrays(d: DataFrame, k: int = 32) -> DataFrame:
    """(doc_id, sig array<long>) — the k minhash components as one
    array column (the wide form minhash_signatures explodes from)."""
    dw = _with_wid(d).select("doc_id", "wid")
    wide = dw.groupBy("doc_id").agg(
        *[
            F.min(
                ((2 * i + 1) * F.col("wid") + (i * i + 7)) % F.lit(MINHASH_P)
            ).alias(f"h{i}")
            for i in range(k)
        ]
    )
    return wide.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig")
    )


def minhash_estimate_pairs(
    docs: DataFrame,
    k: int = 32,
    rows_per_band: int = 4,
    tau: float = 0.8,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Signature-ONLY near-dup discovery: band-collision candidates
    scored by the unbiased minhash Jaccard estimate — the fraction of
    matching signature components — with NO shingle-set verification.

    This is the triage tier a production dedup runs between candidate
    generation and exact verification: the estimate costs one k-element
    array comparison per pair (reading 2k integers), never the inverted
    shingle join, so pairs far above or below the threshold can be
    accepted/dropped without touching the corpus. Estimate granularity
    is 1/k; E[est] = true Jaccard (per-component collision probability
    equals the Jaccard index).

    Scale shape: band equi-join carries ids only; signatures rejoin for
    deduplicated candidates (broadcast at dimension size, hash join
    beyond). Output: (d1, d2, est >= tau)."""
    d = sh if sh is not None else pin(shingles(docs))
    sig = pin(minhash_signature_arrays(d, k))
    # closed-form band projection of the pinned signatures (see
    # minhash_progressive_pairs)
    band = band_table_from_sigs(sig, k, rows_per_band)
    a = band.select(F.col("doc_id").alias("d1"), "band", "bkey")
    b = band.select(F.col("doc_id").alias("d2"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("s1", "s2", lambda x, y: x == y), lambda m: m
            )
        ).cast("double")
        / F.lit(float(k))
    )
    return (
        cand.join(sig.select(F.col("doc_id").alias("d1"),
                             F.col("sig").alias("s1")), "d1")
        .join(sig.select(F.col("doc_id").alias("d2"),
                         F.col("sig").alias("s2")), "d2")
        .withColumn("est", est)
        .where(F.col("est") >= tau)
        .select("d1", "d2", "est")
    )
