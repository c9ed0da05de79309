"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference extensions (SURVEY.md §7 phase 5): tokenization,
shingling, vocabulary building, token statistics, quality scoring,
language-ID and positional fingerprinting over the ``documents`` table —
all as DataFrame plans whose arithmetic is mirrored 1:1 by DuckDB oracle
SQL in plans/pipeline_plans.py.

Engine/oracle contract:
- tokens = elements of split(text, ' '); positions are 1-based on the RAW
  split (empties filtered afterwards, so positions are stable in both
  engines: Spark posexplode+1 == DuckDB generate_subscripts).
- shingles = word 3-grams joined with '_' over the empty-filtered array.
- vocabulary ids equal dense_rank over the sorted distinct token set —
  computed distributedly (operators/ranking.global_rank: range-partition
  + local row_number + broadcast offsets; no single-task window), and
  reproducible across engines for oracle checking. A production pipeline
  that doesn't need dense ids can use xxhash64(token) directly (no vocab
  join at all) — same downstream algebra, noted per operator.
- no transcendental functions in any output column (libm vs JVM ulp
  drift); scores are rational arithmetic only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ds_jedai_spark.pins import pin

# Derived corpus with injected duplicates so dedup operators have signal:
# originals + exact copies (doc_id%7==0, +1M ids) + 3/4-length truncated
# near-copies (doc_id%11==0, +2M ids). Dialect-neutral SQL (runs verbatim
# in Spark SQL and DuckDB).
CORPUS_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0 "
    "UNION ALL SELECT doc_id + 2000000 AS doc_id, "
    "substring(text, 1, CAST(floor(CAST(3 * length(text) AS DOUBLE) / 4.0) AS INT)) AS text "
    "FROM documents WHERE doc_id % 11 = 0"
)

STOPWORDS = ("the", "a", "of", "and", "is")
LANG_WORDLISTS = {
    "en": ("the", "a", "and", "query", "table"),
    "de": ("der", "die", "und", "tabelle"),
    "fr": ("le", "la", "et", "ligne"),
}


def words(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, word) — 1-based raw positions, empties dropped."""
    return (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
        )
        .where(F.col("word") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams (n=3), '_'-joined.

    The filtered word array is projected as a concrete column FIRST and the
    gram lambda reads it by name: inlining the filter(split()) expression
    into every element_at makes gram construction O(tokens^2) per document
    (measured 6x slower at sf0.1) because the array is re-derived per
    element access.

    Dedup is per-document via array_distinct BEFORE the explode, never a
    global .distinct(): each doc_id lives on exactly one input row, so
    per-array dedup already makes (doc_id, shingle) globally unique and
    the whole operator stays map-only — no shuffle of the exploded gram
    stream (which is ~tokens x rows, the largest frame in the dedup
    pipeline at 100 TB)."""
    arr = F.filter(F.split("text", " "), lambda w: w != "")
    t = docs.select("doc_id", arr.alias("arr"))
    gram = F.when(
        F.size(F.col("arr")) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("arr")) - (n - 1)),
            lambda i: F.concat_ws(
                "_", *[F.element_at(F.col("arr"), i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return t.select("doc_id", F.explode(F.array_distinct(gram)).alias("shingle"))


def vocab(tokens: DataFrame, col: str) -> DataFrame:
    """(token, wid) — global dense_rank ids over the sorted distinct
    token set, with NO single-partition window.

    Distributed two-phase ranking: range-repartition the distinct tokens
    (partition i sorts wholly before partition i+1), row_number within
    each partition, then add broadcast cumulative per-partition offsets.
    The ids equal dense_rank() OVER (ORDER BY token) — the oracle
    contract — but every stage is parallel, so a billion-token vocabulary
    at 100 TB never funnels through one task. (A pure-production variant
    could use xxhash64(token) directly — no ranking at all — but the
    two-phase rank keeps ids dense AND reproducible.)

    The ranked frame is pinned (eager localCheckpoint): it feeds both the
    offset aggregate and the final join, and repartitionByRange samples
    its boundaries nondeterministically — unpinned recomputation could
    assign different (part, rn) per consumer. The offset cumulative sum
    is a global window over <= numPartitions rows (tiny aggregate).
    """
    from ds_jedai_spark.operators.ranking import global_rank

    distinct = tokens.select(col).distinct()
    return global_rank(distinct, asc_cols=[col]).select(
        col, F.col("rank").alias("wid")
    )


# BPE-ish pre-tokenizer: contractions, space-prefixed letter runs,
# digit runs, punctuation runs — the GPT-2-style split shape restricted
# to syntax RE2 and Java regex interpret identically (so the DuckDB
# oracle replays it). A real tokenizer's subword merge step only splits
# WITHIN these pre-tokens, so this count is the standard cheap
# token-budget estimate a corpus pipeline runs before training.
BPE_SPLIT_RE = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def token_stats(docs: DataFrame) -> DataFrame:
    arr_raw = F.split("text", " ")
    arr = F.filter(arr_raw, lambda w: w != "")
    return docs.select(
        "doc_id",
        F.size(arr_raw).cast("long").alias("n_tokens_raw"),
        F.size(arr).cast("long").alias("n_words"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), F.lit(0))
        ).cast("long").alias("n_subtokens"),
        F.length("text").cast("long").alias("n_chars"),
        # empty text would be an ANSI DIVIDE_BY_ZERO (Spark 4 raises on
        # double/0 too); an empty doc has 0 words per anything
        F.when(
            F.length("text") > 0,
            F.size(arr) * F.lit(100.0) / F.length("text"),
        ).otherwise(F.lit(0.0)).alias("words_per_100_chars"),
    )


def quality(docs: DataFrame) -> DataFrame:
    """Rational-arithmetic quality score: distinct-word ratio + stopword mix."""
    w = words(docs)
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    agg = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("word").alias("n_distinct"),
        F.count(F.when(F.array_contains(stop, F.col("word")), True)).alias("n_stop"),
        F.sum(F.length("word")).alias("sum_word_len"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_distinct",
        "n_stop",
        (F.col("sum_word_len").cast("double") / F.col("n_words")).alias("avg_word_len"),
        (F.col("n_stop").cast("double") / F.col("n_words")).alias("stop_ratio"),
        (
            F.lit(0.6) * (F.col("n_distinct").cast("double") / F.col("n_words"))
            + F.lit(0.4) * (F.col("n_stop").cast("double") / F.col("n_words"))
        ).alias("quality_score"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Wordlist-hit language ID with deterministic argmax (en > de > fr on
    ties). The mechanism of an n-gram language identifier; wordlists are
    tiny constants here."""
    w = words(docs)
    aggs = [F.count(F.lit(1)).alias("n_words")]
    for lang, wl in LANG_WORDLISTS.items():
        arr = F.array(*[F.lit(x) for x in wl])
        aggs.append(
            F.count(F.when(F.array_contains(arr, F.col("word")), True)).alias(
                f"hits_{lang}"
            )
        )
    agg = w.groupBy("doc_id").agg(*aggs)
    pred = (
        F.when(
            (F.col("hits_en") >= F.col("hits_de"))
            & (F.col("hits_en") >= F.col("hits_fr")),
            F.lit("en"),
        )
        .when(F.col("hits_de") >= F.col("hits_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return agg.select(
        "doc_id", "hits_en", "hits_de", "hits_fr", pred.alias("lang_pred")
    )


FP_MULT = 2654435761
FP_MOD = 1000003


def repetition(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: top-word fraction,
    duplicated-word-instance fraction, duplicated-bigram-instance
    fraction (the "repetitious text" filters of the Gopher/MassiveText
    cleaning rules, computed with rational arithmetic only).

    Scale notes: bigrams come from a lead() window partitioned by doc —
    partition-local, no global window; the two per-doc aggregates join on
    doc_id (co-partitioned by the groupBy shuffle)."""
    w = words(docs)
    wc = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    per_word = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("top_word_count"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias(
            "dup_word_instances"
        ),
    )
    nxt = F.lead("word").over(Window.partitionBy("doc_id").orderBy("pos"))
    bg = (
        w.withColumn("nxt", nxt)
        .where(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "word", "nxt").alias("bigram"))
    )
    bc = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    per_bigram = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias(
            "dup_bigram_instances"
        ),
    )
    joined = per_word.join(per_bigram, "doc_id", "left")
    nb = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
    db = F.coalesce(F.col("dup_bigram_instances"), F.lit(0)).cast("long")
    return joined.select(
        "doc_id",
        "n_words",
        (F.col("top_word_count").cast("double") / F.col("n_words")).alias(
            "top_word_frac"
        ),
        (F.col("dup_word_instances").cast("double") / F.col("n_words")).alias(
            "dup_word_frac"
        ),
        nb.alias("n_bigrams"),
        F.when(nb > 0, db.cast("double") / nb.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


SPLIT_MULT = 2654435761
SPLIT_BUCKETS = 100
SPLIT_TRAIN = 90  # buckets [0,90) train, [90,95) val, [95,100) test
SPLIT_VAL = 95


def corpus_split(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment by multiplicative hash of
    doc_id — reproducible across engines and runs, shuffle-free at the
    row level (the only shuffle is the 3-group final aggregate)."""
    bucket = (F.col("doc_id") * SPLIT_MULT) % SPLIT_BUCKETS
    split = (
        F.when(bucket < SPLIT_TRAIN, F.lit("train"))
        .when(bucket < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    return (
        docs.select(split.alias("split"), F.size(arr).cast("long").alias("nw"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("n_words"),
        )
    )


SHUFFLE_SHARDS = 8
SHUFFLE_CHECK_MOD = 1_000_003


def corpus_shuffle(docs: DataFrame, shards: int = SHUFFLE_SHARDS) -> DataFrame:
    """Deterministic training-order shuffle: every doc gets a
    reproducible (shard, pos) — the read order a training run consumes
    (shards round-robin, positions within each shard).

    The permutation key is the md5 of the doc id (stable across engines
    and runs; no RNG state to carry), and the order is materialized as
    a ROW_NUMBER per shard — NOT a global sort: a total order over
    100 TB is one giant range exchange, while per-shard order with
    round-robin shard reads gives the same statistical shuffle with
    ``shards`` independent window partitions (the pack_sequences
    sharding pattern; size ``shards`` so a shard fits one task).
    Output: (shard, n_docs, checksum) summary — the checksum
    sum(pos * (doc_id + 1)) mod P is order-SENSITIVE, so the gate hash
    pins the exact permutation, not just membership."""
    p = corpus_shuffle_positions(docs, shards)
    term = (F.col("pos") * (F.col("doc_id") + 1)) % SHUFFLE_CHECK_MOD
    return (
        p.select("shard", term.alias("term"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("term") % SHUFFLE_CHECK_MOD).alias("checksum"),
        )
    )


def corpus_shuffle_positions(
    docs: DataFrame, shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """Per-doc (doc_id, shard, pos) of the deterministic shuffle — the
    frame a training run actually reads (corpus_shuffle aggregates it
    into the gate's order-sensitive per-shard summary)."""
    h = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) "
        "AS BIGINT)"
    )
    d = docs.select("doc_id", h.alias("h")).withColumn(
        "shard", F.col("h") % shards
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return d.select(
        "doc_id", "shard", F.row_number().over(w).cast("long").alias("pos")
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Positional document fingerprint: sum of per-position token-id terms
    mod P — order-sensitive via the position weight yet order-independent
    to aggregate (exact integer arithmetic, any summation order)."""
    w = words(docs)
    v = vocab(w, "word")
    t = w.join(v, "word")
    term = ((F.col("wid") + 1) * F.col("pos") * F.lit(FP_MULT)) % F.lit(FP_MOD)
    return (
        t.select("doc_id", term.alias("term"))
        .groupBy("doc_id")
        .agg((F.sum("term") % F.lit(FP_MOD)).alias("fingerprint"))
    )


PACK_BUDGET = 64  # tokens per packed training sequence
PACK_SHARDS = 8

MIX_MULT = 2654435761  # shared with the fingerprint hash family
MIX_BASE = 20
MIX_STEP = 13
MIX_SPAN = 61


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Sliding-window token chunking — the split-before-embedding step
    of a RAG / embedding pipeline (pack_sequences assembles whole docs
    into training sequences; this cuts ONE doc into overlapping
    windows). One output row per chunk: (doc_id, chunk_id, start_tok,
    end_tok, n_tok, is_last), token positions in whitespace tokens,
    stride = chunk_tokens - overlap, last chunk may be short; an empty
    doc still yields one empty chunk.

    Scale shape: pure JVM column algebra — per-doc token count, a
    sequence() explode of chunk ids (fan-out = tokens/stride, bounded
    per row), closed-form start/end. No shuffle at all beyond the scan;
    integer arithmetic throughout so the DuckDB oracle matches
    bit-for-bit."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("chunk_tokens must exceed overlap")
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    d = docs.select("doc_id", F.size(arr).cast("long").alias("n"))
    # ceil((n - overlap) / stride), floored at 1; the numerator is
    # non-negative for n >= 0 (stride > overlap would make it negative
    # only if overlap > stride - 1 - which the guard above excludes),
    # so truncating DIV == floor in both engines.
    nch = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"(n - {overlap} + {stride - 1}) DIV {stride}"),
    )
    c = d.select(
        "doc_id",
        "n",
        nch.alias("nch"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), nch - 1)
        ).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    end = F.least(start + chunk_tokens, F.col("n"))
    return c.select(
        "doc_id",
        "chunk_id",
        start.alias("start_tok"),
        end.alias("end_tok"),
        (end - start).alias("n_tok"),
        (F.col("chunk_id") == F.col("nch") - 1).cast("long").alias("is_last"),
    )


def pack_sequences(
    docs: DataFrame, budget: int = PACK_BUDGET, n_shards: int = PACK_SHARDS
) -> DataFrame:
    """Token-budget sequence packing for pretraining-data assembly.

    Documents are assigned to fixed-token-budget training sequences by a
    running token sum: within a shard (``doc_id % n_shards``), docs fill
    sequences in doc_id order and a doc opens a new sequence whenever the
    cumulative count before it crosses a budget multiple
    (``seq_id = floor(cum_before / budget)``).

    Scale notes: the shard key bounds every window to one shard — shards
    sort independently and in parallel, so there is no global sort at
    100 TB; n_shards scales with the cluster (one output file per shard
    per writer task). All arithmetic is integer, so the DuckDB oracle
    matches bit-for-bit.
    """
    arr = F.filter(F.split("text", " "), lambda w: w != "")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(arr).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    seq = F.floor((cum - F.col("n_tokens")).cast("double") / F.lit(float(budget)))
    packed = t.select(
        "shard", "doc_id", "n_tokens", seq.cast("long").alias("seq_id")
    )
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def mixture_sample(docs: DataFrame) -> DataFrame:
    """Deterministic weighted corpus mixing (dataset-mixture sampling).

    Each source gets a sampling rate in percent derived from its numeric
    suffix (rate = MIX_BASE + suffix*MIX_STEP mod MIX_SPAN); a document
    survives iff hash(doc_id) mod 100 < rate. Hash-based Bernoulli
    thinning is reproducible, embarrassingly parallel (no shuffle before
    the reporting agg), and re-runnable incrementally — the properties a
    100 TB mixture rebuild needs. Output reports per-source totals.
    """
    srcnum = F.substring("source", 4, 8).cast("long")
    rate = (F.lit(MIX_BASE) + (srcnum * F.lit(MIX_STEP)) % F.lit(MIX_SPAN)).alias(
        "rate_pct"
    )
    keep = ((F.col("doc_id") * F.lit(MIX_MULT)) % 100) < F.col("rate_pct")
    t = docs.select("doc_id", "source", rate)
    return (
        t.groupBy("source", "rate_pct")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(keep, True)).alias("n_sampled"),
        )
    )


def contamination(
    train: DataFrame, bench: DataFrame, n: int = 3
) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct word n-grams that appear anywhere in the benchmark set
    (the standard n-gram-overlap test run before training to keep eval
    data out of the corpus).

    Scale shape: the benchmark gram set is tiny next to the corpus, so
    the probe is a left-semi equi-join on the gram — Catalyst broadcasts
    the benchmark side when it fits, and the training grams stream
    through one shuffle-free pass in that case. No all-pairs comparison
    exists anywhere; cost is O(|train grams| + |bench grams|).
    """
    # The train gram table feeds BOTH the totals and the hit branch;
    # pin it so the explode+distinct runs once (same cache-miss pitfall
    # as the LSH shingle table, pins.pin).
    tg = pin(shingles(train, n))
    bg = shingles(bench, n).select("shingle").distinct()
    totals = tg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        tg.join(bg, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .na.fill({"n_hit": 0})
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            (F.col("n_hit") / F.col("n_grams")).alias("hit_frac"),
            (F.col("n_hit") > 0).alias("contaminated"),
        )
    )


PII_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
PII_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII detection + redaction over the text column: count and replace
    email addresses and IPv4 literals (the minimum scrub a training
    corpus gets before release).

    Pure JVM regex work (regexp_extract_all / regexp_replace) — one
    narrow pass, no shuffle; patterns restricted to syntax RE2 and Java
    regex interpret identically so the DuckDB oracle replays exactly.
    Emits an md5 of the scrubbed text so the oracle checks the full
    redacted byte stream, not just counts.
    """
    # Patterns go through as literal Columns, never through the SQL
    # parser, so backslashes survive verbatim on both engines.
    n_email = F.size(
        F.regexp_extract_all("text", F.lit(PII_EMAIL_RE), F.lit(0))
    )
    n_ip = F.size(F.regexp_extract_all("text", F.lit(PII_IPV4_RE), F.lit(0)))
    clean = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"),
        PII_IPV4_RE,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        n_email.cast("bigint").alias("n_email"),
        n_ip.cast("bigint").alias("n_ip"),
        F.length(clean).cast("bigint").alias("len_clean"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    )


# ------------------------------------------------------------------
# Cross-document substring-level dedup (duplicated k-gram spans).
#
# Document-level dedup (operators/dedup.py) removes whole near-copies;
# this pass finds REPEATED SUBSTRINGS — boilerplate headers, license
# blocks, quoted passages — that survive document dedup because the
# host documents differ (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better": remove any >= k-token substring that
# occurs more than once in the corpus, keeping one occurrence).
#
# Scale shape (the whole family is blocked equi-join, never all-pairs):
#   1. positional k-grams per doc — map-only explode, O(total tokens);
#   2. one groupBy(gram) with map-side partial agg -> occurrence count
#      + canonical (minimum (doc_id, pos)) occurrence; grams with
#      count < min_count die here, so only the duplicated sliver — a
#      tiny fraction of a real corpus — survives;
#   3. equi-join positions back to the surviving grams, drop each
#      gram's canonical occurrence (the kept copy);
#   4. per-doc gaps-and-islands window merges overlapping/adjacent
#      redundant gram starts into maximal spans — partitioned by
#      doc_id, so no window partition outgrows a document.
# At 100 TB the gram shuffle is the dominant term and is linear in
# corpus size; a production run would key step 2/3 by a 128-bit digest
# of the gram (md5 works in both engines) instead of the gram string to
# cap shuffle width — kept as the string here so the DuckDB oracle
# replays the exact join key.


def gram_positions(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): '_'-joined word k-grams with their 1-based
    start position on the empty-filtered token array. Unlike
    ``shingles`` this keeps positions and intra-doc repeats — span
    detection needs every occurrence, not the distinct gram set."""
    arr = F.filter(F.split("text", " "), lambda w: w != "")
    t = docs.select("doc_id", arr.alias("arr"))
    gram = F.when(
        F.size(F.col("arr")) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("arr")) - (k - 1)),
            lambda i: F.concat_ws(
                "_", *[F.element_at(F.col("arr"), i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return t.select(
        "doc_id", F.posexplode(gram).alias("pos0", "gram")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")


def duplicated_spans(
    docs: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """Maximal redundant substring spans: (doc_id, span_start, span_end,
    n_grams), word positions inclusive, covering every occurrence of
    every k-gram that appears >= min_count times in the corpus EXCEPT
    the gram's canonical first occurrence (minimum (doc_id, pos)) — the
    copy a keep-one scrub retains. n_grams counts the merged redundant
    gram starts inside the span.

    Spans from overlapping or ADJACENT (gap 0) redundant grams merge:
    a repeated run of length L >> k appears as L-k+1 duplicated grams
    and must come out as ONE span, not L-k+1."""
    g = gram_positions(docs, k)
    dup = (
        g.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("doc_id", "pos")).alias("first_occ"),
        )
        .where(F.col("n_occ") >= min_count)
        .select("gram", "first_occ")
    )
    red = g.join(dup, "gram").where(
        ~(
            (F.col("doc_id") == F.col("first_occ.doc_id"))
            & (F.col("pos") == F.col("first_occ.pos"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    covered_end = F.col("pos") + F.lit(k - 1)
    prev_end = F.max(covered_end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        red.select("doc_id", "pos", covered_end.alias("end"))
        .withColumn("island", F.sum(is_new).over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def scrub_duplicated_spans(
    docs: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """Keep-first substring scrub: rebuild each document's text with all
    redundant duplicated spans removed (one occurrence of every
    duplicated run survives, at its corpus-first position). Returns
    (doc_id, n_words, n_dropped, len_clean, clean_md5) — the md5 pins
    the full scrubbed byte stream for the oracle, as in ``pii_scrub``.

    The span set is collected per doc and applied ARRAY-NATIVE: one
    left equi-join on doc_id (the span side holds only docs with
    redundant text — tiny next to the corpus, broadcastable), then a
    JVM array filter keeps words outside every span. The corpus text is
    never word-exploded or re-sorted; whitespace normalizes to single
    spaces (positions index the empty-filtered token array)."""
    t, kept = _scrub_kept(docs, k, min_count)
    return t.select(
        "doc_id",
        F.size("arr").cast("bigint").alias("n_words"),
        (F.size("arr") - F.size(kept)).cast("bigint").alias("n_dropped"),
        F.length(F.concat_ws(" ", kept)).cast("bigint").alias("len_clean"),
        F.md5(F.concat_ws(" ", kept).cast("binary")).alias("clean_md5"),
    )


def scrubbed_corpus(
    docs: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """The user-facing scrub OUTPUT: (doc_id, text) with every redundant
    duplicated span removed (keep-first). ``scrub_duplicated_spans``
    emits the audit stats/md5 the gate hashes; this emits the corpus a
    training run would actually consume downstream."""
    t, kept = _scrub_kept(docs, k, min_count)
    return t.select("doc_id", F.concat_ws(" ", kept).alias("text"))


def _scrub_kept(docs: DataFrame, k: int, min_count: int):
    """Shared scrub core: (frame with doc_id/arr/sp, kept-words column)."""
    spans = duplicated_spans(docs, k, min_count)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.array(F.col("span_start"), F.col("span_end"))
        ).alias("sp")
    )
    arr = F.filter(F.split("text", " "), lambda w: w != "")
    t = docs.join(sp, "doc_id", "left").select(
        "doc_id",
        arr.alias("arr"),
        F.coalesce(
            "sp", F.array().cast("array<array<bigint>>")
        ).alias("sp"),
    )
    kept = F.filter(
        F.col("arr"),
        lambda w, i: ~F.exists(
            F.col("sp"),
            lambda s: (i + 1 >= s.getItem(0)) & (i + 1 <= s.getItem(1)),
        ),
    )
    return t, kept


# ------------------------------------------------------ relevance scoring

# BM25 constants are DYADIC-EXACT doubles (1.25, 0.75 — both inside the
# standard parameter ranges) so every arithmetic step is reproducible
# bit-for-bit across engines: with exact constants the whole score is a
# fixed tree of IEEE-754 ops over integers, and the DuckDB oracle can
# restate it verbatim.  The idf is the RATIONAL core of the classic
# BM25 idf — (N - df + 0.5)/(df + 0.5) + 1 WITHOUT the outer ln() — per
# the module contract banning transcendentals from gated columns (libm
# vs JVM last-ulp drift).  ln is monotone, so per-term document ranking
# is unchanged; only the relative mixing of multi-term scores differs
# from textbook BM25, which the docstrings state.
BM25_K1 = 1.25
BM25_B = 0.75
BM25_QUERY = ("query", "table", "stream")
SCORE_SCALE = 1_000_000


def _rational_idf(n_docs, df):
    """(N - df + 0.5) / (df + 0.5) + 1 — the inside of the BM25 log."""
    return (
        ((n_docs - df).cast("double") + F.lit(0.5))
        / (df.cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )


def tfidf_top(docs: DataFrame) -> DataFrame:
    """Per-document top rarity-weighted term: argmax over words of
    tf * (N + 1)/(df + 1), ties broken by term string ascending.

    The idf factor is the rational (N + 1)/(df + 1) (no ln — module
    contract); it is a strictly monotone transform of the classic idf,
    so the per-term ordering by document frequency is identical.

    Scale notes: tf is one groupBy over the exploded words; df one
    groupBy over the per-doc-distinct words; N rides in as a broadcast
    1-row aggregate; the argmax window partitions by doc_id (millions of
    small groups, never a global window).  Every doc_id in the input
    appears in the output — empty documents carry top_term = '' and
    zero counts."""
    w = words(docs)
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        w.select("doc_id", "word")
        .distinct()
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (
                (F.col("n_docs").cast("double") + F.lit(1.0))
                / (F.col("df").cast("double") + F.lit(1.0))
            ),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("word").asc()
        )
    )
    top = (
        scored.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_term"),
            F.col("tf").alias("top_tf"),
            F.col("df").alias("top_df"),
            F.round(F.col("score") * F.lit(float(SCORE_SCALE)))
            .cast("long")
            .alias("tfidf_micro"),
        )
    )
    return docs.select("doc_id").join(top, "doc_id", "left").select(
        "doc_id",
        F.coalesce("top_term", F.lit("")).alias("top_term"),
        F.coalesce("top_tf", F.lit(0)).cast("long").alias("top_tf"),
        F.coalesce("top_df", F.lit(0)).cast("long").alias("top_df"),
        F.coalesce("tfidf_micro", F.lit(0)).cast("long").alias("tfidf_micro"),
    )


def bm25(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Per-document BM25 relevance against a fixed query term list.

    score = sum_i idf_i * tf_i*(k1+1) / (tf_i + k1*(1-b + b*dl/avgdl))
    with the rational idf (see _rational_idf).  Per-term contributions
    are combined in FIXED list order as an expression chain — never a
    SQL sum() over doubles, whose accumulation order differs between
    engines — so the result is bit-reproducible and the DuckDB oracle
    restates the identical tree.

    Scale notes: tf per query term is ONE conditional aggregation over
    the exploded words filtered to the query terms (the filter prunes
    the stream to ~|terms|/|vocab| of the corpus before the shuffle);
    corpus statistics (N, total_dl, per-term df) ride in as one
    broadcast 1-row aggregate; the score itself is a map-side
    expression.  Every doc_id appears; documents missing all query
    terms score 0."""
    if not terms:
        raise ValueError("bm25 needs at least one query term")
    dl_expr = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    base = docs.select("doc_id", dl_expr.cast("long").alias("dl"))
    w = words(docs)
    wq = w.where(F.col("word").isin(*terms))
    tf_aggs = [
        F.sum(F.when(F.col("word") == t, F.lit(1)).otherwise(F.lit(0))).alias(
            f"tf_{i}"
        )
        for i, t in enumerate(terms)
    ]
    tfs = wq.groupBy("doc_id").agg(*tf_aggs)
    df_aggs = [F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")]
    stats = base.agg(*df_aggs)
    dfs = w.agg(
        *[
            F.countDistinct(F.when(F.col("word") == t, F.col("doc_id"))).alias(
                f"df_{i}"
            )
            for i, t in enumerate(terms)
        ]
    )
    t = (
        base.join(tfs, "doc_id", "left")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
    )
    for i in range(len(terms)):
        t = t.withColumn(f"tf_{i}", F.coalesce(F.col(f"tf_{i}"), F.lit(0)))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    score = F.lit(0.0)
    hits = F.lit(0)
    for i in range(len(terms)):
        tf_i = F.col(f"tf_{i}")
        idf_i = _rational_idf(F.col("n_docs"), F.col(f"df_{i}"))
        s_i = F.when(
            tf_i > 0,
            idf_i
            * (tf_i.cast("double") * F.lit(k1 + 1.0))
            / (tf_i.cast("double") + norm),
        ).otherwise(F.lit(0.0))
        score = score + s_i
        hits = hits + F.when(tf_i > 0, F.lit(1)).otherwise(F.lit(0))
    return t.select(
        "doc_id",
        "dl",
        hits.cast("long").alias("n_hit"),
        F.round(score * F.lit(float(SCORE_SCALE))).cast("long").alias("bm25_micro"),
    )
