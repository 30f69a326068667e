"""Corpus-preparation operators for LLM training-data pipelines over the
`documents` table: repetition signals, source-balanced sampling, and
concat-and-chunk sequence packing.

These extend the reference's query surface (it has no document pipeline);
they follow the same contract as the rest of the engine: pure Catalyst
expressions wherever possible, every shuffle accounted for, and a DuckDB
oracle mirror per query (registry/text_q.py).

Scale notes (100 TB):
  * repetition_signals — map-only, zero shuffle.  The per-doc top-term
    count is a sort + single run-length fold, O(n log n) in document
    length (r16; the old nested scan was O(unique x total)), never
    corpus-size-dependent.
  * domain_balance — two tiny aggregates (per-source totals: one
    map-side-combined shuffle on a low-cardinality key, then a 1-row
    rollup) broadcast back onto the doc stream; the keep/drop decision is a
    pure map.  The decision hash is content-free (doc_id), so a backfill
    re-run keeps the identical sample.
  * concat_chunk packing — the running offset is a window sum per shard.
    Shards are independent (hash of doc_id), so parallelism = shard count;
    in production shard per input file/partition so each window sort stays
    in-memory.  The boundary math is integer-exact on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# concat-and-chunk packing: training sequence length (tokens) and shard
# fan-out.  16 shards on the fixture; at corpus scale shard per input split.
PACK_SEQ_LEN = 512
SAMPLE_SALT = "bal|"
PACK_SALT = "pack|"

# unigram-LM scoring: per-token log-probs quantized to integer micro-units
# so per-doc sums are addition-order-free (exact across engines)
LM_MICRO = 1_000_000


def _max_multiplicity(arr: Column) -> Column:
    """Highest multiplicity of any element of `arr` (int; null for a null
    array), as max run length over the SORTED array — one O(n log n)
    codegen sort + ONE O(n) fold, replacing the r15-profiled O(unique x
    total) nested transform/filter scan (guide §1.2 per-task work: at
    ~200-word docs that was ~40k interpreted element evals per doc and
    15.6 s of the sf0.1 profile; this shape is ~200 per doc).  Equal
    elements are adjacent after array_sort, so the longest run IS the top
    element count — exact for any multiset, independent of sort order."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, w: Column) -> Column:
        run = F.when(acc["prev"].eqNullSafe(w), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            w.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(F.array_sort(arr), zero, step, lambda acc: acc["best"])


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition measurements, pure map stage: duplicate-word
    fraction (1 - distinct/total), most-frequent-word share, and
    most-frequent-2-gram share.  High values mark boilerplate / degenerate
    generations that quality gates should drop."""
    d = docs.withColumn("words", F.split("text", " "))
    n = F.size("words")
    uniq = F.array_distinct("words")
    top_word = _max_multiplicity(F.col("words"))
    # sequence() runs BACKWARDS when stop < start -> explicit empty branch
    grams = F.expr(
        "CASE WHEN size(words) >= 2 THEN "
        "transform(sequence(1, size(words) - 1), "
        "i -> concat_ws('|', words[i-1], words[i])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    top_gram_frac = F.when(
        F.size(grams) > 0,
        F.round(
            _max_multiplicity(grams).cast("double") / F.size(grams).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(1.0 - F.size(uniq).cast("double") / n.cast("double"), 6).alias(
            "dup_word_frac"
        ),
        F.round(top_word.cast("double") / n.cast("double"), 6).alias("top_word_frac"),
        top_gram_frac.alias("top_2gram_frac"),
    )


def _hash_frac16(salt: str, id_col: Column) -> Column:
    """Deterministic uniform-ish fraction in [0, 1): the first 16 bits of
    md5(salt || id) over 2^16.  Content-free and engine-agnostic (the oracle
    recomputes the same nibbles positionally), so sampling decisions are
    reproducible across reruns, engines, and backfills."""
    h4 = F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 4)
    return F.conv(h4, 16, 10).cast("long") / F.lit(65536.0)


def domain_balance(docs: DataFrame) -> DataFrame:
    """Source-balanced down-sampling plan: every source gets keep-rate
    min(1, fair_share / its_tokens) where fair_share = total_tokens /
    n_sources, and each doc keeps iff its salted hash-fraction < rate.
    Output one row per doc with the decision — the standard domain-mixing
    step before training-corpus assembly (over-represented crawls are
    thinned, small curated sources ride through at rate 1)."""
    d = docs.withColumn("n_tok", F.size(F.split("text", " ")))
    per_src = d.groupBy("source").agg(F.sum("n_tok").alias("src_tokens"))
    overall = per_src.agg(
        F.sum("src_tokens").alias("all_tokens"), F.count("*").alias("n_sources")
    )
    rates = per_src.join(F.broadcast(overall)).select(
        "source",
        "src_tokens",
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("all_tokens") / F.col("n_sources")) / F.col("src_tokens"),
            ),
            6,
        ).alias("keep_rate"),
    )
    u = F.round(_hash_frac16(SAMPLE_SALT, F.col("doc_id")), 6)
    return (
        d.join(F.broadcast(rates), "source")
        .withColumn("u", u)
        .select(
            "doc_id",
            "source",
            F.col("n_tok").alias("n_tokens"),
            "keep_rate",
            "u",
            (F.col("u") < F.col("keep_rate")).alias("kept"),
        )
    )


def lm_logprob(docs: DataFrame) -> DataFrame:
    """CCNet-style unigram language-model quality score: train a unigram LM
    on the corpus itself (token count / total tokens), then score each
    document by its mean per-token log10 probability.  Low scores mark
    gibberish / OOV-heavy documents; the standard perplexity-bucket filter
    before LLM training runs on exactly this statistic.

    Exactness contract: each token's log-prob is quantized to integer
    micro-units (round(log10(p) * 1e6) as BIGINT) BEFORE the per-doc sum,
    so the aggregate is integer addition — order-free, bit-identical on
    both engines regardless of partitioning.

    Scale (100 TB): token counting is the word-count shape (explode + one
    map-side-combined groupBy); the trained model (vocab x count) is
    orders of magnitude smaller than the corpus — broadcast it back onto
    the token stream, leaving ONE shuffle on doc_id for the per-doc sum.
    A 10^7-type vocab is ~100 MB — still broadcastable; beyond that the
    score join falls back to a shuffle join on the Zipf-skewed token key,
    where AQE skew splitting (tests/test_skew.py) applies."""
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    model = counts.join(F.broadcast(total)).select(
        "token",
        F.round(
            F.log10(F.col("cnt").cast("double") / F.col("total").cast("double"))
            * F.lit(LM_MICRO),
            0,
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        tok.join(F.broadcast(model), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("lp_micro") / (F.count("*") * F.lit(float(LM_MICRO))), 6
            ).alias("avg_logprob10"),
        )
    )


def length_histogram(docs: DataFrame) -> DataFrame:
    """Power-of-two token-length histogram with cumulative document share —
    the length-distribution profile that sizes packing (PACK_SEQ_LEN),
    truncation policy, and length-gated filtering.  Buckets are
    floor(log2(n_tok)) computed INTEGER-ONLY (binary-string length - 1):
    float log2 can land a power of two on either side of the boundary and
    the two engines need not agree, so no libm in the bucket decision.

    Scale: a pure map stage into a <=64-row aggregate; the cumulative
    window runs on that tiny result.  Zero data-sized state anywhere."""
    d = docs.select(
        F.expr("length(bin(size(split(text, ' ')))) - 1").alias("bucket"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    g = d.groupBy("bucket").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    alldocs = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return g.select(
        "bucket",
        F.expr("shiftleft(1, bucket)").alias("lo_tokens"),
        F.expr("shiftleft(1, bucket + 1) - 1").alias("hi_tokens"),
        "n_docs",
        "n_tokens",
        F.sum("n_docs").over(cum).alias("cum_docs"),
        F.round(
            F.sum("n_docs").over(cum).cast("double")
            / F.sum("n_docs").over(alldocs).cast("double"),
            6,
        ).alias("cum_doc_frac"),
    )


def lm_perplexity_buckets(docs: DataFrame, buckets: int = 3) -> DataFrame:
    """CCNet's head/middle/tail split: rank documents by unigram-LM score
    (lm_logprob) and assign equal-count perplexity buckets — 1 = head
    (most fluent), `buckets` = tail.  The standard quality-tiering step
    that decides which slice of a crawl enters training and at what
    sampling weight.

    Ordering is (avg_logprob10 DESC, doc_id): the score is the same
    6-dp-rounded double on both engines, and doc_id makes the total order
    unique, so the bucket assignment is deterministic.

    Scale shape (r6, VERDICT r4/r5 carryover): the naive `ntile` is a
    SINGLE-PARTITION global sort over per-document rows — the first
    operator to fall over at 100x scale.  Replaced by an exact
    distributed rank, terasort-style: `repartitionByRange` on the sort
    key spreads the sort across all shuffle partitions (range partition
    i holds globally-contiguous ranks), `row_number` runs PARTITIONED by
    partition id, and the global rank is local rank + the broadcast
    cumulative size of the preceding partitions (a <= shuffle.partitions
    row aggregate — bounded, so its own cumulative window is free).
    `ntile(k)` is then pure arithmetic on the exact rank: with n rows,
    base = n/k and rem = n%k, the first `rem` buckets hold base+1 rows —
    identical output to the engine builtin (oracle unchanged), no
    unpartitioned WindowExec over data-sized input anywhere.

    The compact per-doc projection (doc_id, n_tokens, score, _pid) is
    lazily localCheckpoint-ed after the range shuffle: the rank branch
    and the partition-size branch both hang off it, and without the
    checkpoint each would recompute the full token-scoring aggregation
    upstream (exchange reuse only captures the small model broadcast).
    Same pattern as dedup_clusters; the truncated plan is footnoted in
    PLANS.md."""
    scored = lm_logprob(docs)
    order = [F.col("avg_logprob10").desc(), F.col("doc_id")]
    # Lazy: the first action that reads `part` computes it and keeps the
    # per-doc projection in executor storage, memory first, then disk.
    # The blocks have no lineage behind them, so a lost executor fails
    # the query (rerun it).
    part = (
        scored.repartitionByRange(*order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local_w = Window.partitionBy("_pid").orderBy(*order)
    ranked = part.withColumn("_lrn", F.row_number().over(local_w))
    sizes = ranked.groupBy("_pid").agg(F.count("*").alias("_n"))
    prev_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    all_w = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = sizes.select(
        "_pid",
        F.coalesce(F.sum("_n").over(prev_w), F.lit(0)).alias("_off"),
        F.sum("_n").over(all_w).alias("_total"),
    )
    rn = F.col("_lrn") + F.col("_off")
    n, k = F.col("_total"), F.lit(buckets)
    base = F.call_function("div", n, k)
    rem = n % k
    head = rem * (base + 1)
    bucket = F.when(
        rn <= head, F.call_function("div", rn + base, base + 1)
    ).otherwise(rem + F.call_function("div", rn - head + base - 1, base))
    return (
        ranked.join(F.broadcast(offs), "_pid")
        .select(
            "doc_id",
            "n_tokens",
            "avg_logprob10",
            bucket.cast("int").alias("ppl_bucket"),
        )
    )


# TF-IDF: terms surfaced per document; sliding-window chunking geometry;
# per-source quality-selection budget
TFIDF_K = 3
CHUNK_LEN = 16
CHUNK_STRIDE = 12
SELECT_PER_SOURCE = 10
SELECT_SALT = "sel|"


def tfidf_topk(docs: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """Top-k distinguishing terms per document by TF-IDF — the classic
    keyword-extraction / topic-tagging statistic over a training corpus.

    Exactness contract: idf = log10(n_docs / df) is quantized to integer
    micro-units per TOKEN (one rounding, in the tiny model table); the
    per-(doc, token) score is then the INTEGER product tf * idf_micro, so
    ranking and ties are exact integer comparisons on both engines
    (token asc breaks score ties).

    Scale (100 TB): term frequencies are one explode + map-side-combined
    groupBy on (doc_id, token); document frequencies aggregate the ALREADY
    per-doc-distinct tf table (never the raw token stream).  The idf model
    is vocab-sized — broadcast back, same regime as lm_logprob.  The top-k
    window partitions on doc_id: maximal key cardinality, skew-free."""
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    idf = df_t.join(F.broadcast(n_docs)).select(
        "token",
        F.round(
            F.log10(F.col("n_docs").cast("double") / F.col("df").cast("double"))
            * F.lit(LM_MICRO),
            0,
        )
        .cast("long")
        .alias("idf_micro"),
    )
    scored = tf.join(F.broadcast(idf), "token").select(
        "doc_id", "token", "tf", (F.col("tf") * F.col("idf_micro")).alias("tfidf_micro")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_micro").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", F.col("rank").cast("int").alias("rank"),
                "token", "tf", "tfidf_micro")
    )


def chunk_sliding(
    docs: DataFrame, chunk: int = CHUNK_LEN, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding-window token chunking with overlap (chunk=16, stride=12 on
    the fixture; 512/384-shaped in production) — the context-window
    preparation step for RAG indexing and long-document training, where
    each document becomes ceil-overlapping windows so no token span is
    lost at a boundary.

    All geometry is integer: n_chunks = 1 + ceil((n_tok - chunk)/stride)
    via (n - chunk + stride - 1) div stride, starts at idx*stride, last
    chunk clipped to the document end.  Pure map + explode — ZERO
    shuffles; output size = (1 + overlap_factor) × input, the expected
    cost of overlap, not a join blow-up."""
    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("words"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    d = d.withColumn(
        "n_chunks",
        F.expr(
            f"CASE WHEN n_tok <= {chunk} THEN 1 "
            f"ELSE 1 + (n_tok - {chunk} + {stride - 1}) div {stride} END"
        ),
    )
    e = d.select(
        "doc_id",
        "words",
        "n_tok",
        F.explode(F.expr("sequence(0, n_chunks - 1)")).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    n_chunk = F.least(F.lit(chunk), F.col("n_tok") - start)
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.cast("int").alias("start_tok"),
        n_chunk.cast("int").alias("n_chunk_tok"),
        F.array_join(F.slice("words", start + 1, n_chunk), " ").alias("chunk_text"),
    )


def quality_topk_per_source(
    docs: DataFrame, k: int = SELECT_PER_SOURCE, salt_buckets: int = 8
) -> DataFrame:
    """Per-source quality-budget selection: keep each source's top-k
    documents by the engine's composite quality score (text_q quality
    formula), ties broken by doc_id — the "select the best B docs per
    domain" step of curriculum / quality-weighted corpus construction.

    Runs the scale-safe TWO-PHASE top-k: phase 1 takes top-k within
    (source, md5-salt bucket) so no single window ever sorts a whole
    source; phase 2 ranks the ≤ salt_buckets×k survivors per source.
    Global top-k survives any partition-wise pruning to per-partition
    top-k, so the result — and the DuckDB oracle, which uses the plain
    single-window formulation — is identical to the unsalted query.
    Ranking compares score_micro (the 6-dp-rounded score in integer
    micro-units), never raw doubles."""
    words = F.split("text", " ")
    n_tok = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: (w == "the") | (w == "a")))
    avg_len = (F.length("text") - (n_tok - 1).cast("double")) / n_tok.cast("double")
    stop_ratio = n_stop.cast("double") / n_tok.cast("double")
    score = F.round(avg_len * 0.1 + (1.0 - stop_ratio) * 0.9, 6)
    scored = docs.select(
        "source",
        "doc_id",
        score.alias("quality_score"),
        F.round(score * F.lit(1_000_000), 0).cast("long").alias("score_micro"),
        F.expr(
            f"CAST(conv(substring(md5(concat('{SELECT_SALT}', CAST(doc_id AS STRING))), 1, 2), 16, 10) AS INT) % {salt_buckets}"
        ).alias("salt"),
    )
    w1 = Window.partitionBy("source", "salt").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    partial = scored.withColumn("r1", F.row_number().over(w1)).filter(
        F.col("r1") <= k
    )
    w2 = Window.partitionBy("source").orderBy(
        F.col("score_micro").desc(), F.col("doc_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("source", F.col("rank").cast("int").alias("rank"),
                "doc_id", "quality_score")
    )


# Packing shard width (VERDICT r10 #3): shards = 16 ** PACK_SHARD_CHARS.
# 1 hex char = 16 shards preserves every existing fixture/oracle; pass
# shard_chars explicitly to scale.  Per-shard state bound: each shard
# collect_lists ~N / 16**shard_chars (doc_id, n_tok) structs (~24 B each)
# into one task, so size shard_chars so that bound fits executor memory —
# e.g. 10^10 docs at <= 10^7 docs/task (~240 MB) needs shard_chars >= 3
# (4096 shards).  ceil(log16(N / docs_per_task)) is the general rule.
PACK_SHARD_CHARS = 1


def _pack_base(docs: DataFrame, shard_chars: int = PACK_SHARD_CHARS) -> DataFrame:
    """(doc_id, shard, n_tok) with the md5 packing shard (first
    `shard_chars` hex chars -> 16**shard_chars shards) — shared by both
    packing strategies."""
    return docs.select(
        "doc_id",
        F.substring(
            F.md5(F.concat(F.lit(PACK_SALT), F.col("doc_id").cast("string"))),
            1,
            shard_chars,
        ).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )


def greedy_bin_pack(
    docs: DataFrame, cap: int = PACK_SEQ_LEN, shard_chars: int = PACK_SHARD_CHARS
) -> DataFrame:
    """Greedy NO-SPLIT bin packing (next-fit): within a shard, docs in
    doc_id order go into the current bin while they fit; a doc that would
    overflow opens a new bin.  Oversized docs (> cap tokens) sit alone in
    their own bin (truncation is the caller's policy).  Emits each doc's
    (bin_idx, bin_off) placement — the packing used when documents must not
    straddle sequence boundaries (e.g. masked-LM or instruction tuning).

    Sequential state, so it runs as the engine's standard per-group fold
    (collect sorted array + F.aggregate, the operators/decimation.py
    shape): ONE shuffle on shard, state bounded per shard, shards
    independent.  `shard_chars` is the scale knob (see PACK_SHARD_CHARS:
    each shard folds ~N/16**shard_chars docs in one task).  The DuckDB
    oracle replays the same fold as a recursive CTE.

    PREFIX STABILITY (the sampled-contract lever, VERDICT r10 #3):
    next-fit state depends only on earlier docs in the same shard, and
    shard order is doc_id order — so restricting the input to any doc_id
    prefix (doc_id < T) reproduces the full run's placements for those
    docs exactly.  tests/test_corpus.py pins this property."""
    packed = _pack_base(docs, shard_chars).groupBy("shard").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n_tok"))).alias("ds")
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("bin"),
        F.lit(0).cast("long").alias("fill"),
        F.array()
        .cast("array<struct<d:bigint,b:bigint,o:bigint,n:int>>")
        .alias("writes"),
    )

    def step(acc, p):
        n = p.getField("n_tok").cast("long")
        new_bin = (acc.getField("fill") > 0) & ((acc.getField("fill") + n) > cap)
        bin_ = acc.getField("bin") + F.when(new_bin, F.lit(1)).otherwise(F.lit(0)).cast(
            "long"
        )
        off = F.when(new_bin, F.lit(0).cast("long")).otherwise(acc.getField("fill"))
        fill = F.when(new_bin, n).otherwise(acc.getField("fill") + n)
        return F.struct(
            bin_.alias("bin"),
            fill.alias("fill"),
            F.concat(
                acc.getField("writes"),
                F.array(
                    F.struct(
                        p.getField("doc_id").alias("d"),
                        bin_.alias("b"),
                        off.alias("o"),
                        p.getField("n_tok").alias("n"),
                    )
                ),
            ).alias("writes"),
        )

    folded = packed.select(
        "shard", F.aggregate("ds", zero, step).getField("writes").alias("w")
    )
    out = folded.select("shard", F.explode("w").alias("wr"))
    return out.select(
        F.col("wr.d").alias("doc_id"),
        "shard",
        F.col("wr.n").alias("n_tokens"),
        F.col("wr.b").alias("bin_idx"),
        F.col("wr.o").alias("bin_off"),
    )


def concat_chunk_pack(
    docs: DataFrame, seq_len: int = PACK_SEQ_LEN, shard_chars: int = PACK_SHARD_CHARS
) -> DataFrame:
    """GPT-style concat-and-chunk packing plan: within a shard, documents
    concatenate in doc_id order and split into fixed `seq_len` token
    sequences; a document may straddle a sequence boundary.  Emits each
    doc's byte-exact placement: shard, running start offset, first/last
    sequence index, and whether it was split across sequences.

    This is the window-expressible packing (what GPT-2/3-lineage pipelines
    do); greedy_bin_pack is the no-split alternative.  `shard_chars` sizes
    the per-shard window partition (see PACK_SHARD_CHARS) — unlike the
    fold, the window sort spills, but a shard should still bound to a few
    tasks' worth of rows."""
    d = _pack_base(docs, shard_chars)
    w = Window.partitionBy("shard").orderBy("doc_id")
    start = F.sum("n_tok").over(w) - F.col("n_tok")
    first_seq = F.floor(start / F.lit(seq_len))
    last_seq = F.floor((start + F.col("n_tok") - 1) / F.lit(seq_len))
    return d.select(
        "doc_id",
        "shard",
        F.col("n_tok").alias("n_tokens"),
        start.alias("start_off"),
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq > first_seq).alias("split_across"),
    )


LENGTH_PCTS = (0.5, 0.9, 0.99)
MIX_ALPHA = 0.5
SHUFFLE_BUCKETS = 64
SHUFFLE_SALT = "shuf|"


def length_percentiles(docs: DataFrame) -> DataFrame:
    """Per-language exact length percentiles (p50/p90/p99 of n_chars) —
    the distribution snapshot a data card reports next to the histogram.

    Version-proofed r5 (ORACLES-PORTABILITY.md): no engine percentile
    builtin on either side.  The continuous percentile at q over n sorted
    values sits at 0-based position q*(n-1); with q = qnum/100 the
    position is the INTEGER idx100 = qnum*(n-1) in centi-rank units, so
    lo = idx100 // 100, rem = idx100 % 100, and
    p_q = x_lo + rem * (x_hi - x_lo) / 100 — integer rank selection plus
    one float division, identical expression on both engines (the builtin
    interpolation was the same formula, but its float position arithmetic
    is engine-version-owned; this form is not).

    Shape: one partitioned rank window per (lang) + a conditional-sum
    aggregate on the same key — exact percentile still sorts per group,
    fine for the per-language rollup; the documented 100 TB swap is
    approx_percentile (t-digest, mergeable map-side) when group row
    counts exceed executor memory.

    NULL hardening (r6, ORACLES-PORTABILITY.md): NULL n_chars rows are
    filtered before the rank window on BOTH engines — the replaced
    percentile builtin ignored NULLs, and a ranked NULL would diverge
    anyway (Spark NULLS FIRST ascending vs DuckDB NULLS LAST)."""
    grp = Window.partitionBy("lang")
    ranked = docs.filter(F.col("n_chars").isNotNull()).select(
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(grp.orderBy("n_chars")).alias("rn"),
        F.count("*").over(grp).alias("cnt"),
    )
    aggs = [F.count("*").alias("n_docs")]
    for p in LENGTH_PCTS:
        qnum = int(round(p * 100))
        idx100 = F.lit(qnum) * (F.col("cnt") - 1)
        lo_rn = F.call_function("div", idx100, F.lit(100)) + 1
        rem = idx100 % 100
        x_lo = F.sum(F.when(F.col("rn") == lo_rn, F.col("x")).otherwise(0))
        x_hi = F.sum(F.when(F.col("rn") == lo_rn + 1, F.col("x")).otherwise(0))
        rem_first = F.first(rem)
        val = F.when(
            rem_first == 0, x_lo.cast("double")
        ).otherwise(x_lo + rem_first * (x_hi - x_lo) / F.lit(100.0))
        aggs.append(F.round(val, 6).alias(f"p{qnum}_chars"))
    return ranked.groupBy("lang").agg(*aggs)


BM25_QUERY = ("spark", "window", "hash")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def bm25_topk(docs: DataFrame, query=BM25_QUERY, k: int = BM25_TOPK) -> DataFrame:
    """BM25 retrieval scoring for a fixed query-term set, top-k documents —
    the standard lexical ranker (Lucene idf form: ln((N-df+.5)/(df+.5)+1))
    a retrieval-augmented pipeline runs before rerank.

    Exactness contract (ORACLES-PORTABILITY.md SS11): every BM25 input is
    an exact integer (tf, dl, N, df, total_tokens); each (doc, term)
    score is ONE deterministic double expression over those integers with
    IDENTICAL parenthesization on both engines (dl/avgdl expanded to
    (dl*N)/T so no intermediate rational), micro-quantized per term, then
    integer-summed per doc.  ln is the same correctly-rounded libm on
    both engines (same class as the log10/log2 slugs).

    Scale: dl comes from a pure map (size(split)) — no explode needed for
    lengths; the token explode filters to the |Q| query terms BEFORE the
    (doc, term) aggregate, so the shuffle carries at most |Q| rows per
    doc.  df and the corpus stats are tiny broadcast aggregates; the
    final top-k is orderBy+limit — per-partition heaps
    (TakeOrderedAndProject), never a global sort — with rank attached by
    a window over the <= k surviving rows."""
    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).cast("long").alias("dl"),
    )
    stats = d.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tok")
    )
    tok = d.select("doc_id", "dl", F.explode("w").alias("t")).filter(
        F.col("t").isin(*query)
    )
    tf = tok.groupBy("doc_id", "t").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl")
    )
    dfq = tf.groupBy("t").agg(F.count("*").alias("df"))
    jn = tf.join(F.broadcast(dfq), "t").crossJoin(F.broadcast(stats))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf").cast("double") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B)
        * (
            (F.col("dl") * F.col("n_docs")).cast("double")
            / F.col("total_tok").cast("double")
        )
    )
    term_micro = F.round(
        idf * (F.col("tf").cast("double") * F.lit(BM25_K1 + 1.0)) / denom
        * F.lit(1_000_000.0),
        0,
    ).cast("long")
    agg = jn.select("doc_id", term_micro.alias("m")).groupBy("doc_id").agg(
        F.sum("m").alias("bm25_micro")
    )
    top = agg.orderBy(F.desc("bm25_micro"), "doc_id").limit(k)
    w = Window.orderBy(F.desc("bm25_micro"), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "bm25_micro",
    )


ENTROPY_MICRO = 1_000_000


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic
    cheap quality signal (low entropy = boilerplate / repeated spans /
    degenerate generations; high = encrypted or binary junk) that
    pretraining filters threshold alongside the length/stopword gates.

    Exactness contract (ORACLES-PORTABILITY.md SS11): each character
    class's term -p*log2(p) is ONE deterministic double expression on the
    exact integer pair (n_c, n) — both engines compute identical bits
    (log2 verified bit-identical libm) — rounded to integer micro-nats
    PER TERM, then integer-summed (order-free).  Terms are nonnegative
    (p <= 1), so round-half-up and round-half-away coincide.

    Scale: char explode fans out x n_chars, but the first aggregate
    collapses to (doc, char-class) — alphabet-bounded (~10^2 rows/doc);
    everything downstream is keyed on doc_id and rides one hash
    partitioning.  No window, no self-join."""
    ch = docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
    per = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("n_c"))
    tot = per.groupBy("doc_id").agg(
        F.sum("n_c").alias("n"), F.count("*").alias("n_distinct")
    )
    j = per.join(tot, "doc_id")
    p_ratio = F.col("n_c").cast("double") / F.col("n").cast("double")
    term_micro = F.round(
        -(p_ratio * F.log2(p_ratio)) * F.lit(float(ENTROPY_MICRO)), 0
    ).cast("long")
    return j.groupBy("doc_id").agg(
        F.max("n").alias("n_chars_counted"),
        F.max("n_distinct").alias("n_distinct_chars"),
        F.sum(term_micro).alias("entropy_micro"),
    )


def mixture_weights(docs: DataFrame, alpha: float = MIX_ALPHA) -> DataFrame:
    """Temperature-scaled source mixture weights: w_src ∝ tokens_src^alpha,
    normalized — the multinomial sampling-temperature recipe from
    multilingual / multi-corpus LM training (alpha < 1 upsamples small
    sources).  One low-cardinality aggregate, then the normalizer joins
    back as a broadcast scalar — no window over a single partition, so the
    shape survives any source count."""
    per = docs.withColumn("n_tok", F.size(F.split("text", " "))).groupBy(
        "source"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    per = per.withColumn("w_raw", F.pow(F.col("n_tokens").cast("double"), alpha))
    total = per.agg(F.sum("w_raw").alias("w_total"))
    return (
        per.crossJoin(F.broadcast(total))
        .withColumn("mix_weight", F.round(F.col("w_raw") / F.col("w_total"), 6))
        .select("source", "n_docs", "n_tokens", "mix_weight")
    )


def shuffle_layout(docs: DataFrame, buckets: int = SHUFFLE_BUCKETS) -> DataFrame:
    """Deterministic global training-order shuffle, bucket-parallel: order
    key = md5(salt || doc_id); bucket = first 16 hash bits mod `buckets`;
    rank = row_number within the bucket by (hash, doc_id).  Global order is
    (bucket, rank) — a reader streams buckets in index order and gets the
    same permutation every epoch/backfill.

    This is the scale-correct form of ORDER BY random(): each bucket's sort
    is independent (parallelism = bucket count, like a terasort range
    shuffle), there is NO single-partition global window, and the key is
    content-free so re-runs are idempotent."""
    h = F.md5(F.concat(F.lit(SHUFFLE_SALT), F.col("doc_id").cast("string")))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % buckets).alias(
        "bucket"
    )
    d = docs.select("doc_id", h.alias("h"), bucket)
    w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    return d.select(
        "doc_id",
        "bucket",
        F.row_number().over(w).alias("rank_in_bucket"),
    )


BPE_TOPK = 20


def bpe_pair_topk(docs: DataFrame, k: int = BPE_TOPK) -> DataFrame:
    """First BPE merge-table step: corpus-wide adjacent character-pair
    frequencies (weighted by word occurrences), top-k by count with a
    deterministic (count desc, pair asc) tie-break — the statistic the
    tokenizer-training loop computes each merge round.

    Shape: word explode -> word-frequency aggregate (vocab-sized, map-side
    combined) -> per-word char-pair explode weighted by freq -> pair
    aggregate.  The final rank window runs over the AGGREGATED pair table
    (bounded by charset^2, a few hundred rows), so the single-partition
    window is a constant-size epilogue, not a data-sized sort."""
    vocab = (
        _spread_docs(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("n_occurrences"))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", "pair", "n_occurrences")
    )


def _spread_docs(docs: DataFrame) -> DataFrame:
    from airstrik_py_spark.operators.dedup import _spread

    return _spread(docs)


STRAT_QUOTA = 10
STRAT_SALT = "strat|"


def salted_sample_candidates(
    df: DataFrame,
    part: str = "source",
    quota: int = STRAT_QUOTA,
    buckets: int = 8,
    id_col: str = "doc_id",
    extra_part: tuple = (),
) -> DataFrame:
    """Phase 1 of the two-phase salted per-stratum top-`quota` (shared by
    stratified_sample_exact and pipeline_corpus_release): rank rows within
    (part, md5-salt bucket) by the content-free stratified hash order
    (h, id).  A row with r1 > quota cannot be in the global per-part
    top-quota — per-bucket pruning preserves the global top-k — so phase 2
    only ever handles <= buckets x quota rows per stratum.  No window here
    partitions by the bare stratum key, so a hot stratum cannot funnel
    through one partition at 100 TB.  The salt bucket derives from the
    already-materialized digest (no second md5 per row).  Adds columns:
    `h` (order hash) and `r1` (phase-1 rank).

    `extra_part` (r15): additional partition columns for callers that rank
    an UNFILTERED frame — partitioning by a boolean eligibility flag ranks
    the eligible rows exactly as a pre-filtered frame would (a subset's
    row_number under the same ordering is order-isomorphic), letting one
    frame feed both the sample and unconditional rollups without being
    evaluated twice."""
    h = F.md5(F.concat(F.lit(STRAT_SALT), F.col(id_col).cast("string")))
    d = df.withColumn("h", h)
    salt = F.expr(f"CAST(conv(substring(h, 1, 2), 16, 10) AS INT) % {buckets}")
    w = Window.partitionBy(part, salt, *extra_part).orderBy("h", id_col)
    return d.withColumn("r1", F.row_number().over(w))


def stratified_sample_exact(docs: DataFrame, quota: int = STRAT_QUOTA) -> DataFrame:
    """Exact-size uniform sample per source: rank documents inside each
    stratum by a content-free salted hash (idempotent across re-runs and
    backfills) and keep the first `quota` — the EXACT-count counterpart of
    domain_balance's keep-rate thresholding (which is only exact in
    expectation).

    Skew-safe since r4: phase 1 ranks within (source, salt bucket)
    (salted_sample_candidates), and phase 2 folds the <= buckets x quota
    survivors per source into a sorted bounded array whose posexplode
    yields the final ranks — so no window ever sorts a whole hot stratum,
    and the exchange after phase 1 moves O(buckets x quota) structs per
    source, never rows.  Output identical to the unsalted single-window
    form (the DuckDB oracle keeps that formulation; hypothesis
    property-tests pin the equivalence on skewed/dirty inputs)."""
    cand = salted_sample_candidates(
        docs.select("doc_id", "source"), quota=quota
    )
    top = cand.groupBy("source").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("r1") <= quota,
                        F.struct("h", F.col("doc_id").alias("d")),
                    )
                )
            ),
            1,
            quota,
        ).alias("top")
    )
    return top.select("source", F.posexplode("top")).select(
        F.col("col.d").alias("doc_id"),
        "source",
        (F.col("pos") + 1).cast("int").alias("rank_in_source"),
    )


DSIR_BUCKETS = 64
DSIR_TARGET_LANG = "en"


def dsir_weights(docs: DataFrame, n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score each document
    by the log-likelihood ratio of a TARGET distribution (here the
    lang-tagged reference slice) vs the RAW corpus under hashed unigram
    features — the importance-resampling signal a pretraining pipeline
    uses to upsample target-like data.

    Exactness contract (the bm25_topk recipe): both feature distributions
    are exact integer counts (occurrences per hashed bucket, add-one
    smoothed); each bucket's log-ratio is ONE deterministic double
    expression over those integers with identical parenthesization on
    both engines, micro-quantized per bucket; a document's score is then
    the exact integer sum of count x bucket-micro.  Feature hashing is
    md5-hex -> first 8 nibbles -> % n_buckets, the engine-agnostic house
    hash (sampling.py recipe).

    Scale: token explode -> (doc, bucket) count is the only data-sized
    exchange (map-side combined, bucket domain bounded at n_buckets so
    per-doc rows are capped); the bucket distribution table is n_buckets
    rows — a broadcast; raw totals are 1-row aggregates.  At 10^12 docs
    the target/raw bucket tables are incrementally maintainable counters
    (merge-able sums), so scoring a new batch never re-reads the corpus."""
    tok = docs.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
        F.explode(F.split("text", " ")).alias("t"),
    ).select(
        "doc_id",
        "is_target",
        (F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long") % n_buckets).alias(
            "bucket"
        ),
    )
    per_doc = tok.groupBy("doc_id", "is_target", "bucket").agg(
        F.count("*").alias("n")
    )
    dist = per_doc.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(0)).alias("ct"),
        F.sum("n").alias("cr"),
    )
    totals = dist.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    lr_micro = F.round(
        (
            F.log(
                (F.col("ct") + 1).cast("double")
                / (F.col("tt") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("cr") + 1).cast("double")
                / (F.col("tr") + n_buckets).cast("double")
            )
        )
        * F.lit(1_000_000.0),
        0,
    ).cast("long")
    table = dist.crossJoin(F.broadcast(totals)).select(
        "bucket", lr_micro.alias("lr_micro")
    )
    scored = (
        per_doc.join(F.broadcast(table), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tok"),
            F.sum(F.col("n") * F.col("lr_micro")).alias("dsir_micro"),
        )
    )
    return scored


MIX_BUDGET_TOKENS = 1_000_000


def token_allocation(docs: DataFrame, budget: int = MIX_BUDGET_TOKENS) -> DataFrame:
    """Hamilton largest-remainder apportionment of a global token budget
    across sources — the integer-exact quota step a data-mix pipeline
    runs AFTER choosing mixture proportions: every source gets
    floor(budget * tokens_src / T), and the leftover seats go to the
    largest fractional remainders (ties: source ascending).  The output
    allocations sum to EXACTLY the budget — no float proportions, no
    rounding drift (the apportionment invariant the test pins).

    Exactness: quotient and remainder come from IntegralDivide/mod on
    BIGINT (budget x tokens ~ 10^6 x 10^9 fits comfortably; beyond that
    the decimal(38,0) ladder in ha_micro applies).  The remainder-rank
    window runs over |sources| rows AFTER aggregation — bounded, never a
    window over docs.

    Scale: one map-side-combined source aggregate + 1-row broadcasts; the
    per-source frame is what the sampler (sample_domain_balance /
    select_quality_topk) consumes as its quota table."""
    from pyspark.sql import Window

    per = docs.withColumn("n_tok", F.size(F.split("text", " "))).groupBy(
        "source"
    ).agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    tot = per.agg(F.sum("n_tokens").alias("t_all"))
    j = per.crossJoin(F.broadcast(tot))
    num = F.lit(budget).cast("long") * F.col("n_tokens")
    j = j.withColumn(
        "base", F.call_function("div", num, F.col("t_all")).cast("long")
    ).withColumn("rem", (num % F.col("t_all")).cast("long"))
    leftover = j.agg(
        (F.lit(budget) - F.sum("base")).cast("long").alias("k_extra")
    )
    w = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    ranked = j.withColumn("rr", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(leftover))
        .withColumn(
            "alloc_tokens",
            (F.col("base") + F.when(F.col("rr") <= F.col("k_extra"), 1).otherwise(0)
             ).cast("long"),
        )
        .select("source", "n_tokens", "alloc_tokens")
    )
