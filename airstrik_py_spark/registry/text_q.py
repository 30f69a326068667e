"""t2 queries for text analysis + multimodal plumbing over `documents`:
language-ID heuristic, quality scoring, token counting, rolling-hash
fingerprint, binary-column feature extraction (mapInPandas)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.operators.corpus import PACK_SALT, PACK_SEQ_LEN, SAMPLE_SALT
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import load_table

STOPWORDS = ("the", "a")
FNV_MOD = 1000000007


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram language-ID heuristic: English bigram 'th' density (the
    fixture text is English-ish word soup regardless of its lang tag)."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    th_count = (F.length("text") - F.length(F.regexp_replace("text", "th", ""))) / 2.0
    score = F.round(th_count / F.length("text"), 6)
    return d.select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        score.alias("en_score"),
        F.when(score > 0.01, F.lit("en")).otherwise(F.lit("other")).alias("guessed_lang"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, mean token length, stopword ratio, and
    a composite score — all Catalyst expressions."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    n_tok = F.size("words")
    n_stop = F.size(
        F.filter("words", lambda w: (w == STOPWORDS[0]) | (w == STOPWORDS[1]))
    )
    avg_len = (F.length("text") - (n_tok - 1).cast("double")) / n_tok.cast("double")
    stop_ratio = n_stop.cast("double") / n_tok.cast("double")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(avg_len * 0.1 + (1.0 - stop_ratio) * 0.9, 6).alias("quality_score"),
    )


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex word tokens + chars."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+")).alias("n_word_tokens"),
        F.length("text").alias("n_chars"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over the token stream (order-sensitive
    document fingerprint), exact int64 arithmetic on both engines."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents").withColumn("words", F.split("text", " "))
    terms = F.transform(
        "words",
        lambda w: (F.length(w) + F.lit(7) * F.ascii(F.substring(w, 1, 1))).cast("long"),
    )
    fp = F.aggregate(
        terms,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FNV_MOD,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end (VERDICT r10 #2): build genuine PNG
    (even doc_id, per-row filters 0-4) / PCM WAV (odd doc_id) container
    bytes, then parse them back with the pure-stdlib decoders in
    functions/codecs.py — zlib inflate, scanline unfiltering, CRC checks,
    RIFF chunk walk.  Pixel/sample content is a closed form of doc_id, so
    the oracle recomputes the expected channel sums WITHOUT a decoder: any
    roundtrip corruption mismatches.  (Encoder and decoder are independent
    spec implementations; tests/test_multimodal_real.py additionally
    decodes a hand-built PNG byte stream.)"""
    from airstrik_py_spark.operators.multimodal import (
        attach_real_media,
        extract_features_real,
    )

    pin_session(spark)
    media = attach_real_media(load_table(spark, sf_dir, "documents"))
    return extract_features_real(media)


RESIZE_REAL_FACTOR = 2


def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode + pixel-level downsample (r12, extends the decode-real
    lane): genuine PNG/BMP/WAV container bytes are decoded and
    nearest-neighbor subsampled by factor 2 (every 2nd frame for WAV);
    output is the resized dims + integer channel sums over the KEPT
    pixels/frames only.  The oracle recomputes those sums closed-form from
    the deterministic content formula — no decoder, no resize code in SQL —
    so any corruption in decode, subsample indexing, or the ceil-div dims
    mismatches."""
    from airstrik_py_spark.operators.multimodal import (
        attach_real_media,
        resize_real,
    )

    pin_session(spark)
    media = attach_real_media(load_table(spark, sf_dir, "documents"))
    return resize_real(media, factor=RESIZE_REAL_FACTOR)


GATE_MIN_WORDS = 30
GATE_MAX_WORDS = 1000
GATE_MIN_AVG_LEN = 3.0
GATE_MAX_AVG_LEN = 10.0
GATE_MAX_DUP3 = 0.5


def _gate_exprs():
    """The quality-gate Column expressions (against a frame holding `text`
    and `words`), shared by q_text_quality_gates and the composed
    pipeline_corpus_manifest so the two can never silently diverge.
    Returns (n_tok, dup3, g_words, g_avg, g_stop, g_dup)."""
    n_tok = F.size("words")
    avg_len = (F.length("text") - (n_tok - 1).cast("double")) / n_tok.cast("double")
    # guarded like dedup._shingle_array: sequence() runs BACKWARDS when
    # stop < start, so short docs need the explicit empty branch
    grams = F.expr(
        "CASE WHEN size(words) >= 3 THEN "
        "transform(sequence(1, size(words) - 2), "
        "i -> concat_ws('|', words[i-1], words[i], words[i+1])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    dup3 = F.when(
        F.size(grams) > 0,
        F.round(
            1.0 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    g_words = (n_tok >= GATE_MIN_WORDS) & (n_tok <= GATE_MAX_WORDS)
    g_avg = (F.round(avg_len, 6) >= GATE_MIN_AVG_LEN) & (
        F.round(avg_len, 6) <= GATE_MAX_AVG_LEN
    )
    g_stop = F.size(F.filter("words", lambda w: (w == STOPWORDS[0]) | (w == STOPWORDS[1]))) > 0
    g_dup = dup3 <= GATE_MAX_DUP3
    return n_tok, dup3, g_words, g_avg, g_stop, g_dup


def q_text_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style hard quality gates, pure Catalyst: word-count range,
    mean-word-length range, stopword presence, and the Gopher duplicate
    word-3-gram fraction (1 - distinct/total), AND-folded into `keep`.
    At 100 TB this is a single narrow map stage — no shuffle at all."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents").withColumn("words", F.split("text", " "))
    _n_tok, dup3, g_words, g_avg, g_stop, g_dup = _gate_exprs()
    return d.select(
        "doc_id",
        g_words.alias("gate_word_count"),
        g_avg.alias("gate_avg_word_len"),
        g_stop.alias("gate_has_stopword"),
        dup3.alias("dup_3gram_frac"),
        g_dup.alias("gate_repetition"),
        (g_words & g_avg & g_stop & g_dup).alias("keep"),
    )


def q_corpus_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level rollup by (source, lang): doc/token/char totals, mean
    chars, exact median token count.  One partitioned window (rank within
    group) + one map-side-combined shuffle on the same low-cardinality
    key — AQE reuses the window's hash partitioning for the groupBy.

    Integer-exact AND median-free (house rule, hardened r5): the r3/r4
    driver-hash mismatches traced to engine `median()` builtins — DuckDB
    versions disagree on interpolated-vs-discrete median for even-count
    groups (55 of 97 fixture groups have an even count with differing
    middle values).  So neither engine's median builtin appears on either
    side: `median_tokens_x2` is the explicit SUM OF THE TWO MIDDLE ORDER
    STATISTICS — rank the per-doc token counts within each group
    (row_number over n_tok; ties share the same value, so the ranked
    value is deterministic), then sum n_tok over ranks (n+1)//2 and
    (n+2)//2 (odd n: both ranks coincide, weight 2).  Pure integer
    arithmetic — no engine version can reinterpret it.
    `avg_chars_micro` is round-half-away(mean * 1e6) via true
    IntegralDivide over decimal(38,0) (no engine float path, no 2^53
    loss at 100 TB sums)."""
    pin_session(spark)
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    from airstrik_py_spark.functions.exact import ha_micro

    # NULL hardening (r6, ORACLES-PORTABILITY.md): the rollup covers
    # complete rows only — a NULL text/n_chars would rank divergently
    # (Spark NULLS FIRST vs DuckDB NULLS LAST) and size(split(NULL)) is
    # engine-config-sensitive; the filter is mirrored in the oracle.
    base = d.filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        "source", "lang", "n_chars", F.size(F.split("text", " ")).alias("n_tok")
    )
    grp = Window.partitionBy("source", "lang")
    ranked = base.select(
        "source",
        "lang",
        "n_chars",
        "n_tok",
        F.row_number().over(grp.orderBy("n_tok")).alias("rn"),
        F.count("*").over(grp).alias("cnt"),
    )
    lo = F.call_function("div", F.col("cnt") + 1, F.lit(2))
    hi = F.call_function("div", F.col("cnt") + 2, F.lit(2))
    mid_weight = (F.col("rn") == lo).cast("long") + (F.col("rn") == hi).cast("long")
    avg_micro = ha_micro(F.sum("n_chars"), F.count("*"))
    return (
        ranked.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            avg_micro.alias("avg_chars_micro"),
            F.sum(F.col("n_tok") * mid_weight).alias("median_tokens_x2"),
        )
    )


def split_expr(doc_id_col: F.Column) -> F.Column:
    """The deterministic train/eval split rule — ONE definition shared by
    q_split_train_eval and the decontamination check (extras_q), so the
    two can never silently diverge."""
    nib = F.substring(F.md5(doc_id_col.cast("string")), 1, 1)
    return F.when(nib < "c", F.lit("train")).otherwise(F.lit("eval"))


def q_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split by content-free id hash: first hex
    nibble of md5(doc_id) < 'c' -> train (~75%).  Engine-agnostic and
    stable under reruns/backfills — the property a training pipeline needs
    from a split (no RNG, no row order dependence).  Pure map stage."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("hash_nibble"),
        split_expr(F.col("doc_id")).alias("split"),
    )


VOCAB_TOP_K = 100


def q_corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-K tokens by document frequency
    (distinct docs containing the token) and total occurrences.  Classic
    word-count shape: explode -> one map-side-combined groupBy on token;
    the top-K is a TakeOrdered reduction (no global sort materialization).
    Ties break by token text for cross-engine determinism."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    counts = tok.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(VOCAB_TOP_K)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (duplicate-word / top-word / top-2-gram
    shares) — operators/corpus.py::repetition_signals over documents."""
    from airstrik_py_spark.operators.corpus import repetition_signals

    pin_session(spark)
    return repetition_signals(load_table(spark, sf_dir, "documents"))


def q_sample_domain_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-balanced sampling plan — operators/corpus.py::domain_balance:
    per-source keep rates toward a uniform token mix, content-free hash
    keep/drop decision per doc."""
    from airstrik_py_spark.operators.corpus import domain_balance

    pin_session(spark)
    return domain_balance(load_table(spark, sf_dir, "documents"))


def q_pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence-packing plan —
    operators/corpus.py::concat_chunk_pack with the default 512-token
    sequences over 16 md5 shards."""
    from airstrik_py_spark.operators.corpus import concat_chunk_pack

    pin_session(spark)
    return concat_chunk_pack(load_table(spark, sf_dir, "documents"))


def q_pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy no-split (next-fit) bin packing —
    operators/corpus.py::greedy_bin_pack: per-shard sequential fold, docs
    never straddle a bin boundary."""
    from airstrik_py_spark.operators.corpus import greedy_bin_pack

    pin_session(spark)
    return greedy_bin_pack(load_table(spark, sf_dir, "documents"))


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality score —
    operators/corpus.py::lm_logprob: corpus-trained unigram model broadcast
    onto the token stream, per-doc mean log10 prob in exact integer
    micro-units."""
    from airstrik_py_spark.operators.corpus import lm_logprob

    pin_session(spark)
    return lm_logprob(load_table(spark, sf_dir, "documents"))


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram with cumulative doc share —
    operators/corpus.py::length_histogram: integer-only bucket decision
    (binary-string length, no float log2)."""
    from airstrik_py_spark.operators.corpus import length_histogram

    pin_session(spark)
    return length_histogram(load_table(spark, sf_dir, "documents"))


def q_lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tiers —
    operators/corpus.py::lm_perplexity_buckets: ntile(3) over the
    deterministic (score DESC, doc_id) total order."""
    from airstrik_py_spark.operators.corpus import lm_perplexity_buckets

    pin_session(spark)
    return lm_perplexity_buckets(load_table(spark, sf_dir, "documents"))


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — operators/corpus.py::tfidf_topk:
    integer micro-unit idf broadcast onto the per-doc tf table, exact
    integer ranking."""
    from airstrik_py_spark.operators.corpus import tfidf_topk

    pin_session(spark)
    return tfidf_topk(load_table(spark, sf_dir, "documents"))


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunks with overlap —
    operators/corpus.py::chunk_sliding: integer geometry, zero shuffles."""
    from airstrik_py_spark.operators.corpus import chunk_sliding

    pin_session(spark)
    return chunk_sliding(load_table(spark, sf_dir, "documents"))


def q_select_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-budget selection (two-phase salted top-k) —
    operators/corpus.py::quality_topk_per_source."""
    from airstrik_py_spark.operators.corpus import quality_topk_per_source

    pin_session(spark)
    return quality_topk_per_source(load_table(spark, sf_dir, "documents"))


def q_pipeline_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-corpus pipeline in ONE query: quality gates
    (_gate_exprs) -> exact dedup among the quality-kept docs (min doc_id
    per md5 digest wins) -> deterministic train/eval split (split_expr) ->
    per-(split, source) manifest rollup with kept doc/token counts.

    Shape: one narrow map stage (gates + digest + split are all
    expressions), ONE hash-exchange for the per-digest window, one
    map-side-combined rollup on the tiny (split, source) key.  The window
    partitions by (digest, keep_q) so the canonical-pick never re-ranks
    rejected docs into the kept set."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents").withColumn("words", F.split("text", " "))
    n_tok, _dup3, g_words, g_avg, g_stop, g_dup = _gate_exprs()
    d = (
        d.withColumn("n_tok", n_tok)
        .withColumn("keep_q", g_words & g_avg & g_stop & g_dup)
        .withColumn("digest", F.md5("text"))
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("digest", "keep_q").orderBy("doc_id")
    )
    d = d.withColumn("kept", F.col("keep_q") & (rn == 1))
    return (
        d.withColumn("split", split_expr(F.col("doc_id")))
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep_q").cast("int")).alias("n_quality"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0))).alias(
                "tokens_kept"
            ),
        )
    )


QUERIES = {
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "text_tokens": q_text_tokens,
    "text_fingerprint": q_text_fingerprint,
    "multimodal_decode_real": q_multimodal_decode_real,
    "multimodal_resize_real": q_multimodal_resize_real,
    "text_quality_gates": q_text_quality_gates,
    "corpus_stats_rollup": q_corpus_stats_rollup,
    "split_train_eval": q_split_train_eval,
    "corpus_vocab_topk": q_corpus_vocab_topk,
    "pipeline_corpus_manifest": q_pipeline_corpus_manifest,
    "text_lm_score": q_text_lm_score,
    "pack_concat_chunks": q_pack_concat_chunks,
    "pack_greedy_bins": q_pack_greedy_bins,
    "doc_length_histogram": q_doc_length_histogram,
    "tfidf_topk": q_tfidf_topk,
    "chunk_sliding": q_chunk_sliding,
    "select_quality_topk": q_select_quality_topk,
    "lm_perplexity_buckets": q_lm_perplexity_buckets,
    "text_repetition": q_text_repetition,
    "sample_domain_balance": q_sample_domain_balance,
}

# hex nibble -> int via position in the digit string (1-indexed strpos)
_NIB = "(strpos('0123456789abcdef', {c}) - 1)"

# Quality-gate CTEs shared by text_quality_gates and the composed
# pipeline_corpus_manifest — ONE SQL definition, like _gate_exprs Spark-side.
_GATES_CTES = """
d AS (SELECT doc_id, source, text, string_split(text, ' ') AS words FROM documents),
g AS (
  SELECT doc_id, source, text, words,
         len(words) AS n_tok,
         round((length(text) - CAST(len(words) - 1 AS DOUBLE)) / CAST(len(words) AS DOUBLE), 6) AS avg_len,
         len(list_filter(words, w -> w IN ('the', 'a'))) > 0 AS has_stop,
         CASE WHEN len(words) >= 3
              THEN list_transform(range(1, len(words) - 1),
                   i -> words[i] || '|' || words[i+1] || '|' || words[i+2])
              ELSE [] END AS grams
  FROM d),
m AS (
  SELECT doc_id, source, text, n_tok, avg_len, has_stop,
         CASE WHEN len(grams) > 0
              THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE), 6)
              ELSE 0.0 END AS dup3
  FROM g)"""

# 16-bit hash fraction mirror of operators/corpus.py::_hash_frac16 — the
# first four md5 nibbles positionally (h bound in the enclosing CTE)
_U16 = " + ".join(
    f"({_NIB.format(c=f'substr(h, {i + 1}, 1)')}) * {16 ** (3 - i)}" for i in range(4)
)

ORACLES = {
    "text_langid": """
SELECT doc_id, lang AS tagged_lang,
       round(((length(text) - length(replace(text, 'th', ''))) / 2.0) / length(text), 6) AS en_score,
       CASE WHEN ((length(text) - length(replace(text, 'th', ''))) / 2.0) / length(text) > 0.01
            THEN 'en' ELSE 'other' END AS guessed_lang
FROM documents
""",
    "text_quality": """
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
m AS (
  SELECT doc_id,
         len(words) AS n_tokens,
         (length(text) - CAST(len(words) - 1 AS DOUBLE)) / CAST(len(words) AS DOUBLE) AS avg_len,
         CAST(len(list_filter(words, w -> w IN ('the', 'a'))) AS DOUBLE)
           / CAST(len(words) AS DOUBLE) AS stop_ratio
  FROM d)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       round(avg_len, 6) AS avg_token_len,
       round(stop_ratio, 6) AS stopword_ratio,
       round(avg_len * 0.1 + (1.0 - stop_ratio) * 0.9, 6) AS quality_score
FROM m
""",
    "text_tokens": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_word_tokens,
       CAST(length(text) AS INTEGER) AS n_chars
FROM documents
""",
    "text_fingerprint": f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
t AS (SELECT doc_id,
             list_transform(words, w -> CAST(length(w) + 7 * ascii(substr(w, 1, 1)) AS BIGINT)) AS terms
      FROM d)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), terms),
                   (a, b) -> (a * 31 + b) % {FNV_MOD}) AS fingerprint
FROM t
""",
    "text_quality_gates": f"""
WITH {_GATES_CTES}
SELECT doc_id,
       (n_tok >= {GATE_MIN_WORDS} AND n_tok <= {GATE_MAX_WORDS}) AS gate_word_count,
       (avg_len >= {GATE_MIN_AVG_LEN} AND avg_len <= {GATE_MAX_AVG_LEN}) AS gate_avg_word_len,
       has_stop AS gate_has_stopword,
       dup3 AS dup_3gram_frac,
       (dup3 <= {GATE_MAX_DUP3}) AS gate_repetition,
       ((n_tok >= {GATE_MIN_WORDS} AND n_tok <= {GATE_MAX_WORDS})
        AND (avg_len >= {GATE_MIN_AVG_LEN} AND avg_len <= {GATE_MAX_AVG_LEN})
        AND has_stop AND dup3 <= {GATE_MAX_DUP3}) AS keep
FROM m
""",
    "corpus_stats_rollup": """
WITH base AS (
  SELECT source, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
ranked AS (
  SELECT source, lang, n_chars, n_tok,
         row_number() OVER (PARTITION BY source, lang ORDER BY n_tok) AS rn,
         count(*) OVER (PARTITION BY source, lang) AS cnt
  FROM base)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST((CAST(sum(n_chars) AS HUGEINT) * 2000000 + count(*))
            // (CAST(count(*) AS HUGEINT) * 2) AS BIGINT) AS avg_chars_micro,
       CAST(sum(n_tok * (CASE WHEN rn = (cnt + 1) // 2 THEN 1 ELSE 0 END
                       + CASE WHEN rn = (cnt + 2) // 2 THEN 1 ELSE 0 END))
            AS BIGINT) AS median_tokens_x2
FROM ranked
GROUP BY source, lang
""",
    "split_train_eval": """
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hash_nibble,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
            THEN 'train' ELSE 'eval' END AS split
FROM documents
""",
    # Closed-form mirror of the REAL decode lane: the engine builds and
    # parses genuine PNG/WAV bytes; the oracle computes the same channel
    # sums directly from the deterministic content formula — no decoder in
    # SQL, so any engine-side roundtrip corruption mismatches here.
    "multimodal_decode_real": """
WITH img AS (
  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + (doc_id // 2) % 6 AS h
  FROM documents WHERE doc_id % 2 = 0),
px AS (
  SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS j FROM img),
isums AS (
  SELECT doc_id, w, h,
         sum(CASE WHEN j % 3 = 0 THEN (doc_id * 31 + j * 7) % 256 END) AS f1,
         sum(CASE WHEN j % 3 = 1 THEN (doc_id * 31 + j * 7) % 256 END) AS f2,
         sum(CASE WHEN j % 3 = 2 THEN (doc_id * 31 + j * 7) % 256 END) AS f3
  FROM px GROUP BY 1, 2, 3),
aud AS (
  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 2 = 1),
smp AS (
  SELECT doc_id, n, (doc_id * 7919 + unnest(range(0, n)) * 104729) % 65536 - 32768 AS s
  FROM aud),
asums AS (
  SELECT doc_id, n,
         sum(abs(s)) AS f1, max(abs(s)) AS f2, sum(s) AS f3
  FROM smp GROUP BY 1, 2)
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
       CASE WHEN doc_id % 4 = 0 THEN 'png' ELSE 'bmp' END AS container,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, CAST(f3 AS BIGINT) AS f3
FROM isums
UNION ALL
SELECT doc_id, 'audio/wav' AS media_type, 'wav' AS container,
       CAST(n AS BIGINT) AS width, CAST(1 AS BIGINT) AS height,
       CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, CAST(f3 AS BIGINT) AS f3
FROM asums
""",
    # Closed-form mirror of the REAL resize lane: kept pixels are the
    # (y, x) lattice at stride RESIZE_REAL_FACTOR; kept WAV frames are
    # every factor-th index.  Sums computed from the content formula
    # directly — decode + subsample correctness is proven by equality.
    "multimodal_resize_real": f"""
WITH img AS (
  SELECT doc_id, 1 + doc_id % 8 AS w, 1 + (doc_id // 2) % 6 AS h
  FROM documents WHERE doc_id % 2 = 0),
ys AS (
  SELECT doc_id, w, h, unnest(range(0, h, {RESIZE_REAL_FACTOR})) AS y FROM img),
xs AS (
  SELECT doc_id, w, h, y, unnest(range(0, w, {RESIZE_REAL_FACTOR})) AS x FROM ys),
isums AS (
  SELECT doc_id, w, h,
         sum((doc_id * 31 + ((y * w + x) * 3 + 0) * 7) % 256) AS f1,
         sum((doc_id * 31 + ((y * w + x) * 3 + 1) * 7) % 256) AS f2,
         sum((doc_id * 31 + ((y * w + x) * 3 + 2) * 7) % 256) AS f3
  FROM xs GROUP BY 1, 2, 3),
aud AS (
  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 2 = 1),
smp AS (
  SELECT doc_id, n,
         (doc_id * 7919 + unnest(range(0, n, {RESIZE_REAL_FACTOR})) * 104729) % 65536 - 32768 AS s
  FROM aud),
asums AS (
  SELECT doc_id, n, sum(abs(s)) AS f1, max(abs(s)) AS f2, sum(s) AS f3
  FROM smp GROUP BY 1, 2)
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'png' ELSE 'bmp' END AS container,
       CAST((w + {RESIZE_REAL_FACTOR} - 1) // {RESIZE_REAL_FACTOR} AS BIGINT) AS width,
       CAST((h + {RESIZE_REAL_FACTOR} - 1) // {RESIZE_REAL_FACTOR} AS BIGINT) AS height,
       CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, CAST(f3 AS BIGINT) AS f3
FROM isums
UNION ALL
SELECT doc_id, 'wav' AS container,
       CAST((n + {RESIZE_REAL_FACTOR} - 1) // {RESIZE_REAL_FACTOR} AS BIGINT) AS width,
       CAST(1 AS BIGINT) AS height,
       CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2, CAST(f3 AS BIGINT) AS f3
FROM asums
""",
    "corpus_vocab_topk": f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM tok GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT {VOCAB_TOP_K}
""",
    "text_repetition": """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
m AS (SELECT doc_id, words,
             len(words) AS n,
             list_distinct(words) AS uniq,
             CASE WHEN len(words) >= 2
                  THEN list_transform(range(1, len(words)),
                       i -> words[i] || '|' || words[i+1])
                  ELSE [] END AS grams
      FROM d)
SELECT doc_id,
       CAST(n AS INTEGER) AS n_tokens,
       round(1.0 - CAST(len(uniq) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS dup_word_frac,
       round(CAST(list_max(list_transform(uniq, u -> len(list_filter(words, w -> w = u)))) AS DOUBLE)
             / CAST(n AS DOUBLE), 6) AS top_word_frac,
       CASE WHEN len(grams) > 0
            THEN round(CAST(list_max(list_transform(list_distinct(grams),
                       g -> len(list_filter(grams, x -> x = g)))) AS DOUBLE)
                 / CAST(len(grams) AS DOUBLE), 6)
            ELSE 0.0 END AS top_2gram_frac
FROM m
""",
    "sample_domain_balance": f"""
WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents),
s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens FROM d GROUP BY source),
o AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS all_tokens, count(*) AS n_sources FROM s),
r AS (SELECT source,
             round(least(1.0, (all_tokens / n_sources) / src_tokens), 6) AS keep_rate
      FROM s CROSS JOIN o),
h AS (SELECT d.doc_id, d.source, d.n_tok, r.keep_rate,
             md5('{{salt}}' || CAST(d.doc_id AS VARCHAR)) AS h
      FROM d JOIN r USING (source)),
u AS (SELECT doc_id, source, n_tok, keep_rate,
             round(({{u16}}) / 65536.0, 6) AS u
      FROM h)
SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tokens, keep_rate, u,
       u < keep_rate AS kept
FROM u
""".format(salt=SAMPLE_SALT, u16=_U16),
    "pack_concat_chunks": f"""
WITH d AS (SELECT doc_id,
                  substr(md5('{PACK_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                  len(string_split(text, ' ')) AS n_tok
           FROM documents),
w AS (SELECT doc_id, shard, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok AS BIGINT) AS start_off
      FROM d)
SELECT doc_id, shard, CAST(n_tok AS INTEGER) AS n_tokens, start_off,
       CAST(floor(start_off / {PACK_SEQ_LEN}) AS BIGINT) AS first_seq,
       CAST(floor((start_off + n_tok - 1) / {PACK_SEQ_LEN}) AS BIGINT) AS last_seq,
       floor((start_off + n_tok - 1) / {PACK_SEQ_LEN}) > floor(start_off / {PACK_SEQ_LEN}) AS split_across
FROM w
""",
    # recursive-CTE replay of the greedy fold (same machinery as the
    # decimation oracle — DuckDB list_reduce corrupts struct accumulators
    # with list fields, so folds step one row per iteration)
    "pack_greedy_bins": f"""
WITH RECURSIVE base AS (
  SELECT doc_id,
         substr(md5('{PACK_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
         len(string_split(text, ' ')) AS n_tok,
         row_number() OVER (
           PARTITION BY substr(md5('{PACK_SALT}' || CAST(doc_id AS VARCHAR)), 1, 1)
           ORDER BY doc_id) AS i
  FROM documents),
step AS (
  SELECT shard, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS bin,
         CAST(0 AS BIGINT) AS fill, CAST(NULL AS BIGINT) AS doc_id,
         CAST(NULL AS BIGINT) AS bin_off, CAST(NULL AS BIGINT) AS n_tok
  FROM (SELECT DISTINCT shard FROM base)
  UNION ALL
  SELECT s.shard, s.i + 1,
         CASE WHEN s.fill > 0 AND s.fill + b.n_tok > {PACK_SEQ_LEN}
              THEN s.bin + 1 ELSE s.bin END,
         CASE WHEN s.fill > 0 AND s.fill + b.n_tok > {PACK_SEQ_LEN}
              THEN CAST(b.n_tok AS BIGINT) ELSE s.fill + b.n_tok END,
         b.doc_id,
         CASE WHEN s.fill > 0 AND s.fill + b.n_tok > {PACK_SEQ_LEN}
              THEN CAST(0 AS BIGINT) ELSE s.fill END,
         CAST(b.n_tok AS BIGINT)
  FROM step s JOIN base b ON b.shard = s.shard AND b.i = s.i + 1)
SELECT doc_id, shard, CAST(n_tok AS INTEGER) AS n_tokens,
       bin AS bin_idx, bin_off
FROM step WHERE doc_id IS NOT NULL
""",
    "text_lm_score": """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
model AS (
  SELECT token,
         CAST(round(log10(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lp_micro
  FROM counts CROSS JOIN tot),
s AS (
  SELECT doc_id, count(*) AS n, CAST(sum(lp_micro) AS BIGINT) AS slp
  FROM tok JOIN model USING (token)
  GROUP BY doc_id)
SELECT doc_id, n AS n_tokens, round(slp / (n * 1000000.0), 6) AS avg_logprob10
FROM s
""",
    "doc_length_histogram": """
WITH d AS (SELECT length(bin(len(string_split(text, ' ')))) - 1 AS bucket,
                  len(string_split(text, ' ')) AS n_tok
           FROM documents),
g AS (SELECT bucket, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY bucket)
SELECT CAST(bucket AS INTEGER) AS bucket,
       CAST(1 << bucket AS INTEGER) AS lo_tokens,
       CAST((1 << (bucket + 1)) - 1 AS INTEGER) AS hi_tokens,
       n_docs, n_tokens,
       CAST(sum(n_docs) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
       round(CAST(sum(n_docs) OVER (ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(sum(n_docs) OVER () AS DOUBLE), 6) AS cum_doc_frac
FROM g
""",
    "lm_perplexity_buckets": """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
model AS (
  SELECT token,
         CAST(round(log10(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000, 0) AS BIGINT) AS lp_micro
  FROM counts CROSS JOIN tot),
s AS (
  SELECT doc_id, count(*) AS n, CAST(sum(lp_micro) AS BIGINT) AS slp
  FROM tok JOIN model USING (token)
  GROUP BY doc_id)
SELECT doc_id, n AS n_tokens, round(slp / (n * 1000000.0), 6) AS avg_logprob10,
       CAST(ntile(3) OVER (ORDER BY round(slp / (n * 1000000.0), 6) DESC, doc_id) AS INTEGER) AS ppl_bucket
FROM s
""",
    "tfidf_topk": """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, token),
dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
idf AS (
  SELECT token,
         CAST(round(log10(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1000000, 0) AS BIGINT) AS idf_micro
  FROM dfq CROSS JOIN nd),
scored AS (
  SELECT doc_id, token, tf, tf * idf_micro AS tfidf_micro
  FROM tf JOIN idf USING (token))
SELECT doc_id,
       CAST(row_number() OVER w AS INTEGER) AS rank,
       token, tf, tfidf_micro
FROM scored
WINDOW w AS (PARTITION BY doc_id ORDER BY tfidf_micro DESC, token)
QUALIFY row_number() OVER w <= 3
""",
    "chunk_sliding": """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS words,
                  len(string_split(text, ' ')) AS n_tok
           FROM documents),
c AS (SELECT doc_id, words, n_tok,
             CASE WHEN n_tok <= 16 THEN 1
                  ELSE 1 + (n_tok - 16 + 11) // 12 END AS n_chunks
      FROM d),
e AS (SELECT doc_id, words, n_tok,
             unnest(range(0, n_chunks)) AS chunk_idx
      FROM c)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * 12 AS INTEGER) AS start_tok,
       CAST(least(16, n_tok - chunk_idx * 12) AS INTEGER) AS n_chunk_tok,
       array_to_string(
         list_slice(words, chunk_idx * 12 + 1,
                    chunk_idx * 12 + least(16, n_tok - chunk_idx * 12)),
         ' ') AS chunk_text
FROM e
""",
    "select_quality_topk": """
WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS words FROM documents),
m AS (
  SELECT doc_id, source,
         (length(text) - CAST(len(words) - 1 AS DOUBLE)) / CAST(len(words) AS DOUBLE) AS avg_len,
         CAST(len(list_filter(words, w -> w IN ('the', 'a'))) AS DOUBLE)
           / CAST(len(words) AS DOUBLE) AS stop_ratio
  FROM d),
q AS (
  SELECT doc_id, source,
         round(avg_len * 0.1 + (1.0 - stop_ratio) * 0.9, 6) AS quality_score,
         CAST(round(round(avg_len * 0.1 + (1.0 - stop_ratio) * 0.9, 6) * 1000000, 0) AS BIGINT) AS score_micro
  FROM m)
SELECT source,
       CAST(row_number() OVER w AS INTEGER) AS rank,
       doc_id, quality_score
FROM q
WINDOW w AS (PARTITION BY source ORDER BY score_micro DESC, doc_id)
QUALIFY row_number() OVER w <= 10
""",
    "pipeline_corpus_manifest": f"""
WITH {_GATES_CTES},
q AS (
  SELECT doc_id, source, text, n_tok,
         ((n_tok >= {GATE_MIN_WORDS} AND n_tok <= {GATE_MAX_WORDS})
          AND (avg_len >= {GATE_MIN_AVG_LEN} AND avg_len <= {GATE_MAX_AVG_LEN})
          AND has_stop AND dup3 <= {GATE_MAX_DUP3}) AS keep_q
  FROM m),
r AS (
  SELECT doc_id, source, n_tok, keep_q,
         (keep_q AND row_number() OVER (PARTITION BY md5(text), keep_q ORDER BY doc_id) = 1) AS kept
  FROM q),
t AS (
  SELECT source, n_tok, keep_q, kept,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train' ELSE 'eval' END AS split
  FROM r)
SELECT split, source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN keep_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_kept
FROM t
GROUP BY split, source
""",
}
