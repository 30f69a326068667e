"""BPE merge training as one unrolled relational plan.

Tokenizer training (Sennrich et al. 2016) is the canonical iterative
algorithm over a corpus: count adjacent symbol pairs, merge the most
frequent pair everywhere, repeat.  `bpe_pair_topk` (operators/corpus.py)
computes the FIRST merge statistic; this operator runs BPE_ROUNDS full
rounds — select AND apply — as a single statically-unrolled DataFrame
plan: no driver loop, no collect, each round = one pair aggregation +
one broadcast of the winning 1-row pair into a string rewrite.

Input compaction: like production tokenizer trainers, rounds run on the
(word, frequency) table, not the raw corpus — at 100 TB the word-count
groupBy is the only corpus-sized job; every merge round then touches
|vocab| rows (millions at worst), and the per-round "apply the merge"
is a broadcast crossJoin of a single-row aggregate (the established
scalar-broadcast pattern), never a shuffle of the corpus.

Symbol-sequence encoding: tokens joined by TWO spaces with single-space
outer boundaries (`'abc'` -> `' a  b  c '`), so replacing the pattern
`' t1  t2 ' -> ' t1t2 '` leaves the invariant intact AND consecutive
occurrences stay matchable — with single-space joins, `replace()`'s
leftmost-nonoverlapping scan consumes the shared boundary space and
misses every second merge ('abab' would merge once, not twice).  Both
engines' `replace` scan identically (verified: ' a  b  a  b ' -> ' ab
ab ', ' a  a  a ' -> ' aa  a ' — greedy leftmost, exactly BPE's rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BPE_ROUNDS = 3


def _word_freqs(docs: DataFrame) -> DataFrame:
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the symbol sequences, weighted by
    word frequency.  Pair id is the two tokens single-space-joined."""
    pairs = F.expr(
        "CASE WHEN size(split(trim(seq), '  ')) > 1 THEN "
        "transform(sequence(1, size(split(trim(seq), '  ')) - 1), "
        "i -> concat(element_at(split(trim(seq), '  '), i), ' ', "
        "element_at(split(trim(seq), '  '), i + 1))) "
        "ELSE array() END"
    )
    return (
        seqs.select(F.col("freq"), F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )


def _apply_merge(seqs: DataFrame, best: DataFrame) -> DataFrame:
    """Rewrite every sequence with the winning pair merged: broadcast the
    1-row winner, string replace ' t1  t2 ' -> ' t1t2 '."""
    search = F.concat(
        F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    merged = F.concat(
        F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")
    )
    others = [c for c in seqs.columns if c not in ("seq", "pair")]
    # NULL pair = "no pairs left to merge" (the encode lane's 1-row
    # aggregate winner on a pairless vocab): keep the sequence unchanged
    # instead of nulling it.  The trainer's limit(1) winner is never NULL
    # (an empty winner frame crossJoins to zero rows there).
    return seqs.crossJoin(F.broadcast(best.select("pair"))).select(
        F.when(F.col("pair").isNull(), F.col("seq"))
        .otherwise(F.replace(F.col("seq"), search, merged))
        .alias("seq"),
        *others,
    )


def bpe_train_merges(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """The first `rounds` BPE merges over the corpus: (merge_round, pair,
    pair_count), where pair_count is the pair's weighted frequency at
    selection time.  Ties break lexicographically on the pair for
    cross-engine determinism."""
    seqs = _word_freqs(docs).select(
        F.regexp_replace(F.col("w"), "(.)", " $1 ").alias("seq"), "freq"
    )
    out = None
    for r in range(1, rounds + 1):
        best = (
            _pair_counts(seqs)
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
        )
        row = best.select(
            F.lit(r).alias("merge_round"),
            "pair",
            F.col("n").cast("long").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
        if r < rounds:
            seqs = _apply_merge(seqs, best)
    return out


def bpe_encode_words(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """(w, w_tokens): every distinct corpus word encoded with the first
    `rounds` trained merges — the ENCODE side of the tokenizer loop
    (train picks the merges; encode applies all of them, including the
    final one the trainer never needs to apply).  Runs entirely on the
    vocab-sized (word, freq) table: the corpus is never rewritten."""
    seqs = _word_freqs(docs).select(
        "w",
        F.regexp_replace(F.col("w"), "(.)", " $1 ").alias("seq"),
        "freq",
    )
    for _ in range(rounds):
        # 1-row ALWAYS (global aggregate): pair is NULL once the vocab has
        # no adjacent pairs left, so the apply step is a no-op instead of
        # the empty-frame crossJoin annihilating every word.  min_by over
        # (-n, pair) == the trainer's (n DESC, pair ASC) winner.
        best = _pair_counts(seqs).agg(
            F.min_by(
                "pair", F.struct((-F.col("n")).alias("nn"), F.col("pair"))
            ).alias("pair")
        )
        seqs = _apply_merge(seqs, best)
    return seqs.select(
        "w",
        F.size(F.split(F.trim("seq"), "  ")).cast("long").alias("w_tokens"),
    )


def bpe_encode_tokens(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Per-document token accounting under the trained BPE merges:
    (doc_id, n_words, n_tokens, n_chars).

    Scale shape: merges are applied only to the vocab table
    (bpe_encode_words); the corpus is never rewritten — two corpus scans
    total (the vocab build inside bpe_encode_words does its own word
    explode, then this function's word explode + equi-join on `w`; AQE
    broadcasts the vocab side while it fits, and past that the join
    degrades to a plain shuffle equi-join on the word key) — then a
    map-side-combinable sum per doc_id.  Docs with no words keep a row
    with zero counts.

    Skew: the word key is Zipfian — at 100 TB a stopword's occurrences
    land in one shuffle partition of the non-broadcast join.  The session
    enables AQE skew-join (splits oversized partitions at runtime, SHJ
    included since Spark 3.2); while the vocab side broadcasts (the
    common case — |V| << corpus) there is no word shuffle at all."""
    wtok = bpe_encode_words(docs, rounds)
    # explode_outer over the pre-filtered word array keeps a single
    # NULL-word row for wordless docs, so n_chars rides along and this
    # stage scans the corpus once with no docs re-join at the end (one corpus
    # shuffle for the word join, one for the per-doc sum; just the sum
    # when the vocab side broadcasts).  count("w") skips the NULL marker
    # row, giving the wordless doc its (0, 0) counts.
    words = docs.select(
        "doc_id",
        "n_chars",
        F.explode_outer(
            F.filter(F.split("text", " "), lambda x: F.length(x) > 0)
        ).alias("w"),
    )
    return (
        # shuffle-hash on the word key: the vocab side hashes per
        # partition (|V|/P rows), no corpus sort; AQE upgrades it to a
        # broadcast join while the vocab fits the threshold
        words.join(wtok.hint("shuffle_hash"), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("w").cast("long").alias("n_words"),
            F.sum(F.coalesce("w_tokens", F.lit(0))).cast("long").alias("n_tokens"),
            F.first("n_chars").cast("long").alias("n_chars"),
        )
        .select("doc_id", "n_words", "n_tokens", "n_chars")
    )
