"""Distributed-trained quality classifier: logistic regression by unrolled
batch gradient descent, pure Catalyst (the fasttext-style quality-scorer
slot in an LLM-corpus pipeline, trained ON-ENGINE).

Labels are the hard Gopher/C4 gates (text_q._gate_exprs — the SAME single
definition the gate query uses), so the model distills the boolean gates
into a calibrated soft score usable for threshold sweeps.  No reference
counterpart (airstrik.py has no text pipeline).

Numeric-parity design (hard-won): features are ratios of small integers,
whose decimal expansions land EXACTLY on .5e-6 rounding boundaries (e.g.
avg_len/10 = 0.4487805), where Spark's BigDecimal HALF_UP and DuckDB's
float round() legitimately disagree on the binary-unrepresentable half.
So every on-grid quantity here lives in INTEGER MICRO-UNITS with explicit
integer half-away division — feature micros, weight-update deltas, and
the final logit — and floats only appear where values are off-grid
(sigmoid/exp inside the gradient, whose engine ulp noise is absorbed by
the micro quantization of the SUM, never exactly on a boundary).

Scale shape (the same recipe as similarity.pca_top_component): per GD
round the N-row side does ONE broadcast of the current weight vector and
ONE map-side-combined aggregate producing 4 gradient sums — no shuffle of
the document table, cost = iters linear passes at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LR_ITERS = 3
N_FEATS = 4  # bias, n_tok/100, avg_len/10, dup_3gram_frac
MICRO = 1_000_000


def _div_half_away(num: Column, den: Column) -> Column:
    """round-half-away(num/den) for integer Columns, den > 0 — true integer
    division (IntegralDivide over decimal(38,0)) so both engines agree
    bit-for-bit at ANY operand magnitude (DuckDB mirror uses `//`); the
    earlier floor((2n+d)/(2d)) went through double division, which loses
    exactness past 2^53."""
    n = num.cast("decimal(38,0)")
    d = den.cast("decimal(38,0)")
    pos = F.call_function("div", n * 2 + d, d * 2).cast("long")
    neg = (-F.call_function("div", n * -2 + d, d * 2)).cast("long")
    return F.when(num >= 0, pos).otherwise(neg)


def _features(docs: DataFrame) -> DataFrame:
    """(doc_id, xm array<long>[4] in micro-units, y double).  Integer
    formulas mirrored verbatim by the DuckDB CTE in registry/extras_q.py."""
    from airstrik_py_spark.registry.text_q import _gate_exprs

    d = docs.select("doc_id", "text").withColumn("words", F.split("text", " "))
    n_tok, _dup3, g_words, g_avg, g_stop, g_dup = _gate_exprs()
    n = n_tok.cast("long")
    # sum of word lengths = length - (n-1) separators
    a = (F.length("text") - (n - 1)).cast("long")
    grams = F.expr(
        "CASE WHEN size(words) >= 3 THEN "
        "transform(sequence(1, size(words) - 2), "
        "i -> concat_ws('|', words[i-1], words[i], words[i+1])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    t = F.size(grams).cast("long")
    dd = F.size(F.array_distinct(grams)).cast("long")
    x1m = n * 10_000  # n_tok/100 in micros, exact
    x2m = _div_half_away(a * 100_000, n)  # avg_len/10 in micros
    x3m = F.when(t > 0, _div_half_away((t - dd) * MICRO, t)).otherwise(
        F.lit(0).cast("long")
    )
    xm = F.array(F.lit(MICRO).cast("long"), x1m, x2m, x3m)
    y = (g_words & g_avg & g_stop & g_dup).cast("double")
    return d.select("doc_id", xm.alias("xm"), y.alias("y"))


def quality_lr_fit_score(docs: DataFrame, iters: int = LR_ITERS) -> DataFrame:
    """Train `iters` full-batch GD rounds (rate 1.0) of logistic regression
    on the gate labels, then score every document with the final weights.

    Returns (doc_id, label, logit, score, predicted): logit = w.x rounded
    half-away to 6 dp in pure integer micro arithmetic; score rounds
    sigmoid(w.x) to 6 dp (off-grid, engine-safe); predicted = w.x > 0."""
    # materialize the (doc_id, 4-long features, label) projection ONCE —
    # every GD round plus the final scoring pass reuses it; without this the
    # full document scan + feature extraction re-runs iters+1 times.  Local
    # (non-resilient) checkpoint is the right tool for iterative training
    # state: executor-local MEMORY_AND_DISK, lineage truncated.
    # fan the text-heavy feature extraction out to the full core count when
    # the source arrives under-partitioned (sf-sized fixtures are one
    # parquet file -> one task); at real scale the scan already has more
    # partitions than this and the branch is a no-op
    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # file-count probe, not docs.rdd.getNumPartitions(): .rdd forces full
    # analysis + physical planning + a Python-RDD conversion at every
    # plan build (r16, same fix as dedup._spread / ADVICE r15)
    try:
        n_files = len(docs.inputFiles())
    except Exception:
        n_files = 0
    if n_files < n_part:
        docs = docs.repartition(n_part)
    # Cost: one job that keeps every doc's feature row in executor
    # storage, memory first, then disk.  The blocks have no lineage behind
    # them, so a lost executor fails the query (rerun it).
    feats = _features(docs).localCheckpoint()
    # Driver-carried model state: the weight vector is N_FEATS=4 integers —
    # the MLlib recipe (gradient sums aggregate to the driver, the update
    # happens there, next round ships the weights back as literals).  Per
    # round: ONE map-side-combined aggregate job over the cached features;
    # no per-round crossJoins/checkpoints of 1-row weight frames.  The
    # integer update uses Python's exact bigints with the same half-away
    # division the engines compute (floor((2g+n)/(2n)) on positives), so
    # the weights are bit-identical to the r2 on-engine fold and to the
    # oracle's integer CTEs at any magnitude.
    wm = [0] * N_FEATS
    for _ in range(iters):
        z = sum(
            (F.get(F.col("xm"), F.lit(i)).cast("double") / F.lit(1e6))
            * F.lit(wm[i] / 1e6)
            for i in range(N_FEATS)
        )
        err = F.col("y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        # gradient sums are off-grid (they contain exp terms), so the
        # engine round() to micro ints is boundary-safe here
        row = feats.agg(
            F.count("*").alias("n"),
            *[
                F.round(
                    F.sum(err * F.get(F.col("xm"), F.lit(i)).cast("double") / F.lit(1e6))
                    * F.lit(1e6),
                    0,
                )
                .cast("long")
                .alias(f"_g{i}")
                for i in range(N_FEATS)
            ],
        ).first()
        n_docs = row["n"]
        if not n_docs:
            break  # empty corpus: keep zero weights, no division by zero
        for i in range(N_FEATS):
            g = row[f"_g{i}"] or 0  # all-null feature column -> null sum
            delta = (
                (2 * g + n_docs) // (2 * n_docs)
                if g >= 0
                else -((-2 * g + n_docs) // (2 * n_docs))
            )
            wm[i] += delta
    # exact integer micro^2 dot with the final weights as long literals;
    # logit = half-away 6-dp decimal
    zm2 = sum(
        F.get(F.col("xm"), F.lit(i)) * F.lit(wm[i]).cast("long")
        for i in range(N_FEATS)
    )
    logit_micro = _div_half_away(zm2, F.lit(MICRO).cast("long"))
    z = zm2.cast("double") / F.lit(1e12)
    return feats.select(
        "doc_id",
        F.col("y").cast("int").alias("label"),
        (logit_micro.cast("double") / F.lit(1e6)).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        (zm2 > 0).alias("predicted"),
    )
