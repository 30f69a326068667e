"""Registry slugs whose callables and oracles have no other home module:
events, star-schema, layout, corpus-release and text-signal lanes."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.config import TESTDATA
from airstrik_py_spark.operators import sessions as S
from airstrik_py_spark.operators.bucketing import write_bucketed
from airstrik_py_spark.oracle.exprs import OBS_CTE
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import load_table, observations


def q_join_bucketed_coloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-location end-to-end: write observations and sessionized
    rows as hex-bucketed tables (the ONE shuffle, paid at write time),
    then per-hex aggregate each side and join — all downstream work rides
    the bucket partitioning (tests/test_bucketing.py pins the 0-Exchange
    plan with broadcast disabled).  Output: per-plane observation and trip
    counts."""
    pin_session(spark)
    obs = observations(spark, sf_dir)
    sess = S.with_session_id(obs, TESTDATA)
    b_obs = write_bucketed(spark, obs.select("hex", "ts_sec"), "b_obs_coloc", "hex")
    b_sess = write_bucketed(
        spark, sess.select("hex", "session_id"), "b_sess_coloc", "hex"
    )
    n_obs = b_obs.groupBy("hex").agg(F.count("*").alias("n_obs"))
    n_trips = b_sess.groupBy("hex").agg(
        F.countDistinct("session_id").alias("n_trips")
    )
    return n_obs.join(n_trips, "hex")


def q_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination check: for every eval-split document, the
    fraction of its 3-gram shingles that appear in ANY train-split document
    (n-gram-overlap contamination, the standard eval-leakage metric).

    Shape: eval shingles LEFT SEMI-ish join the DISTINCT train-shingle set
    on the shingle key — an equi-join against a vocab-sized build side, so
    no doc x doc pair blowup exists at any scale (no DF cap needed, unlike
    the pairwise jaccard join).  The split is text_q.split_expr applied
    DIRECTLY to the shingle rows' doc_id — a pure expression, no join, and
    the same single definition as split_train_eval."""
    from airstrik_py_spark.operators.dedup import shingles
    from airstrik_py_spark.registry.text_q import split_expr

    pin_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs.select("doc_id", "text"), 3).withColumn(
        "split", split_expr(F.col("doc_id"))
    )
    train_sh = sh.filter(F.col("split") == "train").select("shingle").distinct()
    eval_sh = sh.filter(F.col("split") == "eval")
    # shuffled-hash, not sort-merge: the vocab build side is too big to
    # broadcast at corpus scale, and neither side benefits from a sort
    hit = eval_sh.join(
        train_sh.withColumn("_hit", F.lit(1)).hint("shuffle_hash"),
        "shingle",
        "left",
    )
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 4),
        )
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D-N retention cohorts — operators/events.py::retention_cohorts."""
    from airstrik_py_spark.operators.events import retention_cohorts

    pin_session(spark)
    return retention_cohorts(load_table(spark, sf_dir, "events"))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel —
    operators/events.py::funnel_conversion (strict first-occurrence
    subsequence semantics)."""
    from airstrik_py_spark.operators.events import funnel_conversion

    pin_session(spark)
    return funnel_conversion(load_table(spark, sf_dir, "events"))


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (no BNLJ): per error event, same-user click/view
    count in the preceding 5 min —
    operators/events.py::preceding_window_counts."""
    from airstrik_py_spark.operators.events import preceding_window_counts

    pin_session(spark)
    return preceding_window_counts(load_table(spark, sf_dir, "events"))


def q_events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props extraction + per-type rollup —
    operators/events.py::props_extract."""
    from airstrik_py_spark.operators.events import props_extract

    pin_session(spark)
    return props_extract(load_table(spark, sf_dir, "events"))


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout plan over (ts, user_id) —
    operators/bucketing.py::zorder_plan: integer min-max binning to 16 bits
    per axis, bit-interleaved key, 1024 file buckets."""
    from airstrik_py_spark.operators.bucketing import zorder_plan

    pin_session(spark)
    return zorder_plan(load_table(spark, sf_dir, "events"))


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-3-gram coverage (Lee et al. substring-dup signal)
    — operators/cleaning.py::dup_ngram_coverage."""
    from airstrik_py_spark.operators.cleaning import dup_ngram_coverage

    pin_session(spark)
    return dup_ngram_coverage(load_table(spark, sf_dir, "documents"), 3)


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrubbing — operators/cleaning.py::pii_redact over a
    deterministic PII-bearing composition of the fixture text (the corpus
    itself is digit-free, see synth_contact_text)."""
    from airstrik_py_spark.operators.cleaning import pii_redact, synth_contact_text

    pin_session(spark)
    out = pii_redact(synth_contact_text(load_table(spark, sf_dir, "documents")))
    return out.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5("redacted").alias("redacted_md5"),
        "redacted_len",
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based event sessionization (30 min, strict-> boundary like the
    flight sessionizer) — operators/events.py::sessionize_events."""
    from airstrik_py_spark.operators.events import sessionize_events

    pin_session(spark)
    return sessionize_events(load_table(spark, sf_dir, "events"))


def q_doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact p50/p90/p99 length percentiles —
    operators/corpus.py::length_percentiles."""
    from airstrik_py_spark.operators.corpus import length_percentiles

    pin_session(spark)
    return length_percentiles(load_table(spark, sf_dir, "documents"))


def q_mixture_weights_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) source mixture weights —
    operators/corpus.py::mixture_weights."""
    from airstrik_py_spark.operators.corpus import mixture_weights

    pin_session(spark)
    return mixture_weights(load_table(spark, sf_dir, "documents"))


def q_layout_shuffle_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bucket-parallel global training-order shuffle —
    operators/corpus.py::shuffle_layout."""
    from airstrik_py_spark.operators.corpus import shuffle_layout

    pin_session(spark)
    return shuffle_layout(load_table(spark, sf_dir, "documents"))


def _zorder_oracle() -> str:
    from airstrik_py_spark.operators.bucketing import (
        ZORDER_BITS,
        ZORDER_FILE_SHIFT,
        zorder_interleave_sql,
    )

    scale = (1 << ZORDER_BITS) - 1
    z = zorder_interleave_sql("ts_bin", "uid_bin", dialect="duckdb")
    return f"""
WITH b AS (SELECT min(epoch_us(ts)) AS ts_min, max(epoch_us(ts)) AS ts_max,
                  CAST(min(user_id) AS BIGINT) AS uid_min,
                  CAST(max(user_id) AS BIGINT) AS uid_max
           FROM events),
d AS (SELECT event_id,
             CASE WHEN ts_max > ts_min
                  THEN ((epoch_us(ts) - ts_min) * {scale}) // (ts_max - ts_min)
                  ELSE CAST(0 AS BIGINT) END AS ts_bin,
             CASE WHEN uid_max > uid_min
                  THEN ((CAST(user_id AS BIGINT) - uid_min) * {scale}) // (uid_max - uid_min)
                  ELSE CAST(0 AS BIGINT) END AS uid_bin
      FROM events CROSS JOIN b)
SELECT event_id, ts_bin, uid_bin,
       {z} AS zkey,
       {z} // {1 << ZORDER_FILE_SHIFT} AS file_id
FROM d
"""


def q_dup_span_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union duplicated-span token coverage —
    operators/cleaning.py::dup_span_tokens."""
    from airstrik_py_spark.operators.cleaning import dup_span_tokens

    pin_session(spark)
    return dup_span_tokens(load_table(spark, sf_dir, "documents"), 3)


def q_bpe_pair_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent char-pair counts (first BPE merge statistic) —
    operators/corpus.py::bpe_pair_topk."""
    from airstrik_py_spark.operators.corpus import bpe_pair_topk

    pin_session(spark)
    return bpe_pair_topk(load_table(spark, sf_dir, "documents"))


def q_vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-k vocab coverage / OOV rate —
    operators/cleaning.py::vocab_oov_coverage."""
    from airstrik_py_spark.operators.cleaning import vocab_oov_coverage

    pin_session(spark)
    return vocab_oov_coverage(load_table(spark, sf_dir, "documents"))


def q_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-engine-trained logistic quality classifier —
    operators/classifier.py::quality_lr_fit_score (3 unrolled GD rounds on
    the gate labels, then score every doc with the final weights)."""
    from airstrik_py_spark.operators.classifier import quality_lr_fit_score

    pin_session(spark)
    return quality_lr_fit_score(load_table(spark, sf_dir, "documents"))


def _lr_body() -> tuple[str, str]:
    from airstrik_py_spark.operators.classifier import LR_ITERS, N_FEATS
    from airstrik_py_spark.registry.text_q import (
        _GATES_CTES,
        GATE_MAX_AVG_LEN,
        GATE_MAX_DUP3,
        GATE_MAX_WORDS,
        GATE_MIN_AVG_LEN,
        GATE_MIN_WORDS,
    )

    def ha(num: str, den: str) -> str:
        # round-half-away integer division, num >= 0.  HUGEINT interior:
        # the 2* doubling overflowed BIGINT at sf1 corpus sums (the
        # engine-side ha_micro is decimal(38,0) — this is its int128
        # mirror); output cast keeps the column BIGINT for the lint.
        return (
            f"CAST((2 * CAST({num} AS HUGEINT) + ({den}))"
            f" // (2 * CAST({den} AS HUGEINT)) AS BIGINT)"
        )

    def ha_signed(num: str, den: str) -> str:
        return (
            f"CASE WHEN ({num}) >= 0 THEN {ha(num, den)}"
            f" ELSE -{ha(f'-({num})', den)} END"
        )

    keep = (
        f"(m.n_tok >= {GATE_MIN_WORDS} AND m.n_tok <= {GATE_MAX_WORDS}"
        f" AND m.avg_len >= {GATE_MIN_AVG_LEN} AND m.avg_len <= {GATE_MAX_AVG_LEN}"
        f" AND m.has_stop AND m.dup3 <= {GATE_MAX_DUP3})"
    )
    # integer micro features, mirroring classifier._features exactly
    a = "(length(g.text) - (len(g.words) - 1))"
    t = "len(g.grams)"
    dd = "len(list_distinct(g.grams))"
    xm = (
        "[CAST(1000000 AS BIGINT), CAST(len(g.words) * 10000 AS BIGINT), "
        + ha(f"{a} * 100000", "len(g.words)")
        + f", CASE WHEN {t} > 0 THEN "
        + ha(f"({t} - {dd}) * 1000000", t)
        + " ELSE CAST(0 AS BIGINT) END]"
    )
    parts = [
        f"f AS (SELECT g.doc_id, {xm} AS xm,"
        f" CASE WHEN {keep} THEN 1.0 ELSE 0.0 END AS y"
        " FROM g JOIN m USING (doc_id))",
        "cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f)",
        f"p0 AS (SELECT [{', '.join(['CAST(0 AS BIGINT)'] * N_FEATS)}] AS wm)",
    ]
    fdot = " + ".join(
        f"(CAST(xm[{i}] AS DOUBLE) / 1e6) * (CAST(wm[{i}] AS DOUBLE) / 1e6)"
        for i in range(1, N_FEATS + 1)
    )
    gsums = ", ".join(
        f"CAST(round(sum(err * (CAST(xm[{i}] AS DOUBLE) / 1e6)) * 1e6) AS BIGINT)"
        for i in range(1, N_FEATS + 1)
    )
    wup = ", ".join(
        f"wm[{i}] + {ha_signed(f'g[{i}]', 'n')}" for i in range(1, N_FEATS + 1)
    )
    for it in range(LR_ITERS):
        parts.append(
            f"s{it} AS (SELECT xm, y - 1.0 / (1.0 + exp(-({fdot}))) AS err"
            f" FROM f CROSS JOIN p{it})"
        )
        parts.append(f"g{it} AS (SELECT [{gsums}] AS g FROM s{it})")
        parts.append(
            f"p{it + 1} AS (SELECT [{wup}] AS wm"
            f" FROM p{it} CROSS JOIN g{it} CROSS JOIN cnt)"
        )
    zm = " + ".join(f"xm[{i}] * wm[{i}]" for i in range(1, N_FEATS + 1))
    parts.append(
        f"lr_scored AS (SELECT doc_id, y, ({zm}) AS zm"
        f" FROM f CROSS JOIN p{LR_ITERS})"
    )
    body = f"{_GATES_CTES},\n" + ",\n".join(parts)
    logit = "CAST(" + ha_signed("zm", "1000000") + " AS DOUBLE) / 1e6"
    return body, logit


def _lr_oracle() -> str:
    body, logit = _lr_body()
    return f"""WITH {body}
SELECT doc_id, CAST(y AS INTEGER) AS label,
       {logit} AS logit,
       round(1.0 / (1.0 + exp(-(CAST(zm AS DOUBLE) / 1e12))), 6) AS score,
       zm > 0 AS predicted
FROM lr_scored
"""


def _release_oracle() -> str:
    """Composed release pipeline: gates+LR accept -> exact-dedup first-wins
    -> per-source stratified quota -> rollup.  Shares the LR CTE body."""
    body, _logit = _lr_body()
    return f"""WITH {body},
dd AS (SELECT d.doc_id, d.source, md5(d.text) AS digest,
              len(string_split(d.text, ' ')) AS n_tok,
              s.y = 1.0 AS gate_keep, s.zm > 0 AS lr_keep
       FROM documents d JOIN lr_scored s ON d.doc_id = s.doc_id),
fw AS (SELECT *, row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
         AS first_wins FROM dd),
acc AS (SELECT *, gate_keep AND lr_keep AND first_wins AS accept FROM fw),
smp AS (SELECT doc_id, source, n_tok,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id)
                 <= 10 AS in_sample
        FROM acc WHERE accept),
roll_acc AS (SELECT source,
                    CAST(count(*) AS BIGINT) AS n_accepted,
                    CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_sampled,
                    CAST(sum(CASE WHEN in_sample THEN n_tok ELSE 0 END) AS BIGINT)
                      AS tokens_sampled
             FROM smp GROUP BY source)
SELECT a.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN a.gate_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gate,
       CAST(sum(CASE WHEN a.gate_keep AND a.lr_keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lr,
       coalesce(any_value(r.n_accepted), 0) AS n_accepted,
       coalesce(any_value(r.n_sampled), 0) AS n_sampled,
       coalesce(any_value(r.tokens_sampled), 0) AS tokens_sampled
FROM acc a LEFT JOIN roll_acc r ON a.source = r.source
GROUP BY a.source
"""


def q_pipeline_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed release pipeline in ONE query: hard gates + the on-engine
    LR soft filter -> exact-dedup first-wins -> per-source stratified
    sample quota -> per-source rollup.  Every stage is a round-4 operator
    reused verbatim (classifier.quality_lr_fit_score for the accept
    decision, the stratified-sample salted rank, the dedup digest window);
    the oracle shares the LR CTE body so the two can never diverge."""
    from pyspark.sql import Window

    from airstrik_py_spark.operators.classifier import quality_lr_fit_score

    pin_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_lr_fit_score(docs).select(
        "doc_id",
        (F.col("label") == 1).alias("gate_keep"),
        F.col("predicted").alias("lr_keep"),
    )
    # shuffled-hash, not sort-merge: the doc_id join feeds hash windows
    # downstream — neither side benefits from a sort
    d = (
        docs.select(
            "doc_id",
            "source",
            F.md5("text").alias("digest"),
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .join(scored.hint("shuffle_hash"), "doc_id")
    )
    first = (
        F.row_number().over(Window.partitionBy("digest").orderBy("doc_id")) == 1
    )
    acc = d.withColumn("first_wins", first).withColumn(
        "accept", F.col("gate_keep") & F.col("lr_keep") & F.col("first_wins")
    )
    # Per-source quota via the TWO-PHASE salted top-k: phase 1 is the
    # shared operators/corpus.py::salted_sample_candidates (a bare
    # partitionBy("source") window would funnel every accepted row of a
    # hot source through one partition at 100 TB).  Phase 2 is folded
    # INTO the per-source rollup aggregate: collect the <= 8x10 surviving
    # (h, doc_id, n_tok) structs per source (bounded, so the exchange
    # moves O(quota x buckets) structs per source, never rows),
    # array_sort them — struct order = (h, doc_id), the sample's
    # order-by — and slice the first 10.  One window pass + one tiny agg,
    # the same cost shape as the old single-window form, minus its skew.
    # Output is identical to the unsalted single-window form the DuckDB
    # oracle keeps.
    #
    # ONE aggregation branch (r15): the sample window ranks the UNFILTERED
    # frame partitioned additionally by `accept` (rank among accepted rows
    # is unchanged — see salted_sample_candidates), so a single
    # groupBy("source") computes the doc/gate/lr rollup AND the accepted
    # sample fold in one pass.  The former two-branch shape evaluated the
    # whole upstream (LR scores + digest window + doc_id join) TWICE and
    # re-joined the rollups; plan diff in plans/r15/
    # pipeline_corpus_release_{before,after}.txt.
    from airstrik_py_spark.operators.corpus import salted_sample_candidates

    frame = salted_sample_candidates(acc, quota=10, extra_part=("accept",))
    cand_struct = F.when(
        F.col("accept") & (F.col("r1") <= 10),
        F.struct(
            F.col("h"),
            F.col("doc_id").alias("d"),
            # NULL n_tok must contribute 0, like the oracle's null-skipping
            # SUM — a bare fold over x["t"] would poison tokens_sampled
            F.coalesce(F.col("n_tok").cast("long"), F.lit(0)).alias("t"),
        ),
    )
    top10 = F.slice(F.array_sort(F.collect_list(cand_struct)), 1, 10)
    return (
        frame.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("gate_keep").cast("int")).alias("n_gate"),
            F.sum((F.col("gate_keep") & F.col("lr_keep")).cast("int")).alias(
                "n_lr"
            ),
            F.sum(F.col("accept").cast("int")).cast("long").alias("n_accepted"),
            top10.alias("top10"),
        )
        .select(
            "source",
            "n_docs",
            "n_gate",
            "n_lr",
            "n_accepted",
            F.size("top10").cast("long").alias("n_sampled"),
            F.aggregate(
                "top10", F.lit(0).cast("long"), lambda a, x: a + x["t"]
            ).alias("tokens_sampled"),
        )
    )


def q_events_attribution_lastclick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (as-of join within the event stream) —
    operators/events.py::attribution_last_touch: each purchase joins to
    the same user's most recent strictly-earlier click via a user-keyed
    ignorenulls window; unattributed purchases keep NULL touch columns."""
    from airstrik_py_spark.operators.events import attribution_last_touch

    pin_session(spark)
    return attribution_last_touch(load_table(spark, sf_dir, "events"))


def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy quality signal —
    operators/corpus.py::char_entropy: per-term micro-quantized
    -p*log2(p) integer sums (ORACLES-PORTABILITY.md SS11)."""
    from airstrik_py_spark.operators.corpus import char_entropy

    pin_session(spark)
    return char_entropy(load_table(spark, sf_dir, "documents"))


def q_dedup_best_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection per near-dup cluster: instead of
    min-doc_id, keep the LONGEST member (n_chars, ties to the smaller
    doc_id) — the keep-best rule real dedup pipelines apply so the
    surviving copy is the richest one.  Composes dedup_clusters (oracle
    embedded as a CTE, so the clustering can never drift) with one
    broadcast-joined doc-stats lookup and an argmax-struct aggregate —
    min(struct(-n_chars, doc_id)) IS the (longest, then smallest-id)
    selection, one aggregate, no window."""
    from airstrik_py_spark.registry.dedup_q import q_dedup_clusters as _qc

    clusters = _qc(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = clusters.join(d, "doc_id")
    best = F.min(
        F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("d"))
    )
    return j.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        best.getField("d").alias("best_doc_id"),
        (-best.getField("neg")).alias("best_n_chars"),
    )


def q_corpus_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-over-release manifest diff: FULL OUTER join of two corpus
    snapshots on doc_id (old = doc_id % 7 != 0, new = doc_id % 5 != 0 —
    deterministic fixture releases), classifying every doc as
    added / removed / changed / unchanged by content digest.  The diff a
    release pipeline publishes next to its manifest; completes the
    join-type matrix (inner/left/semi/anti/cross/range/as-of + this full
    outer).  Scale: one doc_id-keyed full outer join over (doc_id,
    digest) projections — content never re-read for unchanged docs
    beyond the digest compute; at 100 TB the digests come from the
    persisted incremental-ingest store (dedup_incremental) instead of a
    re-scan."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("digest")
    )
    old = d.filter(F.col("doc_id") % 7 != 0).withColumnRenamed(
        "digest", "old_digest"
    )
    new = d.filter(F.col("doc_id") % 5 != 0).withColumnRenamed(
        "digest", "new_digest"
    )
    # shuffled-hash full outer (Spark >= 3.1): same doc_id exchange the
    # SMJ would pay, minus both sides' sorts — digests have no useful order
    j = old.join(new.hint("shuffle_hash"), "doc_id", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "removed")
        .when(F.col("old_digest") == F.col("new_digest"), "unchanged")
        .otherwise("changed")
    )
    return j.select("doc_id", "old_digest", "new_digest", status.alias("status"))


def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID QA: confusion counts of the n-gram guesser vs the
    tagged lang column, with per-tag share — the accuracy readout any
    langid gate ships with.  Composes q_text_langid (same rows, same
    heuristic — the oracle embeds the langid oracle as a CTE so the two
    can never drift); two tiny aggregates + a broadcast join."""
    from airstrik_py_spark.registry.text_q import q_text_langid

    base = q_text_langid(spark, sf_dir)
    per = base.groupBy("tagged_lang", "guessed_lang").agg(
        F.count("*").alias("n_docs")
    )
    tot = per.groupBy("tagged_lang").agg(F.sum("n_docs").alias("tag_total"))
    return per.join(F.broadcast(tot), "tagged_lang").select(
        "tagged_lang",
        "guessed_lang",
        "n_docs",
        "tag_total",
        F.round(
            F.col("n_docs").cast("double") / F.col("tag_total").cast("double"),
            6,
        ).alias("share"),
    )


RFM_REC_DAYS = 7
RFM_MIN_FREQ = 3


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over purchase events: recency = days
    since the user's last purchase measured from the corpus max day (a
    1-row broadcast), frequency = purchase count, monetary = exact centi
    sum.  Segments by fixed integer thresholds (recent&frequent ->
    'core', recent -> 'active', frequent -> 'lapsing-whale', else
    'dormant') — threshold segmentation keeps the whole thing
    integer-exact; quantile-based tiers would use the distributed-rank
    ntile pattern (lm_perplexity_buckets).  One user-keyed aggregate +
    one broadcast; no window."""
    pin_session(spark)
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    d = e.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("centi"),
    )
    anchor = d.agg(F.max("day").alias("max_day"))
    per = d.groupBy("user_id").agg(
        F.max("day").alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum("centi").alias("monetary_centi"),
    )
    j = per.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff("max_day", "last_day").cast("long")
    )
    recent = F.col("recency_days") <= RFM_REC_DAYS
    frequent = F.col("frequency") >= RFM_MIN_FREQ
    seg = (
        F.when(recent & frequent, "core")
        .when(recent, "active")
        .when(frequent, "lapsing-whale")
        .otherwise("dormant")
    )
    return j.select(
        "user_id", "recency_days", "frequency", "monetary_centi",
        seg.alias("segment"),
    )


def q_star_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long UNPIVOT of lineitem's four numeric measures with a
    per-measure rollup — the melt step feeding any generic per-metric
    profiler.  Spark's unpivot() plans one Expand (each row fans to its
    4 (measure, value) pairs map-side) + one 4-key aggregate — a single
    pass, vs 4 scans for a UNION of per-column aggregates.  Values
    quantize to exact centi units before summing (prices/discounts/tax
    are 2-dp data), so the long-form sums are bit-stable."""
    pin_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot(
        ids=[], values=measures, variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sum_centi"),
    )


def q_corpus_rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals over (source, lang) — Spark's rollup()
    plans ONE Expand + one aggregate (each input row fans to its 3
    grouping sets map-side; the shuffle stays one pass, map-side
    combined), vs 3 separate scans for a UNION of aggregates.  The
    grouping_id bitmask disambiguates subtotal rows — verified
    bit-identical to DuckDB's GROUPING(source, lang)."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    return (
        d.rollup("source", "lang")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select("source", "lang", F.col("gid").cast("long"), "n_docs", "total_chars")
    )


def q_events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts PIVOTed to one column per event type — Spark's
    pivot with an EXPLICIT value list (deterministic schema, single-pass
    conditional aggregation; an implicit pivot would need a distinct-scan
    first).  Absent (day, type) combos fill 0 like the conditional-count
    oracle."""
    pin_session(spark)
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )
    return out.select("day", *[F.col(t).cast("long").alias(t) for t in types])


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval top-10 — operators/corpus.py::bm25_topk
    (Lucene idf, k1=1.2 b=0.75, per-term micro quantization)."""
    from airstrik_py_spark.operators.corpus import bm25_topk

    pin_session(spark)
    return bm25_topk(load_table(spark, sf_dir, "documents"))


def q_star_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22-shape NOT-EXISTS anti-join — operators/star.py::
    customers_without_orders (integer cross-multiplied mean threshold,
    LEFT ANTI on custkey, broadcast nation rollup)."""
    from airstrik_py_spark.operators.star import customers_without_orders

    pin_session(spark)
    return customers_without_orders(spark, sf_dir)


def q_star_order_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shape EXISTS semi-join — operators/star.py::
    priority_semijoin_counts: one year's orders with >= 1 returned line,
    counted per priority via LEFT SEMI shuffle-hash on orderkey."""
    from airstrik_py_spark.operators.star import priority_semijoin_counts

    pin_session(spark)
    return priority_semijoin_counts(spark, sf_dir)


def q_events_value_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1h RANGE-frame sliding aggregate per user —
    operators/events.py::value_rolling_sum (centi-exact window sum)."""
    from airstrik_py_spark.operators.events import value_rolling_sum

    pin_session(spark)
    return value_rolling_sum(load_table(spark, sf_dir, "events"))


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization — operators/similarity.py::
    embedding_standardize (published 6-dp dim-stats as the model)."""
    from airstrik_py_spark.operators.similarity import embedding_standardize

    pin_session(spark)
    return embedding_standardize(load_table(spark, sf_dir, "embeddings"))


def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user MAD outliers on event values —
    operators/events.py::value_anomalies_mad."""
    from airstrik_py_spark.operators.events import value_anomalies_mad

    pin_session(spark)
    return value_anomalies_mad(load_table(spark, sf_dir, "events"))


def q_events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / exact rolling-7-day WAU / stickiness —
    operators/events.py::rolling_active_users."""
    from airstrik_py_spark.operators.events import rolling_active_users

    pin_session(spark)
    return rolling_active_users(load_table(spark, sf_dir, "events"))


def q_events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k consecutive 3-event-type user journeys —
    operators/events.py::path_trigrams_topk."""
    from airstrik_py_spark.operators.events import path_trigrams_topk

    pin_session(spark)
    return path_trigrams_topk(load_table(spark, sf_dir, "events"))


def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm QA outliers —
    operators/similarity.py::embedding_norm_outliers."""
    from airstrik_py_spark.operators.similarity import embedding_norm_outliers

    pin_session(spark)
    return embedding_norm_outliers(load_table(spark, sf_dir, "embeddings"))


def q_sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source uniform quotas via salted-hash rank —
    operators/corpus.py::stratified_sample_exact."""
    from airstrik_py_spark.operators.corpus import stratified_sample_exact

    pin_session(spark)
    return stratified_sample_exact(load_table(spark, sf_dir, "documents"))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch vs accepted-corpus digest dedup —
    operators/dedup.py::dedup_incremental."""
    from airstrik_py_spark.operators.dedup import dedup_incremental

    pin_session(spark)
    return dedup_incremental(load_table(spark, sf_dir, "documents"))


def q_star_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-shape pricing rollup over lineitem — operators/star.py."""
    from airstrik_py_spark.operators.star import pricing_summary

    pin_session(spark)
    return pricing_summary(spark, sf_dir)


def q_star_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shape unshipped-revenue top-k — operators/star.py."""
    from airstrik_py_spark.operators.star import revenue_topk

    pin_session(spark)
    return revenue_topk(spark, sf_dir)


def q_star_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-shape per-nation regional revenue — operators/star.py."""
    from airstrik_py_spark.operators.star import region_revenue

    pin_session(spark)
    return region_revenue(spark, sf_dir)


def q_star_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18-shape aggregate-then-join large orders — operators/star.py."""
    from airstrik_py_spark.operators.star import large_orders

    pin_session(spark)
    return large_orders(spark, sf_dir)


def q_star_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shape promo revenue share — operators/star.py."""
    from airstrik_py_spark.operators.star import promo_revenue_share

    pin_session(spark)
    return promo_revenue_share(spark, sf_dir)


def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth: write the observation projection as ORC
    (Spark's second built-in columnar format) and read it back — proves
    the store layer is format-agnostic; the oracle recomputes the same
    projection straight from events, so the round-trip must be lossless
    (including double-precision columns).

    Scratch path is FIXED per (user, process, sf) and overwritten on
    re-runs within the process — a fresh mkdtemp per invocation leaked one
    full projection copy per sweep/bench run (ADVICE r2), while a purely
    sf-keyed path raced CONCURRENT processes (one overwrite deleting files
    under another's read) and collided across users on a shared /tmp; the
    (user, pid) components make the path private to this run at the cost
    of at most one leaked projection per process lifetime."""
    import getpass
    import os
    import tempfile

    pin_session(spark)
    out = observations(spark, sf_dir).select(
        "hex", "event_id", "ts_sec", "lat", "lon", "alt_geom"
    )
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    try:
        user_tag = getpass.getuser()
    except (KeyError, OSError):
        user_tag = "anon"
    path = os.path.join(
        tempfile.gettempdir(),
        f"airstrik_orc_rt_{user_tag}_{os.getpid()}_{sf_tag}",
        "obs_orc",
    )
    out.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


def q_events_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly counts with zero-filled gaps —
    operators/events.py::hourly_timeseries_gapfill."""
    from airstrik_py_spark.operators.events import hourly_timeseries_gapfill

    pin_session(spark)
    return hourly_timeseries_gapfill(load_table(spark, sf_dir, "events"))


def q_star_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-shape returned-revenue top customers — operators/star.py."""
    from airstrik_py_spark.operators.star import returned_revenue_by_customer

    pin_session(spark)
    return returned_revenue_by_customer(spark, sf_dir)


def q_star_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shape priority-class line counts — operators/star.py."""
    from airstrik_py_spark.operators.star import shipmode_priority_counts

    pin_session(spark)
    return shipmode_priority_counts(spark, sf_dir)


def q_star_forecast_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-shape pure-scan revenue delta — operators/star.py."""
    from airstrik_py_spark.operators.star import forecast_revenue_delta

    pin_session(spark)
    return forecast_revenue_delta(spark, sf_dir)


def _nib4(expr: str) -> str:
    """First 16 bits of an md5 hex-string SQL expression as an integer
    (DuckDB has no hex->int conv(); positional nibble math like text_q)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )


def _pii_oracle() -> str:
    from airstrik_py_spark.operators.cleaning import PII_EMAIL, PII_IPV4, PII_PHONE

    contact = (
        "text || ' reach user' || CAST(doc_id AS VARCHAR) || '@' || source"
        " || '.net or 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7 tel 919-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    email, ip, phone = (p.replace("'", "''") for p in (PII_EMAIL, PII_IPV4, PII_PHONE))
    red = (
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{email}', '<EMAIL>', 'g'), '{ip}', '<IP>', 'g'), "
        f"'{phone}', '<PHONE>', 'g')"
    )
    return (
        "WITH c AS (SELECT doc_id, " + contact + " AS text FROM documents),\n"
        "r AS (SELECT doc_id, text, " + red + " AS redacted FROM c)\n"
        "SELECT doc_id,\n"
        f"  CAST(len(regexp_extract_all(text, '{email}')) AS INTEGER) AS n_emails,\n"
        f"  CAST(len(regexp_extract_all(text, '{ip}')) AS INTEGER) AS n_ips,\n"
        f"  CAST(len(regexp_extract_all(text, '{phone}')) AS INTEGER) AS n_phones,\n"
        "  md5(redacted) AS redacted_md5,\n"
        "  CAST(length(redacted) AS INTEGER) AS redacted_len\n"
        "FROM r"
    )


_SHUF_NIB = _nib4("h")

ORACLES = {
    "star_unpivot_measures": """
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT 'l_tax', l_tax FROM lineitem)
SELECT measure,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_centi
FROM long GROUP BY measure
""",
    "corpus_rollup_grouping_sets": """
SELECT source, lang,
       CAST(GROUPING(source, lang) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ROLLUP (source, lang)
""",
    "events_type_pivot": """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
       CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
       CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
FROM events GROUP BY day
""",
    "text_bm25_topk": """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS total_tok FROM d),
tok AS (SELECT doc_id, dl, unnest(w) AS t FROM d),
tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf,
              CAST(max(dl) AS BIGINT) AS dl
       FROM tok WHERE t IN ('spark', 'window', 'hash')
       GROUP BY doc_id, t),
dfq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
sc AS (SELECT doc_id,
              CAST(round(
                ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                * (CAST(tf AS DOUBLE) * 2.2)
                / (CAST(tf AS DOUBLE)
                   + 1.2 * (0.25
                            + 0.75 * (CAST(dl * n_docs AS DOUBLE)
                                      / CAST(total_tok AS DOUBLE))))
                * 1000000.0, 0) AS BIGINT) AS m
      FROM tf JOIN dfq USING (t) CROSS JOIN stats),
agg AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS bm25_micro
        FROM sc GROUP BY doc_id)
SELECT CAST(row_number() OVER w AS INTEGER) AS rank, doc_id, bm25_micro
FROM agg
WINDOW w AS (ORDER BY bm25_micro DESC, doc_id)
QUALIFY row_number() OVER w <= 10
""",
    "star_customers_no_orders": """
WITH c AS (SELECT c_custkey, c_nationkey,
                  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
           FROM customer WHERE c_acctbal > 0),
t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(count(*) AS BIGINT) AS n_pos FROM c),
rich AS (SELECT c.* FROM c CROSS JOIN t
         WHERE cents * n_pos > total_cents),
a AS (SELECT rich.* FROM rich
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = rich.c_custkey
                          AND o.o_orderpriority = '1-URGENT'))
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_acctbal_cents
FROM a JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    "star_order_priority_semijoin": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    "events_value_rolling_sum": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                  CAST(round(value * 100, 0) AS BIGINT) AS vc
           FROM events)
SELECT event_id, user_id, us,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(sum(vc) OVER w AS BIGINT) AS sum_1h_centi
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    "embedding_standardize": """
WITH idx AS (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS dim
             FROM embeddings),
v AS (SELECT vec_id, CAST(dim AS INTEGER) AS dim,
             CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000000, 0) AS BIGINT) AS vq
      FROM idx),
g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vq) AS BIGINT) AS sum_q,
             CAST(sum(vq * vq) AS BIGINT) AS sumsq_q
      FROM v GROUP BY dim),
m AS (SELECT dim,
             round((CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0, 6) AS mean,
             round((CAST(sumsq_q AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)))
                   / 1000000000000.0, 6) AS variance
      FROM g)
SELECT vec_id, v.dim AS dim,
       CASE WHEN variance <= 0 THEN 0.0
            ELSE round((CAST(vq AS DOUBLE) / 1000000.0 - mean) / sqrt(variance), 6)
       END AS z
FROM v JOIN m ON v.dim = m.dim
WHERE vec_id < 100
""",
    "events_attribution_lastclick": """
WITH e AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
           FROM events),
t AS (SELECT *,
             last_value(CASE WHEN event_type = 'click'
                             THEN struct_pack(t_us := us, t_id := event_id)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM e)
SELECT event_id AS conversion_id, user_id,
       round(value, 6) AS value,
       touch.t_id AS touch_id,
       us - touch.t_us AS gap_us
FROM t WHERE event_type = 'purchase'
""",
    "text_char_entropy": """
WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
per AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS n_c
        FROM ch GROUP BY doc_id, ch),
tot AS (SELECT doc_id, CAST(sum(n_c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM per GROUP BY doc_id),
j AS (SELECT per.doc_id, n_c, n, n_distinct,
             CAST(round(-((CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
                          * log2(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE)))
                        * 1000000, 0) AS BIGINT) AS term_micro
      FROM per JOIN tot USING (doc_id))
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars_counted,
       CAST(max(n_distinct) AS BIGINT) AS n_distinct_chars,
       CAST(sum(term_micro) AS BIGINT) AS entropy_micro
FROM j GROUP BY doc_id
""",
    "layout_zorder": _zorder_oracle(),
    "dup_ngram_coverage": """
WITH dwords AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(words) >= 3
                      THEN list_transform(range(1, len(words) - 1),
                           i -> words[i] || '|' || words[i+1] || '|' || words[i+2])
                      ELSE [] END) AS s
        FROM dwords)),
dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
SELECT sh.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS dup_coverage
FROM sh JOIN dfq USING (s)
GROUP BY sh.doc_id
""",
    "text_pii_redact": _pii_oracle(),
    "dup_span_tokens": """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
inst AS (
  SELECT doc_id, i, words[i] || '|' || words[i+1] || '|' || words[i+2] AS s
  FROM (SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i
        FROM base WHERE len(words) >= 3)),
dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM inst)
        GROUP BY s HAVING count(*) >= 2),
cov AS (
  SELECT doc_id, count(DISTINCT tok) AS dup_tokens
  FROM (SELECT inst.doc_id, unnest(range(i, i + 3)) AS tok
        FROM inst JOIN dup USING (s))
  GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_tokens AS INTEGER) AS n_tokens,
       CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / t.n_tokens, 6)
         AS dup_token_frac
FROM (SELECT doc_id, len(words) AS n_tokens FROM base) t
LEFT JOIN cov c USING (doc_id)
""",
    "quality_lr_score": _lr_oracle(),
    "events_timeseries_gapfill": """
WITH h AS (SELECT date_trunc('hour', ts) AS hour FROM events),
c AS (SELECT hour, count(*) AS n_events FROM h GROUP BY hour),
spine AS (SELECT unnest(generate_series(
            (SELECT min(hour) FROM h), (SELECT max(hour) FROM h),
            INTERVAL 1 HOUR)) AS hour)
SELECT strftime(spine.hour, '%Y-%m-%d %H:00') AS hour,
       CAST(coalesce(c.n_events, 0) AS BIGINT) AS n_events
FROM spine LEFT JOIN c ON spine.hour = c.hour
""",
    "sink_orc_roundtrip": f"""
WITH {OBS_CTE}
SELECT hex, event_id, ts_sec, lat, lon, alt_geom FROM obs
""",
    "star_large_orders": """
WITH big AS (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
               AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
SELECT c.c_name, b.l_orderkey AS o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       b.total_qty
FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
     JOIN customer c ON o.o_custkey = c.c_custkey
""",
    "star_promo_share": """
WITH li AS (SELECT l_partkey,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-02-01'),
j AS (SELECT li.rev_units, p.p_type = 'PROMO' AS is_promo
      FROM li JOIN part p ON li.l_partkey = p.p_partkey),
g AS (SELECT CAST(sum(CASE WHEN is_promo THEN rev_units ELSE 0 END) AS BIGINT)
               AS promo_units,
             CAST(sum(rev_units) AS BIGINT) AS total_units
      FROM j)
SELECT promo_units, total_units,
       CAST((2 * (CAST(promo_units AS HUGEINT) * 1000000) + total_units)
            // (2 * CAST(total_units AS HUGEINT))
            AS DOUBLE) / 1e6 AS promo_share
FROM g
""",
    "star_forecast_delta": """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_delta_units,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    "star_returned_topk": """
WITH l AS (SELECT l_orderkey,
                  CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
           FROM lineitem WHERE l_returnflag = 'R'),
o AS (SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        AND o_orderdate < TIMESTAMP '1996-10-01'),
agg AS (SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
               CAST(sum(l.rev_units) AS BIGINT) AS revenue_units
        FROM l JOIN o ON l.l_orderkey = o.o_orderkey
               JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal)
SELECT * FROM agg ORDER BY revenue_units DESC, c_custkey LIMIT 20
""",
    "star_priority_counts": """
WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01')
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_lines
FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_linestatus
""",
    "star_pricing_summary": """
WITH li AS (SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS BIGINT) AS qty,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                   CAST(round(l_discount * 100) AS BIGINT) AS disc,
                   CAST(round(l_tax * 100) AS BIGINT) AS tax
            FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'),
g AS (SELECT l_returnflag, l_linestatus,
             CAST(sum(qty) AS BIGINT) AS sum_qty,
             CAST(sum(cents) AS BIGINT) AS sum_base_cents,
             CAST(sum(cents * (100 - disc)) AS BIGINT) AS sum_disc_price_units,
             CAST(sum(cents * (100 - disc) * (100 + tax)) AS BIGINT)
               AS sum_charge_units,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(disc) AS BIGINT) AS sum_disc_pct
      FROM li GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_cents,
       sum_disc_price_units, sum_charge_units,
       CAST((2 * (CAST(sum_qty AS HUGEINT) * 1000000) + n_rows)
            // (2 * CAST(n_rows AS HUGEINT)) AS DOUBLE) / 1e6
         AS avg_qty,
       CAST((2 * (CAST(sum_disc_pct AS HUGEINT) * 1000000) + n_rows)
            // (2 * CAST(n_rows AS HUGEINT)) AS DOUBLE) / 1e6
         AS avg_disc_pct,
       n_rows
FROM g
""",
    "star_revenue_topk": """
WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-03-15'),
l AS (SELECT l_orderkey,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
      FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-03-15'),
agg AS (SELECT l.l_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o.o_orderpriority,
               CAST(sum(l.rev_units) AS BIGINT) AS revenue_units
        FROM l JOIN o ON l.l_orderkey = o.o_orderkey
               JOIN c ON o.o_custkey = c.c_custkey
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority)
SELECT * FROM agg ORDER BY revenue_units DESC, l_orderkey LIMIT 10
""",
    "star_region_revenue": """
WITH n AS (SELECT n_nationkey, n_name
           FROM nation JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'),
c AS (SELECT c_custkey, c_nationkey, n_name
      FROM customer JOIN n ON c_nationkey = n_nationkey),
o AS (SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'),
l AS (SELECT l_orderkey, l_suppkey,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
      FROM lineitem)
SELECT c.n_name,
       CAST(sum(l.rev_units) AS BIGINT) AS revenue_units
FROM l JOIN o ON l.l_orderkey = o.o_orderkey
       JOIN c ON o.o_custkey = c.c_custkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_nationkey = c.c_nationkey
GROUP BY c.n_name
""",
    "pipeline_corpus_release": _release_oracle(),
    "dedup_incremental": """
WITH old AS (SELECT DISTINCT md5(text) AS digest FROM documents
             WHERE doc_id < 400),
new AS (SELECT doc_id, md5(text) AS digest FROM documents
        WHERE doc_id >= 400),
rn AS (SELECT doc_id, digest,
              row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
                AS first_in_batch
       FROM new)
SELECT rn.doc_id, rn.digest,
       old.digest IS NOT NULL AS seen_before,
       rn.first_in_batch,
       (old.digest IS NULL AND rn.first_in_batch) AS accept
FROM rn LEFT JOIN old ON rn.digest = old.digest
""",
    "sample_stratified_exact": """
WITH h AS (SELECT doc_id, source,
                  md5('strat|' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
r AS (SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
                  AS INTEGER) AS rank_in_source
      FROM h)
SELECT doc_id, source, rank_in_source FROM r WHERE rank_in_source <= 10
""",
    "embedding_norm_outliers": """
WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
per AS (SELECT vec_id,
               CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(v, x -> CAST(round(x * 1e6) AS BIGINT)
                                         * CAST(round(x * 1e6) AS BIGINT))),
                    (a, b) -> a + b) AS DOUBLE) / 1e12 AS norm2
        FROM e),
stats AS (SELECT round(avg(norm2), 6) AS mean_r,
                 round(sqrt(avg(norm2 * norm2) - avg(norm2) * avg(norm2)), 6)
                   AS std_r
          FROM per)
SELECT vec_id, round(norm2, 6) AS norm2, mean_r, std_r,
       round(abs(norm2 - mean_r) / std_r, 4) AS z
FROM per CROSS JOIN stats
WHERE std_r > 0 AND abs(norm2 - mean_r) > 3.0 * std_r
""",
    "events_path_trigrams": """
WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
           FROM events),
t AS (SELECT lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS p1,
             lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS p2,
             event_type
      FROM e),
p AS (SELECT p1 || '>' || p2 || '>' || event_type AS path
      FROM t WHERE p1 IS NOT NULL),
agg AS (SELECT path, count(*) AS n_paths FROM p GROUP BY path),
ranked AS (SELECT CAST(row_number() OVER (ORDER BY n_paths DESC, path) AS INTEGER)
             AS rank, path, n_paths FROM agg)
SELECT rank, path, n_paths FROM ranked WHERE rank <= 15
""",
    "events_rolling_dau": """
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM act GROUP BY day),
fan AS (SELECT user_id,
               unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE
                 AS report_day
        FROM act),
wau AS (SELECT report_day, count(DISTINCT user_id) AS wau
        FROM fan GROUP BY report_day)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.day = wau.report_day
""",
    "events_anomaly_mad": """
WITH v AS (SELECT event_id, user_id, value FROM events
           WHERE value IS NOT NULL),
vr AS (SELECT user_id, value AS x,
              row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
              count(*) OVER (PARTITION BY user_id) AS cnt
       FROM v),
med AS (SELECT user_id,
               sum(CASE WHEN rn = (cnt + 1) // 2 THEN x ELSE 0 END
                 + CASE WHEN rn = (cnt + 2) // 2 THEN x ELSE 0 END) / 2.0 AS med
        FROM vr GROUP BY user_id),
dev AS (SELECT v.event_id, v.user_id, v.value, med.med,
               abs(v.value - med.med) AS adev
        FROM v JOIN med USING (user_id)),
dr AS (SELECT user_id, adev AS x,
              row_number() OVER (PARTITION BY user_id ORDER BY adev) AS rn,
              count(*) OVER (PARTITION BY user_id) AS cnt
       FROM dev),
mad AS (SELECT user_id,
               sum(CASE WHEN rn = (cnt + 1) // 2 THEN x ELSE 0 END
                 + CASE WHEN rn = (cnt + 2) // 2 THEN x ELSE 0 END) / 2.0 AS mad
        FROM dr GROUP BY user_id)
SELECT d.event_id, d.user_id,
       round(d.value, 6) AS value,
       round(d.med, 6) AS med,
       round(m.mad, 6) AS mad,
       round(d.adev / m.mad, 6) AS robust_z
FROM dev d JOIN mad m USING (user_id)
WHERE m.mad > 0 AND d.adev > 3.0 * m.mad
""",
    "vocab_oov_coverage": """
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
             FROM documents),
top AS (SELECT token FROM (SELECT token, count(*) AS n FROM tok GROUP BY token)
        QUALIFY row_number() OVER (ORDER BY n DESC, token) <= 20),
j AS (SELECT tok.source,
             CASE WHEN top.token IS NOT NULL THEN 1 ELSE 0 END AS v
      FROM tok LEFT JOIN top ON tok.token = top.token)
SELECT source,
       count(*) AS n_tokens,
       CAST(sum(v) AS BIGINT) AS n_covered,
       round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS coverage,
       round(1.0 - CAST(sum(v) AS DOUBLE) / count(*), 6) AS oov_rate
FROM j GROUP BY source
""",
    "bpe_pair_topk": """
WITH vocab AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 2
  GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, freq
  FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM vocab)),
agg AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INTEGER)
           AS rank, pair, n_occurrences
  FROM agg)
SELECT rank, pair, n_occurrences FROM ranked WHERE rank <= 20
""",
    "events_sessionize": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
g AS (
  SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                   OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                      > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM e),
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_n
  FROM g)
SELECT user_id, session_n,
       count(*) AS n_events,
       min(us) AS start_us,
       max(us) AS end_us,
       max(us) - min(us) AS duration_us
FROM s
GROUP BY user_id, session_n
""",
    "doc_length_percentiles": """
WITH ranked AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS x,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM documents WHERE n_chars IS NOT NULL),
p AS (
  SELECT lang, x, rn, cnt,
         50 * (cnt - 1) AS i50, 90 * (cnt - 1) AS i90, 99 * (cnt - 1) AS i99
  FROM ranked)
SELECT lang,
       count(*) AS n_docs,
       round(CASE WHEN max(i50) % 100 = 0
                  THEN CAST(sum(CASE WHEN rn = i50 // 100 + 1 THEN x ELSE 0 END) AS DOUBLE)
                  ELSE sum(CASE WHEN rn = i50 // 100 + 1 THEN x ELSE 0 END)
                       + max(i50) % 100
                         * (sum(CASE WHEN rn = i50 // 100 + 2 THEN x ELSE 0 END)
                            - sum(CASE WHEN rn = i50 // 100 + 1 THEN x ELSE 0 END)) / 100.0
             END, 6) AS p50_chars,
       round(CASE WHEN max(i90) % 100 = 0
                  THEN CAST(sum(CASE WHEN rn = i90 // 100 + 1 THEN x ELSE 0 END) AS DOUBLE)
                  ELSE sum(CASE WHEN rn = i90 // 100 + 1 THEN x ELSE 0 END)
                       + max(i90) % 100
                         * (sum(CASE WHEN rn = i90 // 100 + 2 THEN x ELSE 0 END)
                            - sum(CASE WHEN rn = i90 // 100 + 1 THEN x ELSE 0 END)) / 100.0
             END, 6) AS p90_chars,
       round(CASE WHEN max(i99) % 100 = 0
                  THEN CAST(sum(CASE WHEN rn = i99 // 100 + 1 THEN x ELSE 0 END) AS DOUBLE)
                  ELSE sum(CASE WHEN rn = i99 // 100 + 1 THEN x ELSE 0 END)
                       + max(i99) % 100
                         * (sum(CASE WHEN rn = i99 // 100 + 2 THEN x ELSE 0 END)
                            - sum(CASE WHEN rn = i99 // 100 + 1 THEN x ELSE 0 END)) / 100.0
             END, 6) AS p99_chars
FROM p
GROUP BY lang
""",
    "mixture_weights_temperature": """
WITH per AS (SELECT source, count(*) AS n_docs,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             FROM documents GROUP BY source),
w AS (SELECT *, power(CAST(n_tokens AS DOUBLE), 0.5) AS w_raw FROM per)
SELECT source, n_docs, n_tokens,
       round(w_raw / sum(w_raw) OVER (), 6) AS mix_weight
FROM w
""",
    "layout_shuffle_bucketed": f"""
WITH d AS (SELECT doc_id,
                  md5('shuf|' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
b AS (SELECT doc_id, h, CAST(({_SHUF_NIB}) % 64 AS INTEGER) AS bucket FROM d)
SELECT doc_id, bucket,
       CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS INTEGER)
         AS rank_in_bucket
FROM b
""",
    "events_retention": """
WITH first AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
               FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
per AS (
  SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM act JOIN first USING (user_id)
  GROUP BY cohort_day, day_offset),
size_t AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
           FROM first GROUP BY cohort_day)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset, n_users,
       cohort_size,
       round(CAST(n_users AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6) AS retention
FROM per JOIN size_t USING (cohort_day)
""",
    "events_funnel": """
WITH base AS (SELECT user_id, event_type,
                     CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS sec
              FROM events),
s1 AS (SELECT user_id, min(sec) AS t FROM base WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT b.user_id, min(b.sec) AS t
       FROM base b JOIN s1 ON b.user_id = s1.user_id
       WHERE b.event_type = 'click' AND b.sec > s1.t GROUP BY b.user_id),
s3 AS (SELECT b.user_id, min(b.sec) AS t
       FROM base b JOIN s2 ON b.user_id = s2.user_id
       WHERE b.event_type = 'purchase' AND b.sec > s2.t GROUP BY b.user_id),
n AS (SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3)
SELECT * FROM (
  SELECT 1 AS stage, 'view' AS event_type, CAST(n1 AS BIGINT) AS n_users,
         round(CAST(n1 AS DOUBLE) / n1, 6) AS conv_from_prev,
         round(CAST(n1 AS DOUBLE) / n1, 6) AS conv_from_entry FROM n
  UNION ALL
  SELECT 2, 'click', CAST(n2 AS BIGINT),
         round(CAST(n2 AS DOUBLE) / n1, 6), round(CAST(n2 AS DOUBLE) / n1, 6) FROM n
  UNION ALL
  SELECT 3, 'purchase', CAST(n3 AS BIGINT),
         round(CAST(n3 AS DOUBLE) / n2, 6), round(CAST(n3 AS DOUBLE) / n1, 6) FROM n)
""",
    "events_range_join": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'error'),
o AS (SELECT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type IN ('click', 'view'))
SELECT e.event_id, e.user_id,
       CAST(count(o.us) AS BIGINT) AS n_preceding
FROM e LEFT JOIN o
  ON e.user_id = o.user_id
 AND o.us >= e.us - 300000000 AND o.us < e.us
GROUP BY e.event_id, e.user_id
""",
    "events_props_extract": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, max(k) AS max_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
""",
    "eval_contamination": """
WITH dwords AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(words) >= 3
                      THEN list_transform(range(1, len(words) - 1),
                           i -> words[i] || '|' || words[i+1] || '|' || words[i+2])
                      ELSE [] END) AS s
        FROM dwords)),
tagged AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
              THEN 'train' ELSE 'eval' END AS split
  FROM documents),
tsh AS (SELECT DISTINCT s FROM sh JOIN tagged USING (doc_id) WHERE split = 'train'),
esh AS (SELECT sh.doc_id, sh.s FROM sh JOIN tagged USING (doc_id) WHERE split = 'eval')
SELECT e.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       round(sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS contamination
FROM esh e LEFT JOIN tsh t ON e.s = t.s
GROUP BY e.doc_id
""",
    "join_bucketed_coloc": f"""
WITH {OBS_CTE},
gapped AS (
  SELECT *, CASE WHEN lag(ts_sec) OVER (PARTITION BY hex ORDER BY ts_sec, event_id) IS NULL
                   OR ts_sec - lag(ts_sec) OVER (PARTITION BY hex ORDER BY ts_sec, event_id) > {TESTDATA.remember_s}
                 THEN 1 ELSE 0 END AS is_new
  FROM obs),
sess AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY hex ORDER BY ts_sec, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gapped)
SELECT o.hex, o.n_obs, t.n_trips
FROM (SELECT hex, count(*) AS n_obs FROM obs GROUP BY hex) o
JOIN (SELECT hex, count(DISTINCT session_id) AS n_trips FROM sess GROUP BY hex) t
  ON o.hex = t.hex
""",
}

QUERIES = {
    "join_bucketed_coloc": q_join_bucketed_coloc,
    "eval_contamination": q_eval_contamination,
    "layout_zorder": q_layout_zorder,
    "events_retention": q_events_retention,
    "events_funnel": q_events_funnel,
    "events_props_extract": q_events_props_extract,
    "events_range_join": q_events_range_join,
    "dup_ngram_coverage": q_dup_ngram_coverage,
    "text_pii_redact": q_text_pii_redact,
    "events_sessionize": q_events_sessionize,
    "doc_length_percentiles": q_doc_length_percentiles,
    "mixture_weights_temperature": q_mixture_weights_temperature,
    "layout_shuffle_bucketed": q_layout_shuffle_bucketed,
    "dup_span_tokens": q_dup_span_tokens,
    "bpe_pair_topk": q_bpe_pair_topk,
    "vocab_oov_coverage": q_vocab_oov_coverage,
    "quality_lr_score": q_quality_lr_score,
    "events_anomaly_mad": q_events_anomaly_mad,
    "events_rolling_dau": q_events_rolling_dau,
    "events_path_trigrams": q_events_path_trigrams,
    "embedding_norm_outliers": q_embedding_norm_outliers,
    "sample_stratified_exact": q_sample_stratified_exact,
    "dedup_incremental": q_dedup_incremental,
    "pipeline_corpus_release": q_pipeline_corpus_release,
    "star_pricing_summary": q_star_pricing_summary,
    "star_revenue_topk": q_star_revenue_topk,
    "star_region_revenue": q_star_region_revenue,
    "star_large_orders": q_star_large_orders,
    "star_promo_share": q_star_promo_share,
    "star_returned_topk": q_star_returned_topk,
    "star_priority_counts": q_star_priority_counts,
    "star_forecast_delta": q_star_forecast_delta,
    "sink_orc_roundtrip": q_sink_orc_roundtrip,
    "events_timeseries_gapfill": q_events_timeseries_gapfill,
    "events_attribution_lastclick": q_events_attribution_lastclick,
    "text_char_entropy": q_text_char_entropy,
    "star_order_priority_semijoin": q_star_order_priority_semijoin,
    "star_customers_no_orders": q_star_customers_no_orders,
    "events_value_rolling_sum": q_events_value_rolling_sum,
    "embedding_standardize": q_embedding_standardize,
    "text_bm25_topk": q_text_bm25_topk,
    "corpus_rollup_grouping_sets": q_corpus_rollup_grouping_sets,
    "star_unpivot_measures": q_star_unpivot_measures,
    "text_langid_confusion": q_text_langid_confusion,
    "corpus_manifest_diff": q_corpus_manifest_diff,
    "dedup_best_quality_canonical": q_dedup_best_quality_canonical,
    "events_rfm_segments": q_events_rfm_segments,
    "events_type_pivot": q_events_type_pivot,
}


def _langid_confusion_oracle() -> str:
    """Composes text_q's text_langid oracle."""
    from airstrik_py_spark.registry import text_q

    return f"""
WITH base AS ({text_q.ORACLES["text_langid"]}),
per AS (SELECT tagged_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n_docs
        FROM base GROUP BY tagged_lang, guessed_lang),
tot AS (SELECT tagged_lang, CAST(sum(n_docs) AS BIGINT) AS tag_total
        FROM per GROUP BY tagged_lang)
SELECT per.tagged_lang, guessed_lang, n_docs, tag_total,
       round(CAST(n_docs AS DOUBLE) / CAST(tag_total AS DOUBLE), 6) AS share
FROM per JOIN tot USING (tagged_lang)
"""


ORACLES["text_langid_confusion"] = _langid_confusion_oracle()

ORACLES["events_rfm_segments"] = """
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
                  CAST(round(value * 100, 0) AS BIGINT) AS centi
           FROM events WHERE event_type = 'purchase'),
anchor AS (SELECT max(day) AS max_day FROM d),
per AS (SELECT user_id, max(day) AS last_day,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(centi) AS BIGINT) AS monetary_centi
        FROM d GROUP BY user_id)
SELECT user_id,
       CAST(max_day - last_day AS BIGINT) AS recency_days,
       frequency, monetary_centi,
       CASE WHEN max_day - last_day <= 7 AND frequency >= 3 THEN 'core'
            WHEN max_day - last_day <= 7 THEN 'active'
            WHEN frequency >= 3 THEN 'lapsing-whale'
            ELSE 'dormant' END AS segment
FROM per CROSS JOIN anchor
"""

ORACLES["corpus_manifest_diff"] = """
WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
old AS (SELECT doc_id, digest AS old_digest FROM d WHERE doc_id % 7 != 0),
new AS (SELECT doc_id, digest AS new_digest FROM d WHERE doc_id % 5 != 0)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id, old_digest, new_digest,
       CASE WHEN old_digest IS NULL THEN 'added'
            WHEN new_digest IS NULL THEN 'removed'
            WHEN old_digest = new_digest THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
"""


def _best_quality_oracle() -> str:
    """Composes dedup_q's dedup_clusters oracle."""
    from airstrik_py_spark.registry import dedup_q

    return f"""
WITH clusters AS ({dedup_q.ORACLES["dedup_clusters"]}),
j AS (SELECT c.cluster_id, c.doc_id, d.n_chars
      FROM clusters c JOIN documents d USING (doc_id))
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(min(struct_pack(neg := -n_chars, d := doc_id)).d AS BIGINT)
         AS best_doc_id,
       CAST(-(min(struct_pack(neg := -n_chars, d := doc_id)).neg) AS BIGINT)
         AS best_n_chars
FROM j GROUP BY cluster_id
"""


ORACLES["dedup_best_quality_canonical"] = _best_quality_oracle()
