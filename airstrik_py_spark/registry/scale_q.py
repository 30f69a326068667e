"""Round-3 scale-family slugs: weighted priority sampling, count-min
heavy hitters, delta-style corpus upsert, and kNN-graph PageRank.

These enumerate after every module but analytics_q in queries()
(registry._MODULES order); the local sweep (tools/check.py) covers them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.operators import bpe as BPE
from airstrik_py_spark.operators import graph as G
from airstrik_py_spark.operators import sampling as SAMP
from airstrik_py_spark.operators import sketch as SK
from airstrik_py_spark.registry.similarity_q import _KNN_CTES
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import load_table

UPSERT_MOD = 7
UPSERT_SUFFIX = " [rev2]"


def q_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (weighted-without-replacement, distributed-exact):
    k documents by n_chars+1 weight via integer md5 rank keys — one scan +
    TakeOrdered, mergeable per partition (operators/sampling.py)."""
    pin_session(spark)
    return SAMP.priority_sample(load_table(spark, sf_dir, "documents"))


def q_sketch_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the token stream, exact count
    alongside so the one-sided estimate contract (est >= true) is gated by
    the oracle (operators/sketch.py)."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    return SK.cms_topk(tok)


def q_corpus_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style latest-wins MERGE as pure relational algebra: an update
    batch (every UPSERT_MOD-th doc revised, text appended) unions with the
    base corpus; per doc_id the highest version survives via max_by — one
    hash exchange on doc_id, no driver round-trips.  At scale the base
    corpus would be bucketed by doc_id at write time (join_bucketed_coloc
    pattern) making the merge exchange-free on the corpus side."""
    pin_session(spark)
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", F.lit(1).alias("version"), F.col("text"), F.col("source")
    )
    upd = d.filter(F.col("doc_id") % UPSERT_MOD == 0).select(
        "doc_id",
        F.lit(2).alias("version"),
        F.concat(F.col("text"), F.lit(UPSERT_SUFFIX)).alias("text"),
        F.col("source"),
    )
    merged = base.unionByName(upd)
    return merged.groupBy("doc_id").agg(
        F.max("version").alias("version"),
        F.max_by(F.length("text"), F.col("version")).cast("long").alias("n_chars_final"),
        F.max_by(F.col("source"), F.col("version")).alias("source"),
    )


def q_graph_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration integer PageRank over the SRP-bucketed kNN graph
    (operators/graph.py) — document centrality for curation ranking."""
    pin_session(spark)
    return G.pagerank_knn(load_table(spark, sf_dir, "embeddings"))


PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def q_profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling of `orders`: per column the null
    count, exact distinct count, and min/max (min/max on the NATIVE type,
    cast to string afterwards, so numerics don't compare lexicographically).

    Shape: nulls+distincts run over the stack()-melted (column, value)
    long form — a single distinct-aggregate per column key, so the
    two-phase plan shuffles one row per DISTINCT (column, value) pair,
    never the 6x-expanded input that a wide multi-column countDistinct
    would (measured 2.4x faster at sf0.1; the string cast is injective
    per column type, so string distincts == native distincts).  Typed
    min/max ride a separate expand-free wide aggregate over the same
    scan, stacked to rows and broadcast-joined back (6-row side).  At
    100 TB swap the exact distinct to approx_count_distinct (same swap
    as the A1 rollup, measured in APPROX.md)."""
    pin_session(spark)
    t = load_table(spark, sf_dir, "orders")
    stack_vals = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in PROFILE_COLS)
    long = t.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_vals}) AS (column_name, val)"
    )
    nd = long.groupBy("column_name").agg(
        (F.count("*") - F.count("val")).alias("n_nulls"),
        F.countDistinct("val").alias("n_distinct"),
    )
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = t.agg(*aggs)
    stack_mm = ", ".join(f"'{c}', {c}__min, {c}__max" for c in PROFILE_COLS)
    mm = one.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_mm}) AS (column_name, min_str, max_str)"
    )
    return nd.join(F.broadcast(mm), "column_name").select(
        "column_name", "n_nulls", "n_distinct", "min_str", "max_str"
    )


BASKET_TOP_K = 50


def q_basket_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining (the A-priori support step): for the
    top-K part pairs co-occurring in an order, the pair support and both
    single-item supports (lift/confidence derive downstream).

    Scale shape: ONE orderkey exchange builds per-order part-set arrays
    (collect_set dedups repeated lines of a part); pair candidates are
    then generated MAP-SIDE from each sorted array — fan-out bounded by
    basket size squared (17 here; mega-baskets would cap or salt like
    the ngram DF cap), never corpus-squared, and there is no self-join
    anywhere.  Pair and single supports each map-side-combine into one
    small aggregate; top-K is TakeOrdered; the two single-support
    enrichment joins broadcast the 50-row top-K side.  The oracle derives
    the same result through the classic relational self-join formulation
    — an independent derivation, not a mirror."""
    pin_session(spark)
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .select("parts")
    )
    pair_arr = F.expr(
        "CASE WHEN size(parts) > 1 THEN "
        "flatten(transform(sequence(1, size(parts) - 1), i -> "
        "transform(sequence(i + 1, size(parts)), j -> "
        "struct(element_at(parts, i) AS part_a, element_at(parts, j) AS part_b)))) "
        "ELSE array() END"
    )
    pairs = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("pair_support"))
        .orderBy(
            F.col("pair_support").desc(), F.col("part_a").asc(), F.col("part_b").asc()
        )
        .limit(BASKET_TOP_K)
    )
    singles = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("s"))
    )
    return (
        F.broadcast(pairs)
        .join(singles, pairs.part_a == singles.l_partkey)
        .select("part_a", "part_b", "pair_support", F.col("s").alias("support_a"))
        .join(singles, F.col("part_b") == singles.l_partkey)
        .select("part_a", "part_b", "pair_support", "support_a", F.col("s").alias("support_b"))
    )


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE_ROUNDS tokenizer merges, select+apply unrolled into one
    lazy plan over the (word, freq) table (operators/bpe.py)."""
    pin_session(spark)
    return BPE.bpe_train_merges(load_table(spark, sf_dir, "documents"))


def _bpe_ctes(rounds: int) -> str:
    """Unrolled BPE rounds mirroring operators/bpe.py exactly: the
    double-space symbol encoding, weighted pair counts, (n DESC, pair ASC)
    winner, leftmost-nonoverlapping replace."""
    parts = [
        "wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq"
        " FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
        " WHERE len(w) > 0 GROUP BY w)",
        "s0 AS (SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS seq, freq FROM wf)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"p{r} AS (SELECT unnest(CASE WHEN len(toks) > 1 THEN"
            f" list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"
            f" ELSE [] END) AS pair, freq"
            f" FROM (SELECT string_split(trim(seq), '  ') AS toks, freq FROM s{r - 1}))"
        )
        parts.append(
            f"b{r} AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p{r}"
            f" GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1)"
        )
        if r < rounds:
            parts.append(
                f"s{r} AS (SELECT replace(seq,"
                f" ' ' || replace(pair, ' ', '  ') || ' ',"
                f" ' ' || replace(pair, ' ', '') || ' ') AS seq, freq"
                f" FROM s{r - 1}, b{r})"
            )
    return ",\n".join(parts)


def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token accounting under the trained BPE merges — the ENCODE
    half of the tokenizer loop (operators/bpe.py::bpe_encode_tokens):
    merges applied on the vocab table only, corpus touched once."""
    pin_session(spark)
    return BPE.bpe_encode_tokens(load_table(spark, sf_dir, "documents"))


def _bpe_encode_ctes(rounds: int) -> str:
    """bpe_encode_tokens oracle: the _bpe_ctes trainer unrolled with `w`
    carried through every rewrite and the FINAL merge applied too, then
    per-word token counts joined back to the exploded corpus."""
    parts = [
        "wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq"
        " FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
        " WHERE len(w) > 0 GROUP BY w)",
        "e0 AS (SELECT w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS seq, freq FROM wf)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"p{r} AS (SELECT unnest(CASE WHEN len(toks) > 1 THEN"
            f" list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"
            f" ELSE [] END) AS pair, freq"
            f" FROM (SELECT string_split(trim(seq), '  ') AS toks, freq FROM e{r - 1}))"
        )
        parts.append(
            f"b{r} AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p{r}"
            f" GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            # LEFT JOIN ON TRUE + NULL guard mirrors the engine's 1-row
            # aggregate winner: a pairless vocab leaves seqs unchanged
            # instead of the comma-join annihilating them.
            f"e{r} AS (SELECT w, CASE WHEN pair IS NULL THEN seq"
            f" ELSE replace(seq,"
            f" ' ' || replace(pair, ' ', '  ') || ' ',"
            f" ' ' || replace(pair, ' ', '') || ' ') END AS seq, freq"
            f" FROM e{r - 1} LEFT JOIN b{r} ON TRUE)"
        )
    parts.append(
        f"wt AS (SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT)"
        f" AS w_tokens FROM e{rounds})"
    )
    parts.append(
        "dw AS (SELECT doc_id, w"
        " FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)"
        " WHERE len(w) > 0)"
    )
    parts.append(
        "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,"
        " CAST(sum(w_tokens) AS BIGINT) AS n_tokens"
        " FROM dw JOIN wt USING (w) GROUP BY doc_id)"
    )
    return ",\n".join(parts)


def q_events_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between user-parity variants on the event value metric —
    operators/events.py::ab_welch_t (exact integer moments, one 2-group
    aggregation)."""
    from airstrik_py_spark.operators.events import ab_welch_t

    pin_session(spark)
    return ab_welch_t(load_table(spark, sf_dir, "events"))


def _pr_iter_ctes(iters: int) -> str:
    """Unrolled PageRank rounds mirroring operators/graph.py::pagerank:
    integer micro-unit pr, per-edge pr // outdeg, damped with integer //."""
    parts = [
        "nodes AS (SELECT vec_id AS node FROM e)",
        "deg AS (SELECT src_id AS src, CAST(count(*) AS BIGINT) AS outdeg"
        " FROM knn GROUP BY src_id)",
        "ed AS (SELECT k.src_id AS src, k.dst_id AS dst, d.outdeg"
        " FROM knn k JOIN deg d ON k.src_id = d.src)",
        f"pr0 AS (SELECT node, CAST({G.PR_MICRO} AS BIGINT) AS pr FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS (SELECT ed.dst AS node, SUM(p.pr // ed.outdeg) AS contrib"
            f" FROM ed JOIN pr{i - 1} p ON ed.src = p.node GROUP BY ed.dst)"
        )
        parts.append(
            f"pr{i} AS (SELECT n.node, CAST({G.PR_BASE} +"
            f" ({G.PR_DAMP_NUM} * COALESCE(c.contrib, 0)) // {G.PR_DAMP_DEN}"
            f" AS BIGINT) AS pr"
            f" FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"
        )
    return ",\n".join(parts)


QUERIES = {
    "sample_weighted_priority": q_sample_weighted_priority,
    "sketch_cms_topk": q_sketch_cms_topk,
    "corpus_upsert_merge": q_corpus_upsert_merge,
    "graph_pagerank_knn": q_graph_pagerank_knn,
    "profile_column_stats": q_profile_column_stats,
    "bpe_train_merges": q_bpe_train_merges,
    "bpe_encode_tokens": q_bpe_encode_tokens,
    "basket_pair_support": q_basket_pair_support,
    "events_ab_ttest": q_events_ab_ttest,
}

# Welch t oracle: the same double expressions in the same parenthesized
# order as ab_welch_t, over the same exact BIGINT micro moments — final
# round(6) on bit-identical doubles.
_AB_T = """
WITH v AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         CAST(round(value * 100, 0) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL),
g AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vq) AS BIGINT) AS sum_q,
             CAST(sum(vq * vq) AS BIGINT) AS sumsq_q
      FROM v GROUP BY variant),
a AS (SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(sum_q AS DOUBLE) AS s, CAST(sumsq_q AS DOUBLE) AS ss
      FROM g WHERE variant = 'A'),
b AS (SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(sum_q AS DOUBLE) AS s, CAST(sumsq_q AS DOUBLE) AS ss
      FROM g WHERE variant = 'B'),
m AS (SELECT a.n AS n_a, b.n AS n_b,
             a.s / a.nd / 100 AS ma, b.s / b.nd / 100 AS mb,
             (a.ss - a.s * a.s / a.nd) / (a.nd - 1.0) / 10000 AS va,
             (b.ss - b.s * b.s / b.nd) / (b.nd - 1.0) / 10000 AS vb,
             a.nd AS na, b.nd AS nb
      FROM a, b
      WHERE a.n > 1 AND b.n > 1)
SELECT n_a, n_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round((ma - mb) / sqrt(va / na + vb / nb), 6) AS welch_t,
       round(((va / na + vb / nb) * (va / na + vb / nb))
             / ((va / na) * (va / na) / (na - 1.0)
                + (vb / nb) * (vb / nb) / (nb - 1.0)), 6) AS welch_df
FROM m
"""

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name,"
    f" count(*) - count({c}) AS n_nulls,"
    f" count(DISTINCT {c}) AS n_distinct,"
    f" min({c})::VARCHAR AS min_str, max({c})::VARCHAR AS max_str FROM orders"
    for c in PROFILE_COLS
)

ORACLES = {
    "sample_weighted_priority": f"""
WITH k AS (
  SELECT doc_id, CAST(n_chars + 1 AS BIGINT) AS weight,
         ((('0x' || substr(md5('{SAMP.PRIORITY_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
          * {SAMP.PRIORITY_SCALE}) // (n_chars + 1) AS rank_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars >= 0)
SELECT doc_id, weight, CAST(rank_key AS BIGINT) AS rank_key
FROM k ORDER BY rank_key ASC, doc_id ASC LIMIT {SAMP.PRIORITY_K}
""",
    "sketch_cms_topk": f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
rows_ AS (SELECT unnest(range(0, {SK.CMS_D})) AS r),
buck AS (SELECT token, r AS row_idx,
                ('0x' || substr(md5(CAST(r AS VARCHAR) || token), 1, 8))::BIGINT % {SK.CMS_W} AS bucket
         FROM tok, rows_),
sketch AS (SELECT row_idx, bucket, CAST(count(*) AS BIGINT) AS cell_count
           FROM buck GROUP BY row_idx, bucket),
exact AS (SELECT token, CAST(count(*) AS BIGINT) AS true_count FROM tok GROUP BY token),
probes AS (SELECT token, true_count, r AS row_idx,
                  ('0x' || substr(md5(CAST(r AS VARCHAR) || token), 1, 8))::BIGINT % {SK.CMS_W} AS bucket
           FROM exact, rows_),
est AS (SELECT p.token, p.true_count, CAST(min(s.cell_count) AS BIGINT) AS est_count
        FROM probes p JOIN sketch s ON p.row_idx = s.row_idx AND p.bucket = s.bucket
        GROUP BY p.token, p.true_count)
SELECT token, est_count, true_count
FROM est ORDER BY est_count DESC, token ASC LIMIT {SK.CMS_TOP_K}
""",
    "corpus_upsert_merge": f"""
WITH base AS (SELECT doc_id, 1 AS version, text, source FROM documents),
upd AS (SELECT doc_id, 2 AS version, text || '{UPSERT_SUFFIX}' AS text, source
        FROM documents WHERE doc_id % {UPSERT_MOD} = 0),
u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
SELECT doc_id, CAST(max(version) AS INTEGER) AS version,
       CAST(max_by(length(text), version) AS BIGINT) AS n_chars_final,
       max_by(source, version) AS source
FROM u GROUP BY doc_id
""",
    "graph_pagerank_knn": f"""
WITH {_KNN_CTES},
{_pr_iter_ctes(G.PR_ITERS)}
SELECT node AS vec_id, pr AS pr_micro FROM pr{G.PR_ITERS}
""",
    "profile_column_stats": _PROFILE_ORACLE,
    "events_ab_ttest": _AB_T,
    "bpe_train_merges": f"""
WITH {_bpe_ctes(BPE.BPE_ROUNDS)}
{" UNION ALL ".join(f"SELECT {r} AS merge_round, pair, n AS pair_count FROM b{r}" for r in range(1, BPE.BPE_ROUNDS + 1))}
""",
    "bpe_encode_tokens": f"""
WITH {_bpe_encode_ctes(BPE.BPE_ROUNDS)}
SELECT d.doc_id,
       CAST(COALESCE(pd.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d LEFT JOIN pd USING (doc_id)
""",
    "basket_pair_support": f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS pair_support
  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  ORDER BY pair_support DESC, part_a ASC, part_b ASC
  LIMIT {BASKET_TOP_K}),
singles AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM d GROUP BY l_partkey)
SELECT p.part_a, p.part_b, p.pair_support,
       sa.s AS support_a, sb.s AS support_b
FROM pairs p
JOIN singles sa ON p.part_a = sa.l_partkey
JOIN singles sb ON p.part_b = sb.l_partkey
""",
}
