"""Round-6 second-wave slugs: Q15/Q8/CUBE/cumulative-share star shapes,
engagement analytics (acquisition split, bounce rate), containment and
winnowing dedup, DSIR importance weighting, and hard-triplet mining.

This is the last module in registry._MODULES, so these slugs enumerate
last in queries(); the local 3-SF sweep (tools/check.py) covers them."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

from airstrik_py_spark.operators.corpus import (
    DSIR_BUCKETS,
    DSIR_TARGET_LANG,
    MIX_BUDGET_TOKENS,
    dsir_weights,
    token_allocation,
)
from airstrik_py_spark.operators.dedup import (
    CONTAIN_THRESHOLD,
    MINHASH_K,
    NGRAM_DF_MAX,
    minhash_jaccard_estimate,
    ngram_containment_pairs,
)
from airstrik_py_spark.operators.events import new_vs_returning, session_bounce_stats
from airstrik_py_spark.operators.similarity import TRIPLET_ANCHOR_MOD, triplet_mine
from airstrik_py_spark.operators.star import (
    Q8_NATION,
    Q8_REGION,
    Q15_END,
    Q15_START,
    acctbal_cube,
    market_share,
    revenue_cumshare,
    top_supplier,
)
from airstrik_py_spark.operators.winnow import (
    WINNOW_DF_MAX,
    WINNOW_PAIR_MIN,
    WINNOW_W,
    winnow_fingerprints,
    winnow_pairs,
)
from airstrik_py_spark.registry.dedup_q import _SH
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import load_table


def q_star_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-shape aggregate -> global argmax -> dim join —
    operators/star.py::top_supplier."""
    pin_session(spark)
    return top_supplier(spark, sf_dir)


def q_star_acctbal_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (nation, mktsegment) —
    operators/star.py::acctbal_cube; completes the
    ROLLUP/CUBE/PIVOT/UNPIVOT matrix."""
    pin_session(spark)
    return acctbal_cube(spark, sf_dir)


def q_star_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-shape conditional market share per order year —
    operators/star.py::market_share."""
    pin_session(spark)
    return market_share(spark, sf_dir)


def q_star_revenue_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative monthly revenue share per region (window AFTER
    aggregation, bounded rows) — operators/star.py::revenue_cumshare."""
    pin_session(spark)
    return revenue_cumshare(spark, sf_dir)


def q_events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day new/returning acquisition split —
    operators/events.py::new_vs_returning."""
    pin_session(spark)
    return new_vs_returning(load_table(spark, sf_dir, "events"))


def q_events_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session count / bounce rate composed on sessionize_events
    — operators/events.py::session_bounce_stats."""
    pin_session(spark)
    return session_bounce_stats(load_table(spark, sf_dir, "events"))


def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment (Broder) on DF-capped shared-shingle
    candidates — operators/dedup.py::ngram_containment_pairs."""
    pin_session(spark)
    return ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


def q_text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprint rollup (min k-gram hash per sliding
    window, rightmost-wins ties) — operators/winnow.py."""
    pin_session(spark)
    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def q_quality_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-unigram importance weights (target = lang-tagged
    slice vs raw corpus) — operators/corpus.py::dsir_weights."""
    pin_session(spark)
    return dsir_weights(load_table(spark, sf_dir, "documents"))


def q_mixture_token_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder token-budget apportionment per source —
    operators/corpus.py::token_allocation (sum(alloc) == budget exactly)."""
    pin_session(spark)
    return token_allocation(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimate on LSH candidate pairs (signature-only
    triage) — operators/dedup.py::minhash_jaccard_estimate."""
    pin_session(spark)
    return minhash_jaccard_estimate(load_table(spark, sf_dir, "documents"))


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document winnowing fingerprint matches (MOSS detection join,
    DF-capped inverted index) — operators/winnow.py::winnow_pairs."""
    pin_session(spark)
    return winnow_pairs(load_table(spark, sf_dir, "documents"))


def q_embedding_triplet_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard positive/negative triplet mining per anchor —
    operators/similarity.py::triplet_mine."""
    pin_session(spark)
    return triplet_mine(load_table(spark, sf_dir, "embeddings"))


QUERIES = {
    "star_top_supplier": q_star_top_supplier,
    "star_acctbal_cube": q_star_acctbal_cube,
    "star_market_share": q_star_market_share,
    "star_revenue_cumshare": q_star_revenue_cumshare,
    "events_new_vs_returning": q_events_new_vs_returning,
    "events_session_bounce": q_events_session_bounce,
    "dedup_ngram_containment": q_dedup_ngram_containment,
    "text_winnow_fingerprints": q_text_winnow_fingerprints,
    "quality_dsir_weights": q_quality_dsir_weights,
    "embedding_triplet_mine": q_embedding_triplet_mine,
    "mixture_token_allocation": q_mixture_token_allocation,
    "dedup_minhash_jaccard_est": q_dedup_minhash_jaccard_est,
    "dedup_winnow_pairs": q_dedup_winnow_pairs,
}

_REV_UNITS = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)

# Sessionize CTE chain (mirror of extras_q 'events_sessionize' oracle /
# operators/events.py::sessionize_events — same gap rule, same tiebreak).
_SESS = """
e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
g AS (
  SELECT *, CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                   OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                      > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM e),
s AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_n
  FROM g),
sess AS (SELECT user_id, session_n, CAST(count(*) AS BIGINT) AS n_events,
                min(us) AS start_us
         FROM s GROUP BY user_id, session_n)
"""

ORACLES = {
    "star_top_supplier": f"""
WITH per AS (
  SELECT l_suppkey, CAST(sum({_REV_UNITS}) AS BIGINT) AS total_rev_units
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_START}'
    AND l_shipdate < TIMESTAMP '{Q15_END}'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev_units
FROM per JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_units = (SELECT max(total_rev_units) FROM per)
""",
    "star_acctbal_cube": """
SELECT n_name, c_mktsegment,
       CAST(GROUPING(n_name, c_mktsegment) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS total_acctbal_cents
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, c_mktsegment)
""",
    "star_market_share": f"""
WITH mkt_c AS (
  SELECT c_custkey FROM customer
  WHERE c_nationkey IN (SELECT n_nationkey FROM nation
                        JOIN region ON n_regionkey = r_regionkey
                        WHERE r_name = '{Q8_REGION}')),
mo AS (SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS o_year
       FROM orders WHERE o_custkey IN (SELECT c_custkey FROM mkt_c)),
sn AS (SELECT s_suppkey, (n_name = '{Q8_NATION}') AS is_target
       FROM supplier JOIN nation ON s_nationkey = n_nationkey),
li AS (SELECT l_orderkey, l_suppkey, {_REV_UNITS} AS rev_units FROM lineitem),
j AS (SELECT mo.o_year, sn.is_target, li.rev_units
      FROM li JOIN mo ON li.l_orderkey = mo.o_orderkey
              JOIN sn ON li.l_suppkey = sn.s_suppkey),
gr AS (SELECT o_year,
              CAST(sum(CASE WHEN is_target THEN rev_units ELSE 0 END) AS BIGINT)
                AS nation_units,
              CAST(sum(rev_units) AS BIGINT) AS total_units
       FROM j GROUP BY o_year)
SELECT o_year, nation_units, total_units,
       CAST((2 * (CAST(nation_units AS HUGEINT) * 1000000) + total_units)
            // (2 * CAST(total_units AS HUGEINT))
            AS DOUBLE) / 1e6 AS mkt_share
FROM gr
""",
    "star_revenue_cumshare": """
WITH cu AS (
  SELECT c_custkey, r_name
  FROM customer JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey),
o AS (SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
monthly AS (SELECT r_name, month, CAST(sum(cents) AS BIGINT) AS month_cents
            FROM o JOIN cu ON o_custkey = c_custkey GROUP BY r_name, month),
cum AS (SELECT r_name, month, month_cents,
               CAST(sum(month_cents) OVER (PARTITION BY r_name ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_cents
        FROM monthly),
tot AS (SELECT r_name, CAST(sum(month_cents) AS BIGINT) AS region_cents
        FROM monthly GROUP BY r_name)
SELECT c.r_name, c.month, c.month_cents, c.cum_cents,
       CAST((2 * (CAST(c.cum_cents AS HUGEINT) * 1000000) + t.region_cents)
            // (2 * CAST(t.region_cents AS HUGEINT))
            AS DOUBLE) / 1e6 AS cum_share
FROM cum c JOIN tot t ON c.r_name = t.r_name
""",
    "events_new_vs_returning": """
WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
fst AS (SELECT user_id, min(day) AS first_day FROM act GROUP BY user_id)
SELECT strftime(a.day, '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN a.day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning,
       CAST(count(*) AS BIGINT) AS dau
FROM act a JOIN fst f ON a.user_id = f.user_id
GROUP BY a.day
""",
    "events_session_bounce": f"""
WITH {_SESS},
d AS (SELECT strftime(CAST(make_timestamp(start_us) AS DATE), '%Y-%m-%d') AS day,
             CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS b
      FROM sess),
g2 AS (SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(sum(b) AS BIGINT) AS n_bounces
       FROM d GROUP BY day)
SELECT day, n_sessions, n_bounces,
       CAST((2 * (CAST(n_bounces AS HUGEINT) * 1000000) + n_sessions)
            // (2 * CAST(n_sessions AS HUGEINT))
            AS DOUBLE) / 1e6 AS bounce_rate
FROM g2
""",
    "dedup_ngram_containment": f"""
WITH {_SH},
rare AS (
  SELECT doc_id, s
  FROM (SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh)
  WHERE df <= {NGRAM_DF_MAX}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
c AS (
  SELECT i.doc_a, i.doc_b, i.n_inter,
         round(i.n_inter * 1.0 / sa.n_sh, 4) AS c_a_in_b,
         round(i.n_inter * 1.0 / sb.n_sh, 4) AS c_b_in_a
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b)
SELECT doc_a, doc_b, n_inter, c_a_in_b, c_b_in_a
FROM c WHERE greatest(c_a_in_b, c_b_in_a) >= {CONTAIN_THRESHOLD}
""",
    "text_winnow_fingerprints": f"""
WITH dwords AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
               i -> {{'pos': i,
                      'h': md5(words[i] || '|' || words[i+1] || '|' || words[i+2])}}))
               AS x
      FROM dwords),
r AS (SELECT doc_id, x.pos AS pos,
             x.h || ':' || lpad(CAST(100000000 - x.pos AS VARCHAR), 9, '0')
                 || ':' || lpad(CAST(x.pos AS VARCHAR), 9, '0') AS comp
      FROM g),
wnd AS (SELECT doc_id, pos, comp,
               count(*) OVER (PARTITION BY doc_id) AS m,
               min(comp) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
        FROM r),
sel AS (SELECT DISTINCT doc_id, m, fp FROM wnd
        WHERE pos <= greatest(m - {WINNOW_W - 1}, 1))
SELECT doc_id, CAST(max(m) AS BIGINT) AS n_kgrams,
       CAST(count(*) AS BIGINT) AS n_fps,
       md5(string_agg(fp, '|' ORDER BY fp)) AS fp_digest
FROM sel GROUP BY doc_id
""",
    "quality_dsir_weights": f"""
WITH tok AS (
  SELECT doc_id, (lang = '{DSIR_TARGET_LANG}') AS is_target,
         ('0x' || substr(md5(tk), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk
        FROM documents)),
per_doc AS (SELECT doc_id, is_target, bucket, CAST(count(*) AS BIGINT) AS n
            FROM tok GROUP BY 1, 2, 3),
dist AS (SELECT bucket,
                CAST(sum(CASE WHEN is_target THEN n ELSE 0 END) AS BIGINT) AS ct,
                CAST(sum(n) AS BIGINT) AS cr
         FROM per_doc GROUP BY bucket),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr
        FROM dist),
tbl AS (SELECT bucket,
               CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + {DSIR_BUCKETS} AS DOUBLE))
                         - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + {DSIR_BUCKETS} AS DOUBLE)))
                         * 1000000.0, 0) AS BIGINT) AS lr_micro
        FROM dist CROSS JOIN tot)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok,
       CAST(sum(n * lr_micro) AS BIGINT) AS dsir_micro
FROM per_doc JOIN tbl USING (bucket) GROUP BY doc_id
""",
    "embedding_triplet_mine": f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
      FROM e WHERE vec_id % {TRIPLET_ANCHOR_MOD} = 0),
sc AS (SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
              round(list_dot_product(a.av, e.v)
                    / (sqrt(list_dot_product(a.av, a.av))
                       * sqrt(list_dot_product(e.v, e.v))), 4) AS cos
       FROM a JOIN e ON e.vec_id <> a.anchor_id),
pos AS (SELECT anchor_id, anchor_label, vec_id AS pos_id, cos AS pos_cos
        FROM sc WHERE label = anchor_label
        QUALIFY row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos ASC, vec_id ASC) = 1),
neg AS (SELECT anchor_id, vec_id AS neg_id, cos AS neg_cos
        FROM sc WHERE label <> anchor_label
        QUALIFY row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY cos DESC, vec_id ASC) = 1)
SELECT p.anchor_id, p.anchor_label, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos
FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
""",
}

_SIG_BANDS = """
sig AS (
  SELECT doc_id,
         min(md5('0|' || s)) AS h0, min(md5('1|' || s)) AS h1,
         min(md5('2|' || s)) AS h2, min(md5('3|' || s)) AS h3,
         min(md5('4|' || s)) AS h4, min(md5('5|' || s)) AS h5
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, md5('0' || '|' || h0 || '|' || h1) AS bkey FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5('1' || '|' || h2 || '|' || h3) AS bkey FROM sig
  UNION ALL
  SELECT doc_id, 2 AS band, md5('2' || '|' || h4 || '|' || h5) AS bkey FROM sig)
"""

_MATCH6 = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(MINHASH_K)
)

ORACLES["mixture_token_allocation"] = f"""
WITH per AS (SELECT source,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_all FROM per),
j AS (SELECT source, n_tokens,
             CAST(({MIX_BUDGET_TOKENS} * n_tokens) // t_all AS BIGINT) AS base,
             CAST(({MIX_BUDGET_TOKENS} * n_tokens) % t_all AS BIGINT) AS rem
      FROM per CROSS JOIN tot),
lo AS (SELECT CAST({MIX_BUDGET_TOKENS} - sum(base) AS BIGINT) AS k_extra FROM j),
rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rr FROM j)
SELECT source, n_tokens,
       CAST(base + CASE WHEN rr <= k_extra THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_tokens
FROM rk CROSS JOIN lo
"""

ORACLES["dedup_minhash_jaccard_est"] = f"""
WITH {{_SH}},
{{_SIG_BANDS}},
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
m AS (SELECT p.doc_a, p.doc_b,
             CAST({{_MATCH6}} AS BIGINT) AS n_sig_match
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b)
SELECT doc_a, doc_b, n_sig_match,
       round(n_sig_match * 1.0 / {MINHASH_K}, 4) AS jaccard_est
FROM m
""".format(_SH=_SH, _SIG_BANDS=_SIG_BANDS, _MATCH6=_MATCH6)

ORACLES["dedup_winnow_pairs"] = f"""
WITH dwords AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(range(1, len(words) - 1),
               i -> {{'pos': i,
                      'h': md5(words[i] || '|' || words[i+1] || '|' || words[i+2])}}))
               AS x
      FROM dwords),
r AS (SELECT doc_id, x.pos AS pos,
             x.h || ':' || lpad(CAST(100000000 - x.pos AS VARCHAR), 9, '0') AS comp
      FROM g),
wnd AS (SELECT doc_id, pos, comp,
               count(*) OVER (PARTITION BY doc_id) AS m,
               min(comp) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
        FROM r),
sel AS (SELECT DISTINCT doc_id, substr(fp, 1, 32) AS fp_hash FROM wnd
        WHERE pos <= greatest(m - {WINNOW_W - 1}, 1)),
cap AS (SELECT fp_hash
        FROM (SELECT fp_hash, count(*) AS df FROM sel GROUP BY fp_hash)
        WHERE df <= {WINNOW_DF_MAX}),
sh2 AS (SELECT s.doc_id, s.fp_hash FROM sel s JOIN cap USING (fp_hash))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM sh2 a JOIN sh2 b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_PAIR_MIN}
"""

