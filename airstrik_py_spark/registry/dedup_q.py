"""t2 queries for the dedup suite over `documents`/`embeddings`: exact,
MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine (BASELINE.json
training-data-pipeline extensions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airstrik_py_spark.operators import dedup as D
from airstrik_py_spark.operators import similarity as SIM
from airstrik_py_spark.operators.dedup import NGRAM_DF_MAX
from airstrik_py_spark.operators.similarity import (
    EMB_INCR_SPLIT,
    cosine_dup_pairs,
    cosine_dups_incremental,
    cosine_topk_pairs,
    embedding_bucket_store,
)
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import load_table

JACCARD_THRESHOLD = 0.1
COSINE_THRESHOLD = 0.4
_COS_BANDS = 8
_COS_BITS = 8
# "hi" lane operating point (redesigned r8 after the sf1 sweep caught the
# former 16 bands x 4 bits config going quadratic — 16 bucket values/band
# collide ~64% of ALL pairs; see operators/similarity.py cosine_topk_pairs
# for the rho = 0.66 LSH-gap math): wide 16-bit bands + Hamming<=2
# multi-probe + exact-cosine global top-k.  The operating point is OWNED
# by operators/similarity.py — imported here so retuning the engine knob
# retunes the oracle in lockstep (same rule as SRP_WEIGHTS).
_COS_TOPK_BANDS = SIM.COSINE_TOPK_BANDS
_COS_TOPK_BITS = SIM.COSINE_TOPK_BITS
_COS_TOPK_PROBE = SIM.COSINE_TOPK_PROBE
_COS_TOPK_K = SIM.COSINE_TOPK_K


def _cos_band_key(bits: int) -> str:
    # one SRP band key: sign bits of dims [band*bits+1 .. band*bits+bits];
    # v[i] past the end is NULL -> ELSE '0' (mirrors Spark try_element_at)
    return " || ".join(
        f"(CASE WHEN v[b.band * {bits} + {i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(bits)
    )


def _cos_band_key_int(bits: int) -> str:
    # integer form of the same key (mirrors srp_band_key_int): bit i set
    # when dim band*bits+i+1 >= 0; NULL (past-end) -> ELSE 0
    return "(" + " + ".join(
        f"(CASE WHEN v[b.band * {bits} + {i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    ) + ")"


# Hamming<=2 probe masks over 16-bit keys — the SAME function call that
# feeds the Spark side (cosine_topk_pairs), serialized as a literal list
_COS_TOPK_MASKS = "[" + ", ".join(
    str(m) for m in SIM.srp_probe_masks(_COS_TOPK_PROBE, _COS_TOPK_BITS)
) + "]"


_COS_BAND_KEY = _cos_band_key(_COS_BITS)

# Shared shingle CTEs (mirror of operators/dedup.py::shingles)
_SH = """
dwords AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
sh AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id,
               unnest(CASE WHEN len(words) >= 3
                      THEN list_transform(range(1, len(words) - 1),
                           i -> words[i] || '|' || words[i+1] || '|' || words[i+2])
                      ELSE [] END) AS s
        FROM dwords))
"""

# 64-bit simhash mirror: bit j reads bit j%4 of md5 nibble j//4 — the
# mapping is OWNED by operators/dedup.py (imported, not copied, so a
# remap there retunes this oracle in lockstep)
_HEX_BIT_SETS = D.HEX_BIT_SETS
_SIMHASH_SUMS = ", ".join(
    "sum(CASE WHEN substr(h, {p}, 1) IN ({chars}) THEN 1 ELSE -1 END) AS s{j}".format(
        p=j // 4 + 1,
        chars=", ".join(f"'{c}'" for c in _HEX_BIT_SETS[j % 4]),
        j=j,
    )
    for j in range(64)
)
_SIMHASH_SIG = " || ".join(
    f"(CASE WHEN s{j} > 0 THEN '1' ELSE '0' END)" for j in range(64)
)
_HAMMING = " + ".join(
    f"(CASE WHEN substr(a.sig, {j + 1}, 1) <> substr(b.sig, {j + 1}, 1) THEN 1 ELSE 0 END)"
    for j in range(64)
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-digest groupBy, canonical = min doc_id."""
    pin_session(spark)
    return D.dedup_exact(load_table(spark, sf_dir, "documents"))


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after lowercase + whitespace collapse."""
    pin_session(spark)
    return D.dedup_normalized(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(6) + LSH(3 bands x 2): candidate near-dup pairs from shared
    band buckets — bucket-join, never all-pairs."""
    pin_session(spark)
    return D.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup ingest check (operators/dedup.py::minhash_lsh_incremental):
    each NEW doc (doc_id >= INCR_SPLIT) vs the ACCEPTED corpus via shared
    MinHash band buckets.  In production the corpus side is the persisted
    (doc_id, band, bkey) signature store appended per batch — the corpus
    text is never re-read (tests/test_dedup_similarity.py pins the
    store-roundtrip equivalence); this slug derives it from the fixture
    split so the DuckDB oracle can mirror it."""
    from airstrik_py_spark.operators.dedup import INCR_SPLIT

    pin_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    corpus_bands = D.lsh_band_keys(
        D.minhash_signature(docs.filter(F.col("doc_id") < INCR_SPLIT))
    )
    return D.minhash_lsh_incremental(
        docs.filter(F.col("doc_id") >= INCR_SPLIT), corpus_bands
    )


def q_dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup ingest check
    (operators/similarity.py::cosine_dups_incremental): NEW vectors
    (vec_id >= EMB_INCR_SPLIT) vs the ACCEPTED corpus via the persisted
    SRP bucket store — the third incremental-dedup modality (exact digest
    / text MinHash / embedding cosine).  This slug derives the store from
    the fixture split so the DuckDB oracle can mirror it; the
    store-roundtrip equivalence is pinned in tests.  Same 8x8 SRP banding
    (and thus the same ~0.27 pair recall at threshold 0.4, RECALL.md) as
    embedding_cosine_banded_candidates — a candidates-then-exact ingest
    gate, not an all-pairs guarantee."""
    pin_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    store = embedding_bucket_store(emb.filter(F.col("vec_id") < EMB_INCR_SPLIT))
    return cosine_dups_incremental(
        emb.filter(F.col("vec_id") >= EMB_INCR_SPLIT), store, COSINE_THRESHOLD
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs at hamming <= 3 via 4-block (16-bit)
    pigeonhole bucketing."""
    pin_session(spark)
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard >= threshold on shared-shingle candidates."""
    pin_session(spark)
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )


def q_embedding_cosine_banded_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-banded CANDIDATE-GENERATION lane (renamed from
    dedup_embedding_cosine in r11, VERDICT r10 #1): exact rounded cosine
    >= threshold over banded candidates only.  This is NOT all-pairs
    dedup — measured pair recall at the registered threshold 0.4 is
    0.271 on the fixture (RECALL.md), the analytic banded-SRP curve for
    noise-level cosines (rho = 0.66 at t=0.4 means NO subquadratic
    banding ranks such pairs with high recall).  The oracle mirrors the
    banding, so green certifies the candidates-then-exact contract.  For
    ranking fidelity use dedup_embedding_cosine_hi (multi-probe top-k);
    for exactness use ann_bruteforce_cosine as the re-rank."""
    pin_session(spark)
    return cosine_dup_pairs(load_table(spark, sf_dir, "embeddings"), COSINE_THRESHOLD)


def q_dedup_embedding_cosine_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-fidelity embedding pair ranking: 4 bands x 16 sign bits with
    Hamming<=2 multi-probe (137 masks) candidate generation, exact cosine
    re-rank, deterministic global top-100 by (rounded cos DESC, id_a,
    id_b).  Replaces the r2 16x4 tight-banding point, which the r8 sf1
    sweep caught colliding ~64% of all pairs (quadratic at every scale) —
    and the rho = 0.66 LSH gap at threshold 0.4 means no recall-chasing
    banding can be subquadratic there (operators/similarity.py
    cosine_topk_pairs docstring has the math)."""
    pin_session(spark)
    return cosine_topk_pairs(
        load_table(spark, sf_dir, "embeddings"),
        k=_COS_TOPK_K,
        bands=_COS_TOPK_BANDS,
        bits=_COS_TOPK_BITS,
        probe_hamming=_COS_TOPK_PROBE,
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from the MinHash-LSH pair graph: connected
    components by min-label propagation, canonical doc = component min."""
    pin_session(spark)
    return D.dedup_clusters(
        D.lsh_candidate_pairs(load_table(spark, sf_dir, "documents"))
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_normalized": q_dedup_normalized,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "dedup_embedding_incremental": q_dedup_embedding_incremental,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "embedding_cosine_banded_candidates": q_embedding_cosine_banded_candidates,
    "dedup_embedding_cosine_hi": q_dedup_embedding_cosine_hi,
    "dedup_clusters": q_dedup_clusters,
}

ORACLES = {
    "dedup_exact": """
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
    "dedup_normalized": """
SELECT md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS canon_hash,
       min(doc_id) AS canonical_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
    "dedup_minhash_lsh": f"""
WITH {_SH},
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
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    "dedup_minhash_incremental": f"""
WITH {_SH},
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
SELECT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id,
       count(*) AS n_shared_bands
FROM bands n JOIN bands c ON n.band = c.band AND n.bkey = c.bkey
WHERE n.doc_id >= {D.INCR_SPLIT} AND c.doc_id < {D.INCR_SPLIT}
GROUP BY 1, 2
""",
    "dedup_simhash": f"""
WITH tok AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents),
sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM tok GROUP BY doc_id),
sig AS (SELECT doc_id, {_SIMHASH_SIG} AS sig FROM sums),
blocks AS (
  SELECT doc_id, sig, b.blk, substr(sig, b.blk * 16 + 1, 16) AS bval
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS blk) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS asig, b.sig AS bsig
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
ham AS (
  SELECT doc_a, doc_b,
         ({_HAMMING.replace('a.sig', 'asig').replace('b.sig', 'bsig')}) AS hamming
  FROM cand)
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming FROM ham WHERE hamming <= 3
""",
    "dedup_ngram_jaccard": f"""
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
jac AS (
  SELECT i.doc_a, i.doc_b, i.n_inter,
         round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 4) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b)
SELECT doc_a, doc_b, n_inter, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
""",
    # SRP-banded candidates + exact in-bucket re-rank — mirrors
    # operators/similarity.py::cosine_dup_pairs (8 bands x 8 sign bits,
    # out-of-range dims -> '0')
    # THIN bucket join (r11, same shape as the engine's _reattach_vectors
    # and the knn oracle): band keys join on ids only, DISTINCT collapses
    # multi-band hits on the 16-byte pair, vectors re-attach for ONE
    # cosine per pair — the old form carried both 520-byte vectors through
    # the banded self-join (568 s sampled at sf10).
    "embedding_cosine_banded_candidates": f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
banded AS (
  SELECT vec_id, b.band, {_COS_BAND_KEY} AS bkey
  FROM e, (SELECT unnest(range(0, {_COS_BANDS})) AS band) b),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       round(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4) AS cos
FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
WHERE round(list_dot_product(ea.v, eb.v)
            / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4) >= {COSINE_THRESHOLD}
""",
    # Incremental lane: same SRP banding + exact re-rank, restricted to
    # (new >= split) x (corpus < split) — mirrors cosine_dups_incremental
    "dedup_embedding_incremental": f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
banded AS (
  SELECT vec_id, b.band, {_COS_BAND_KEY} AS bkey
  FROM e, (SELECT unnest(range(0, {_COS_BANDS})) AS band) b),
cand AS (
  SELECT DISTINCT n.vec_id AS new_vec_id, c.vec_id AS corpus_vec_id
  FROM banded n JOIN banded c ON n.band = c.band AND n.bkey = c.bkey
  WHERE n.vec_id >= {EMB_INCR_SPLIT} AND c.vec_id < {EMB_INCR_SPLIT})
SELECT p.new_vec_id, p.corpus_vec_id,
       round(list_dot_product(en.v, ec.v)
             / (sqrt(list_dot_product(en.v, en.v)) * sqrt(list_dot_product(ec.v, ec.v))), 4) AS cos
FROM cand p JOIN e en ON en.vec_id = p.new_vec_id JOIN e ec ON ec.vec_id = p.corpus_vec_id
WHERE round(list_dot_product(en.v, ec.v)
            / (sqrt(list_dot_product(en.v, en.v)) * sqrt(list_dot_product(ec.v, ec.v))), 4) >= {COSINE_THRESHOLD}
""",
    # Multi-probe top-k mirror of cosine_topk_pairs: integer 16-bit band
    # keys (bit i = sign of dim band*16+i+1, same convention as the string
    # keys), probe side XORs every Hamming<=2 mask, DISTINCT candidate
    # pairs re-ranked by exact cosine, deterministic top-100
    "dedup_embedding_cosine_hi": f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
keyed AS (
  SELECT vec_id, b.band, {_cos_band_key_int(_COS_TOPK_BITS)} AS bkey
  FROM e, (SELECT unnest(range(0, {_COS_TOPK_BANDS})) AS band) b),
probes AS (
  SELECT vec_id, band, xor(bkey, m.m) AS bkey
  FROM keyed, (SELECT unnest({_COS_TOPK_MASKS}) AS m) m),
cand AS (
  SELECT DISTINCT p.vec_id AS id_a, k.vec_id AS id_b
  FROM probes p JOIN keyed k ON p.band = k.band AND p.bkey = k.bkey
  WHERE p.vec_id < k.vec_id)
SELECT c.id_a, c.id_b,
       round(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 4) AS cos
FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
ORDER BY cos DESC, c.id_a, c.id_b LIMIT {_COS_TOPK_K}
""",
    # Same MinHash band CTEs as dedup_minhash_lsh, then connected components
    # as a recursive-CTE transitive closure (UNION-dedup recursion reaches
    # the same fixpoint as Spark's min-label propagation loop)
    "dedup_clusters": f"""
WITH RECURSIVE {_SH},
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
  SELECT doc_id, 2 AS band, md5('2' || '|' || h4 || '|' || h5) AS bkey FROM sig),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
""",
}
