"""t2 queries for similarity search over `embeddings`: brute-force cosine
top-k (baseline), SRP-LSH bucketed, and k-means IVF (scale paths)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from airstrik_py_spark.operators import similarity as SIM
from airstrik_py_spark.session import pin_session
from airstrik_py_spark.sources.tables import load_table

N_QUERIES = 5
TOP_K = 10

_E = """
e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
"""
_COS = (
    "round(list_dot_product(q.v, c.v) "
    "/ (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4)"
)
# SRP signature mirror: same literal ±1 hyperplanes as
# operators/similarity.py::SRP_WEIGHTS, same round-6-then-sign rule.
def _sig_expr(weights) -> str:
    return " + ".join(
        "(CASE WHEN round(list_dot_product(list_resize(v, {d}, 0.0), [{w}]), 6) >= 0.0 "
        "THEN {bit} ELSE 0 END)".format(
            d=SIM.SRP_DIM,
            w=", ".join(str(x) for x in w),
            bit=1 << j,
        )
        for j, w in enumerate(weights)
    )


def _sig_expr_pre(weights) -> str:
    """Same signature expression over a PRE-RESIZED vector column `vr`
    (r11 oracle-cost fix: 20 per-term list_resize calls were ~60 us/row in
    DuckDB — hoisting the resize once per row cut the sigd build ~10x;
    identical value, same round-6-then-sign rule)."""
    return " + ".join(
        "(CASE WHEN round(list_dot_product(vr, [{w}]), 6) >= 0.0 "
        "THEN {bit} ELSE 0 END)".format(
            w=", ".join(str(x) for x in w),
            bit=1 << j,
        )
        for j, w in enumerate(weights)
    )


_SIG = _sig_expr(SIM.SRP_WEIGHTS)
# Full-width signature for the auto-width knn lanes: built once at
# SRP_MAX_BITS, then truncated to the data-derived width with % (1 << w)
# — valid because bit j is identical at every width (prefix property,
# pinned by tests/test_dedup_similarity.py).
_SIG_FULL = _sig_expr(SIM.SRP_WEIGHTS_MAX)
_SIG_FULL_PRE = _sig_expr_pre(SIM.SRP_WEIGHTS_MAX)
_MASKS = ", ".join(str(m) for m in SIM.srp_probe_masks())


def _kmeans_ctes(n_cells: int, iters: int, dim: int) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs mirroring
    operators/similarity.py::kmeans_fit exactly: squared-L2 rounded to 6
    dp before the argmin (ORDER BY dist, cell = Spark's struct array_min),
    coordinate means rounded to 6 dp (the literal [round(avg(v[i]),6)...]
    list = Spark's per-coordinate agg).  DuckDB lists are 1-based, Spark
    getItem is 0-based — v[i] here pairs with vec[i-1] there."""
    avgs = ", ".join(f"round(avg(v[{i}]), 6)" for i in range(1, dim + 1))
    parts = [
        f"c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cvec FROM e WHERE vec_id < {n_cells})"
    ]
    for it in range(iters + 1):
        parts.append(
            f"""s{it} AS (
  SELECT vec_id, v, cell, round(list_dot_product(d, d), 6) AS dist
  FROM (SELECT e.vec_id, e.v, c.cell,
               list_transform(range(1, {dim + 1}), i -> e.v[i] - c.cvec[i]) AS d
        FROM e CROSS JOIN c{it} c) t)"""
        )
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, v, cell FROM s{it}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) = 1)"""
        )
        if it < iters:
            parts.append(
                f"c{it + 1} AS (SELECT cell, [{avgs}] AS cvec FROM a{it} GROUP BY cell)"
            )
    return ",\n".join(parts)


def q_ann_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session(spark)
    return SIM.ann_bruteforce(load_table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K)


def q_ann_lsh_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session(spark)
    return SIM.ann_srp_lsh(load_table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K)


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    pin_session(spark)
    return SIM.ann_ivf_kmeans(load_table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K)


def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled class centroids per label (the pooling step of
    prototype/centroid classifiers and IVF training): one
    map-side-combined groupBy on label emitting all 64 coordinate means,
    then posexplode to scalar long form (label, n_vecs, pos, val) so the
    value hash stays array-free.  Coordinates round to 6 dp like the
    k-means update (same cross-engine mean contract)."""
    from pyspark.sql import functions as F

    pin_session(spark)
    ev = load_table(spark, sf_dir, "embeddings").withColumn(
        "vec", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    dim = SIM.SRP_DIM
    aggs = [
        F.round(F.avg(F.get(F.col("vec"), F.lit(i))), 6).alias(f"_c{i}")
        for i in range(dim)
    ]
    g = ev.groupBy("label").agg(F.count("*").alias("n_vecs"), *aggs)
    return g.select(
        "label",
        "n_vecs",
        F.posexplode(F.array(*[F.col(f"_c{i}") for i in range(dim)])).alias(
            "pos", "val"
        ),
    )


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes + per-subspace squared error —
    operators/similarity.py::pq_codes: 8 subspace codebooks trained in one
    long-form Lloyd loop (broadcast codebook, <=32-group updates)."""
    pin_session(spark)
    return SIM.pq_codes(load_table(spark, sf_dir, "embeddings"))


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (codes-only database side) —
    operators/similarity.py::ann_pq_adc: broadcast per-query LUT,
    integer micro-unit distance sums."""
    pin_session(spark)
    return SIM.ann_pq_adc(load_table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K)


_PQ_DIST = "round(list_dot_product(d, d), 6)"


def _pq_assign_sql(cent: str) -> str:
    sd = SIM.PQ_SUB_DIM
    return f"""(SELECT vec_id, sub, s, cid, {_PQ_DIST} AS dist
  FROM (SELECT q.vec_id, q.sub, q.s, c.cid,
               list_transform(range(1, {sd + 1}), i -> q.s[i] - c.cvec[i]) AS d
        FROM sv q JOIN {cent} c ON q.sub = c.sub) t)"""


def _pq_ctes(p: str = "") -> tuple[str, str]:
    """Shared unrolled per-subspace Lloyd CTE block (same shape as the
    ann_ivf_kmeans oracle but keyed (sub, cid) with list_slice
    subvectors): returns (cte_block, final_centroid_name).  `p` prefixes
    the centroid/assignment CTE names so the block can coexist with the
    full-dim k-means CTEs (which also use c0/a0...) in one query."""
    sd = SIM.PQ_SUB_DIM
    avg_list = ", ".join(f"round(avg(s[{i}]), 6)" for i in range(1, sd + 1))
    parts = [
        f"""sv AS (SELECT vec_id, sub,
             list_slice(v, sub * {sd} + 1, sub * {sd} + {sd}) AS s
      FROM (SELECT vec_id, v, unnest(range(0, {SIM.PQ_SUB})) AS sub FROM e))""",
        f"{p}c0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, s AS cvec FROM sv WHERE vec_id < {SIM.PQ_K})",
    ]
    for it in range(SIM.PQ_ITERS):
        parts.append(
            f"""{p}a{it} AS (SELECT vec_id, sub, s, cid FROM {_pq_assign_sql(f"{p}c{it}")}
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1)"""
        )
        parts.append(
            f"{p}c{it + 1} AS (SELECT sub, cid, [{avg_list}] AS cvec FROM {p}a{it} GROUP BY sub, cid)"
        )
    return ",\n".join(parts), f"{p}c{SIM.PQ_ITERS}"


def _pq_oracle() -> str:
    ctes, final_cent = _pq_ctes()
    return f"""
WITH {_E},
{ctes}
SELECT vec_id, CAST(sub AS INTEGER) AS sub, cid AS code, dist AS sq_err
FROM {_pq_assign_sql(final_cent)}
QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1
"""


def _pq_adc_oracle() -> str:
    sd = SIM.PQ_SUB_DIM
    ctes, final_cent = _pq_ctes()
    return f"""
WITH {_E},
{ctes},
codes AS (
  SELECT vec_id, sub, cid FROM {_pq_assign_sql(final_cent)}
  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1),
lut AS (
  SELECT query_id, sub, cid,
         CAST(round({_PQ_DIST} * {SIM.DIM_MICRO}, 0) AS BIGINT) AS dmicro
  FROM (SELECT q.vec_id AS query_id, q.sub, c.cid,
               list_transform(range(1, {sd + 1}), i -> q.s[i] - c.cvec[i]) AS d
        FROM sv q JOIN {final_cent} c ON q.sub = c.sub
        WHERE q.vec_id < {N_QUERIES}) t),
est AS (
  SELECT l.query_id, k.vec_id AS neighbor_id, CAST(sum(l.dmicro) AS BIGINT) AS est_micro
  FROM codes k JOIN lut l ON k.sub = l.sub AND k.cid = l.cid
  WHERE k.vec_id != l.query_id
  GROUP BY l.query_id, k.vec_id)
SELECT query_id, neighbor_id, est_micro,
       CAST(row_number() OVER w AS INTEGER) AS rank
FROM est
WINDOW w AS (PARTITION BY query_id ORDER BY est_micro, neighbor_id)
QUALIFY row_number() OVER w <= {TOP_K}
"""


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ serving query (trained coarse quantizer prunes
    cells, PQ codes estimate distances inside) —
    operators/similarity.py::ann_ivf_pq."""
    pin_session(spark)
    return SIM.ann_ivf_pq(load_table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K)


def _ivf_pq_oracle() -> str:
    pq_ctes, pq_final = _pq_ctes(p="p")
    km = _kmeans_ctes(SIM.KMEANS_CELLS, SIM.KMEANS_ITERS, SIM.SRP_DIM)
    it = SIM.KMEANS_ITERS
    return f"""
WITH {_E},
{km},
{pq_ctes},
codesx AS (
  SELECT f.vec_id, f.sub, f.cid, iv.cell
  FROM (SELECT vec_id, sub, cid FROM {_pq_assign_sql(pq_final)}
        QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) = 1) f
  JOIN a{it} iv ON f.vec_id = iv.vec_id),
probes AS (
  SELECT vec_id AS query_id, cell FROM s{it}
  WHERE vec_id < {N_QUERIES}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) <= {SIM.KMEANS_PROBES}),
lut AS (
  SELECT query_id, sub, cid,
         CAST(round({_PQ_DIST} * {SIM.DIM_MICRO}, 0) AS BIGINT) AS dmicro
  FROM (SELECT q.vec_id AS query_id, q.sub, c.cid,
               list_transform(range(1, {SIM.PQ_SUB_DIM + 1}), i -> q.s[i] - c.cvec[i]) AS d
        FROM sv q JOIN {pq_final} c ON q.sub = c.sub
        WHERE q.vec_id < {N_QUERIES}) t),
est AS (
  SELECT p.query_id, p.cell, k.vec_id AS neighbor_id,
         CAST(sum(l.dmicro) AS BIGINT) AS est_micro
  FROM probes p
  JOIN codesx k ON k.cell = p.cell AND k.vec_id != p.query_id
  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.cid = k.cid
  GROUP BY p.query_id, p.cell, k.vec_id)
SELECT query_id, cell, neighbor_id, est_micro,
       CAST(row_number() OVER w AS INTEGER) AS rank
FROM est
WINDOW w AS (PARTITION BY query_id ORDER BY est_micro, neighbor_id)
QUALIFY row_number() OVER w <= {TOP_K}
"""


def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening profile (mean/variance/min/max) —
    operators/similarity.py::embedding_dim_stats: micro-quantized exact
    integer moment sums, one map-side-combined exchange into 64 rows."""
    pin_session(spark)
    return SIM.embedding_dim_stats(load_table(spark, sf_dir, "embeddings"))


def q_knn_graph_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus approximate k-NN graph (SemDeDup building block) —
    operators/similarity.py::knn_graph: SRP buckets + Hamming-1 probes,
    exact cosine re-rank, top-3 edges per source vector."""
    pin_session(spark)
    return SIM.knn_graph(load_table(spark, sf_dir, "embeddings"))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: kNN-graph edges >= cosine threshold -> connected
    components -> min-vec_id canonical — operators/similarity.py::
    semantic_dedup."""
    pin_session(spark)
    return SIM.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by matrix-free power iteration —
    operators/similarity.py::pca_top_component (center -> 3 unrolled
    w = X^T X v rounds, 6-dp coordinate rounding per round)."""
    pin_session(spark)
    return SIM.pca_top_component(load_table(spark, sf_dir, "embeddings"))


def _pca_ctes(iters: int, dim: int) -> str:
    """Unrolled power-iteration CTEs mirroring pca_top_component exactly:
    literal round(sum(s * cvec[i]), 6) coordinate lists (DuckDB 1-based
    v[i] pairs with Spark's 0-based get(vec, i-1)), norm from the ROUNDED
    coordinate vector, unit vector re-rounded to 6 dp each round."""
    import math as _math

    v0 = round(1.0 / _math.sqrt(dim), 6)
    avgs = ", ".join(f"round(avg(v[{i}]), 6)" for i in range(1, dim + 1))
    parts = [
        f"m AS (SELECT [{avgs}] AS mvec FROM e)",
        f"c AS (SELECT vec_id, list_transform(range(1, {dim + 1}),"
        " i -> v[i] - mvec[i]) AS cvec FROM e CROSS JOIN m)",
        f"p0 AS (SELECT [{', '.join([str(v0)] * dim)}] AS pvec)",
    ]
    sums = ", ".join(f"round(sum(s * cvec[{i}]), 6)" for i in range(1, dim + 1))
    for it in range(iters):
        parts.append(
            f"s{it} AS (SELECT cvec, list_dot_product(cvec, pvec) AS s"
            f" FROM c CROSS JOIN p{it})"
        )
        parts.append(f"w{it} AS (SELECT [{sums}] AS wv FROM s{it})")
        parts.append(
            f"p{it + 1} AS (SELECT list_transform(wv,"
            " x -> round(x / sqrt(list_dot_product(wv, wv)), 6)) AS pvec,"
            " round(sqrt(list_dot_product(wv, wv)), 6) AS eigval"
            f" FROM w{it})"
        )
    return ",\n".join(parts)


# kNN-graph CTEs shared by knn_graph_bucketed and dedup_semantic — one SQL
# definition, like the Spark side's knn_graph reuse.  Width is derived
# from count(*) with the SAME formula as operators/similarity.py::
# auto_srp_bits (log2/ceil are bit-identical libm on both engines), and
# the probe-mask list is the Hamming-1 set for that width — the static
# mask-list form only worked while the width itself was static.
assert SIM.KNN_GRAPH_PROBE == 1, "dynamic-width oracle enumerates Hamming-1 masks"
# greatest(count(*), 1): on an EMPTY embeddings table log2(0) is -inf and
# CAST(-inf AS INTEGER) errors in DuckDB, while the Spark side's
# auto_srp_bits returns SRP_BITS for n <= 0 (ADVICE r9) — with the guard,
# n<=1 clamps to SRP_BITS on both engines and the oracle yields the same
# empty result as the engine.
_KNN_W = (
    f"least(greatest(CAST(ceil(log2(greatest(count(*), 1) / {SIM.SRP_TARGET_OCCUPANCY})) AS INTEGER), "
    f"{SIM.SRP_BITS}), {SIM.SRP_MAX_BITS})"
)
# sigd and knn are MATERIALIZED: DuckDB inlines plain CTEs per reference
# (the r8 dedup_semantic finding) — sigd is referenced twice (probe build
# + candidate side; the 20-hyperplane signature would be computed twice)
# and graph_pagerank_knn references knn once per unrolled PageRank
# iteration.  Pure performance; results are identical.
_KNN_CTES = f"""{_E},
sigw AS (SELECT {_KNN_W} AS w FROM e),
sigd AS MATERIALIZED (
  SELECT vec_id, v, ({_SIG_FULL_PRE}) % (1 << w) AS sig
  FROM (SELECT vec_id, v, list_resize(v, {SIM.SRP_DIM}, 0.0) AS vr FROM e), sigw),
sk AS MATERIALIZED (SELECT vec_id, sig FROM sigd),
probes AS (
  SELECT vec_id,
         unnest(list_prepend(sig, list_transform(range(0, w), p -> xor(sig, 1 << p)))) AS bucket
  FROM sk, sigw),
cand AS (
  SELECT p.vec_id AS src_id, c.vec_id AS dst_id
  FROM probes p JOIN sk c ON p.bucket = c.sig AND p.vec_id <> c.vec_id),
scored AS MATERIALIZED (
  SELECT cand.src_id, cand.dst_id, {_COS} AS cos
  FROM cand JOIN sigd q ON q.vec_id = cand.src_id JOIN sigd c ON c.vec_id = cand.dst_id),
knn AS MATERIALIZED (
  SELECT src_id, dst_id, cos,
         CAST(row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, dst_id) AS INTEGER) AS rank
  FROM scored
  QUALIFY rank <= {SIM.KNN_GRAPH_K})"""
# ^ THIN candidate join (r11, mirrors the engine's r9 fix in
# operators/similarity.py::_reattach_vectors): the old oracle carried both
# 512-byte vectors through the bucket join — ~N*(w+1)*occupancy rows x
# ~1 KB was the 44.7 GiB OOM that forced the sf10 documented-skips for
# graph_pagerank_knn / dedup_semantic.  Candidates are 16-byte id pairs;
# vectors re-attach via two hash joins only for the cosine; `scored` is
# MATERIALIZED so the re-attached vectors are PROVABLY gone before the
# 36M-row rank window (at sf10, leaving them to the optimizer's pruning
# was the second 44.7 GiB OOM); and the signature hoists list_resize once
# per row (20 per-term resizes were ~60 us/row — 10x on the sigd build).
# Identical results (same candidates, same cosine, same rank tie-break).


def q_ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of exact + SRP rankings —
    operators/similarity.py::ann_rrf_fusion (c=60, per-term micro)."""
    pin_session(spark)
    return SIM.ann_rrf_fusion(
        load_table(spark, sf_dir, "embeddings"), N_QUERIES, TOP_K
    )


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization — operators/similarity.py::
    embedding_quantize_int8: full-corpus per-dim max|micro| scales,
    sign-split integer round-half-away codes, first-500-vec emission."""
    pin_session(spark)
    return SIM.embedding_quantize_int8(load_table(spark, sf_dir, "embeddings"))


def q_embedding_truncate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation fidelity: per-probe overlap between exact
    top-10 by full 64-dim cosine and by first-16-dim cosine
    (operators/similarity.py::truncate_recall)."""
    pin_session(spark)
    return SIM.truncate_recall(load_table(spark, sf_dir, "embeddings"))


QUERIES = {
    "ann_bruteforce_cosine": q_ann_bruteforce_cosine,
    "ann_lsh_srp": q_ann_lsh_srp,
    "embedding_quantize_int8": q_embedding_quantize_int8,
    "ann_rrf_fusion": q_ann_rrf_fusion,
    "embedding_truncate_recall": q_embedding_truncate_recall,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "embedding_label_centroids": q_embedding_label_centroids,
    "knn_graph_bucketed": q_knn_graph_bucketed,
    "dedup_semantic": q_dedup_semantic,
    "embedding_dim_stats": q_embedding_dim_stats,
    "pq_codes": q_pq_codes,
    "ann_pq_adc": q_ann_pq_adc,
    "ann_ivf_pq": q_ann_ivf_pq,
    "embedding_pca_power": q_embedding_pca_power,
}

# truncated-prefix cosine: same formula as _COS over v[1:TRUNC_DIM]
_COS_T = (
    f"round(list_dot_product(q.v[1:{SIM.TRUNC_DIM}], c.v[1:{SIM.TRUNC_DIM}]) "
    f"/ (sqrt(list_dot_product(q.v[1:{SIM.TRUNC_DIM}], q.v[1:{SIM.TRUNC_DIM}])) "
    f"* sqrt(list_dot_product(c.v[1:{SIM.TRUNC_DIM}], c.v[1:{SIM.TRUNC_DIM}]))), 4)"
)

SEM_LABEL_ROUNDS = 32


def _semantic_oracle(rounds: int = SEM_LABEL_ROUNDS) -> str:
    """dedup_semantic oracle as UNROLLED min-label propagation WITH
    POINTER DOUBLING (r11): the old transitive-closure recursion
    materialized the reachable-pair set — quadratic per component,
    non-spilling in DuckDB 1.0, the sf10 OOM that outlived the thin-knn
    fix.  Per round every node takes the min over {its label, its
    neighbors' labels, the label OF its label} — rows per round = nodes +
    edges, never reachable PAIRS, and the label-jump branch gives
    O(log diameter) convergence (the first attempt's plain neighbor-min
    at 24 rounds did NOT converge at sf10, and even with the jump branch
    the measured sf10 profile converges at round 24 — a long straggler
    chain; 32 gives 33% headroom and the guard still protects).  Fixpoint =
    component min (any non-min label still decreases via the neighbor
    branch along a shortest path, so a converged state is the engine's
    own dedup_clusters fixpoint).  A convergence guard poisons EVERY
    output row (cluster_id = -1) if the last two rounds still differ, so
    an unconverged oracle fails the compare loudly instead of passing
    silently."""
    parts = [
        f"""pe AS MATERIALIZED (
  SELECT src_id AS src, dst_id AS dst FROM knn WHERE cos >= {SIM.SEM_THRESHOLD}
  UNION
  SELECT dst_id AS src, src_id AS dst FROM knn WHERE cos >= {SIM.SEM_THRESHOLD})""",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM pe)",
    ]
    for k in range(rounds):
        parts.append(
            f"""l{k + 1} AS MATERIALIZED (
  SELECT node, min(lab) AS lab FROM (
    SELECT node, lab FROM l{k}
    UNION ALL
    SELECT l.node, nl.lab FROM l{k} l JOIN pe e ON e.src = l.node
                          JOIN l{k} nl ON nl.node = e.dst
    UNION ALL
    SELECT l.node, ll.lab FROM l{k} l JOIN l{k} ll ON ll.node = l.lab
  ) GROUP BY node)"""
        )
    joined = ",\n".join(parts)
    return f"""
WITH {_KNN_CTES},
{joined},
conv AS (SELECT count(*) AS diffs FROM l{rounds} a
         JOIN l{rounds - 1} b ON a.node = b.node AND a.lab <> b.lab)
SELECT node AS vec_id,
       CASE WHEN conv.diffs = 0 THEN lab ELSE -1 END AS cluster_id,
       CASE WHEN conv.diffs = 0 THEN lab = node ELSE NULL END AS is_canonical
FROM l{rounds} CROSS JOIN conv
"""


ORACLES = {
    "embedding_truncate_recall": f"""
WITH {_E},
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_COS} AS cf, {_COS_T} AS ct
  FROM e q JOIN e c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {SIM.TRUNC_QUERIES}),
r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cf DESC, neighbor_id) AS rf,
         row_number() OVER (PARTITION BY query_id ORDER BY ct DESC, neighbor_id) AS rt
  FROM s),
o AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_overlap FROM r
      WHERE rf <= 10 AND rt <= 10 GROUP BY query_id)
SELECT b.query_id, CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap
FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < {SIM.TRUNC_QUERIES}) b
LEFT JOIN o USING (query_id)
""",
    "embedding_quantize_int8": f"""
WITH idx AS (SELECT vec_id, embedding, unnest(range(0, len(embedding))) AS dim
             FROM embeddings),
v AS (SELECT vec_id, CAST(dim AS INTEGER) AS dim,
             CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * {SIM.DIM_MICRO}, 0) AS BIGINT) AS vq
      FROM idx),
s AS (SELECT dim, CAST(max(abs(vq)) AS BIGINT) AS amax FROM v GROUP BY dim)
SELECT vec_id, dim,
       CAST(CASE WHEN amax = 0 THEN 0
                 WHEN vq >= 0 THEN (2 * 127 * vq + amax) // (2 * amax)
                 ELSE -((2 * 127 * (-vq) + amax) // (2 * amax)) END AS INTEGER) AS code,
       amax AS amax_micro
FROM v JOIN s USING (dim)
WHERE vec_id < {SIM.SQ8_OUT_VECS}
""",
    "embedding_pca_power": f"""
WITH {_E},
{_pca_ctes(SIM.PCA_ITERS, SIM.SRP_DIM)}
SELECT CAST(i - 1 AS INTEGER) AS dim_idx, pvec[i] AS loading, eigval
FROM p{SIM.PCA_ITERS}, (SELECT unnest(range(1, {SIM.SRP_DIM + 1})) AS i)
""",
    "ann_bruteforce_cosine": f"""
WITH {_E}
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cos,
       CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id) AS INTEGER) AS rank
FROM e q JOIN e c ON q.vec_id <> c.vec_id
WHERE q.vec_id < {N_QUERIES}
QUALIFY rank <= {TOP_K}
""",
    "ann_lsh_srp": f"""
WITH {_E},
sigd AS (SELECT vec_id, v, ({_SIG}) AS sig FROM e),
probes AS (
  SELECT vec_id, v, unnest(list_transform([{_MASKS}], m -> xor(sig, m))) AS bucket
  FROM sigd WHERE vec_id < {N_QUERIES})
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cos,
       CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id) AS INTEGER) AS rank
FROM probes q JOIN sigd c ON q.bucket = c.sig AND q.vec_id <> c.vec_id
WHERE q.vec_id < {N_QUERIES}
QUALIFY rank <= {TOP_K}
""",
    # multi-probe: each query takes its KMEANS_PROBES nearest final cells
    # (s{iters} already holds every vector's distance to the final
    # centroids), then re-ranks inside the probed cells
    "ann_ivf_kmeans": f"""
WITH {_E},
{_kmeans_ctes(SIM.KMEANS_CELLS, SIM.KMEANS_ITERS, SIM.SRP_DIM)},
probes AS (
  SELECT vec_id, v, cell FROM s{SIM.KMEANS_ITERS}
  WHERE vec_id < {N_QUERIES}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) <= {SIM.KMEANS_PROBES})
SELECT q.vec_id AS query_id, q.cell AS cell, c.vec_id AS neighbor_id, {_COS} AS cos,
       CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id) AS INTEGER) AS rank
FROM probes q JOIN a{SIM.KMEANS_ITERS} c
  ON q.cell = c.cell AND q.vec_id <> c.vec_id
QUALIFY rank <= {TOP_K}
""",
    "knn_graph_bucketed": f"""
WITH {_KNN_CTES}
SELECT src_id, dst_id, cos, rank FROM knn
""",
    # pe MUST be MATERIALIZED: DuckDB inlines plain CTEs, so the recursive
    # reach term would re-evaluate the entire knn pipeline (an 87 M-pair
    # bucket join at sf1) on every reference — observed 38 min / 51 GB
    # before the r8 fix vs ~2 min materialized
    "dedup_semantic": _semantic_oracle(),
    "pq_codes": _pq_oracle(),
    "ann_pq_adc": _pq_adc_oracle(),
    "ann_ivf_pq": _ivf_pq_oracle(),
    "embedding_dim_stats": f"""
WITH idx AS (SELECT embedding, unnest(range(0, len(embedding))) AS dim FROM embeddings),
v AS (SELECT CAST(dim AS INTEGER) AS dim,
             CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * {SIM.DIM_MICRO}, 0) AS BIGINT) AS vq
      FROM idx),
g AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vq) AS BIGINT) AS sum_q,
             CAST(sum(vq * vq) AS BIGINT) AS sumsq_q,
             min(vq) AS min_micro, max(vq) AS max_micro
      FROM v GROUP BY dim)
SELECT dim, n,
       round((CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / {float(SIM.DIM_MICRO)!r}, 6) AS mean,
       round((CAST(sumsq_q AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)))
             / {float(SIM.DIM_MICRO) ** 2!r}, 6) AS variance,
       min_micro, max_micro
FROM g
""",
    "embedding_label_centroids": f"""
WITH {_E},
g AS (SELECT label, count(*) AS n_vecs,
             [{", ".join(f"round(avg(v[{i}]), 6)" for i in range(1, SIM.SRP_DIM + 1))}] AS c
      FROM e GROUP BY label)
SELECT label, n_vecs, CAST(pos AS INTEGER) AS pos, c[pos + 1] AS val
FROM (SELECT label, n_vecs, c, unnest(range(0, {SIM.SRP_DIM})) AS pos FROM g)
""",
}

ORACLES["ann_rrf_fusion"] = f"""
WITH bf AS (SELECT query_id, neighbor_id, rank
            FROM ({ORACLES["ann_bruteforce_cosine"]})),
srp AS (SELECT query_id, neighbor_id, rank
        FROM ({ORACLES["ann_lsh_srp"]})),
u AS (SELECT query_id, neighbor_id,
             CAST(round(1000000.0 / (60 + rank), 0) AS BIGINT) AS m
      FROM bf
      UNION ALL
      SELECT query_id, neighbor_id,
             CAST(round(1000000.0 / (60 + rank), 0) AS BIGINT) AS m
      FROM srp),
sc AS (SELECT query_id, neighbor_id,
              CAST(sum(m) AS BIGINT) AS rrf_micro,
              CAST(count(*) AS BIGINT) AS n_lists
       FROM u GROUP BY query_id, neighbor_id)
SELECT query_id, CAST(row_number() OVER w AS INTEGER) AS rank,
       neighbor_id, rrf_micro, n_lists
FROM sc
WINDOW w AS (PARTITION BY query_id ORDER BY rrf_micro DESC, neighbor_id)
QUALIFY row_number() OVER w <= {TOP_K}
"""
