"""Similarity search over embedding columns (array<float>): brute-force
cosine top-k as the exactness baseline, sign-random-projection LSH and
k-means IVF as the scale paths.

Scale notes:
  * brute-force is O(Q x N) — fine for small Q (re-rank stage), never the
    full N x N at 100 TB.  The dot product is F.aggregate over zip_with —
    JVM-side, no Python.
  * SRP-LSH buckets by the sign pattern of the first P dimensions; the join
    is bucket-local.  At scale P tunes bucket size ~ N / 2^P.
  * IVF uses a trained k-means coarse quantizer; each query probes its
    nearest cells.
  * embedding-cosine near-dup pairs: bucket-joinable the same way; here
    thresholded pairs for the dedup suite.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airstrik_py_spark.functions.vector import cosine
from airstrik_py_spark.session import shuffle_partitions

SRP_BITS = 8


def _with_vec(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "vec", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )


COSINE_BANDS = 8


def srp_band_key(vec: Column, band: Column, bits: int = SRP_BITS) -> Column:
    """Sign pattern of dims [band*bits+1 .. band*bits+bits] — one SRP band
    key.  Out-of-range dims read as NULL -> '0' (mirrors DuckDB list
    indexing), so short vectors still bucket deterministically."""
    start = band * F.lit(bits)
    return F.concat(
        *[
            F.when(F.try_element_at(vec, start + F.lit(i + 1)) >= 0.0, F.lit("1"))
            .otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )


def cosine_dup_pairs(
    emb: DataFrame, threshold: float, bands: int = COSINE_BANDS, bits: int = SRP_BITS
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP-banded candidate
    generation: vectors sharing the sign pattern of ANY 8-dim block become
    candidates (banded LSH, same shape as MinHash bands), exact cosine
    re-rank inside buckets only, a first-vector pair aggregate collapses
    multi-band hits before the cosine (one evaluation per pair).

    NEVER all-pairs: the join is an equi-join on (band, bucket-key), so at
    10^9 vectors work is sum of squared bucket sizes, not N^2/2 — the same
    contract as lsh_candidate_pairs/simhash_pairs.  Recall is the standard
    banded-SRP curve (p_agree^bits per band, 1-(1-p^8)^8 overall): ~0.94
    for true near-dups (cos >= 0.9), but it decays fast below that — at the
    t2-registered threshold 0.4 (p_agree ~= 0.63 on isotropic data) only
    ~18% of threshold-level pairs band-collide.  That tradeoff is inherent
    to candidate-based dedup (and NOT fixable by narrower bands — see the
    paragraph below): run ann_bruteforce as the exact re-rank when the
    pair budget allows, or use cosine_topk_pairs' multi-probe contract.
    The DuckDB oracle mirrors the banding, so t2 checks the OPERATOR's
    contract (candidates-then-exact), not all-pairs ground truth.
    Round-then-threshold keeps the verdict stable across engines' last-ulp
    summation differences.

    `bands`/`bits` set the recall/candidate-volume operating point
    (RECALL.md measures both on the fixture): 8 bands x 8 bits is the
    cheap high-threshold default (pair recall 0.27 at threshold 0.4,
    ~3.9k candidate pairs).  Do NOT chase recall by SHRINKING bits: the
    former 16x4 "hi" point (0.966 recall, ~81k pairs at sf0.01) has only
    16 bucket values per band, which is ~64% of ALL pairs colliding — the
    r8 sf1 sweep caught it going quadratic, and the rho = 0.66 LSH gap at
    t=0.4 means no banding fixes that (see cosine_topk_pairs, the
    scale-valid replacement contract)."""
    # THIN candidate join (r9 sf10 finding): the former shape carried
    # BOTH 512-byte vectors through the banded self-join — at 200k
    # isotropic vectors that is ~6x10^8 joined rows x ~1 KB = a spill
    # measured in hundreds of GB (killed the box's disk).  Join on ids
    # only, collapse multi-band hits with DISTINCT on the 16-byte pair,
    # then re-attach vectors by id equi-joins for ONE cosine per pair —
    # same output, same oracle, ~60x less shuffle volume.
    base = embedding_bucket_store(emb, bands, bits)
    keys = base.select("vec_id", "band", "bkey")
    a = keys.select(F.col("vec_id").alias("id_a"), "band", "bkey")
    b = keys.select(F.col("vec_id").alias("id_b"), "band", "bkey")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    v = _with_vec(emb).select("vec_id", "vec")
    return (
        _reattach_vectors(pairs, v)
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("id_a", "id_b", "cos")
    )


# ~520 B per 64-dim double vector -> the broadcast re-attach table stays
# around/below ~520 MB up to this row count; past it the hint would risk a
# driver/executor OOM, so the joins fall back to plain shuffle equi-joins.
REATTACH_BROADCAST_MAX_ROWS = 1_000_000


def _reattach_vectors(pairs: DataFrame, v: DataFrame) -> DataFrame:
    """Attach va/vb to DISTINCT (id_a, id_b) candidate pairs by two id
    equi-joins (r9 sf10 finding: the candidate stream is the quadratic-ish
    side — 6e8 rows at 200k isotropic vectors — and shuffling it with a
    520-byte vector attached spilled hundreds of GB; the joins move 16-byte
    pairs instead and the vector table ships to them).  The vector table is
    BROADCAST only while it plausibly fits (row count <=
    REATTACH_BROADCAST_MAX_ROWS, one cheap column-pruned count); past that
    the fallback is a partitioned shuffle re-attach (ADVICE r9: previously
    documented but not implemented) — still 16-byte pairs on the wire for
    the big side, and at that corpus size the auto-width band rule has
    already shrunk pair volume per bucket."""
    big = v.count() > REATTACH_BROADCAST_MAX_ROWS
    side = (lambda df: df) if big else F.broadcast
    return pairs.join(
        side(v.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"))),
        "id_a",
    ).join(
        side(v.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"))),
        "id_b",
    )


EMB_INCR_SPLIT = 250  # fixture boundary: vec_id < EMB_INCR_SPLIT = corpus


def embedding_bucket_store(
    emb: DataFrame, bands: int = COSINE_BANDS, bits: int = SRP_BITS
) -> DataFrame:
    """The persisted SRP bucket index: (vec_id, vec, band, bkey) — one row
    per (vector, band).  This is what an ingest pipeline appends per batch
    so later batches can probe the corpus without re-reading the embedding
    table (~bands x vector bytes per doc; swap `vec` for PQ codes — see
    pq_codes — to cut the store ~16x when the re-rank tolerates ADC)."""
    return (
        _with_vec(emb)
        .withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))))
        .withColumn("bkey", srp_band_key(F.col("vec"), F.col("band"), bits))
        .select("vec_id", "vec", "band", "bkey")
    )


def cosine_dups_incremental(
    new_emb: DataFrame,
    corpus_store: DataFrame,
    threshold: float,
    bands: int = COSINE_BANDS,
    bits: int = SRP_BITS,
) -> DataFrame:
    """Embedding near-dup ingest check — the third incremental-dedup
    modality beside dedup_incremental (exact digest) and
    minhash_lsh_incremental (text near-dup): each NEW vector's
    above-threshold cosine hits against the ACCEPTED corpus, probing the
    persisted SRP bucket store.  Candidates = shared (band, bkey); exact
    cosine re-rank inside buckets only; a first-vector pair aggregate
    collapses multi-band hits before the cosine.  Work is bucket-local (sum over buckets of |new| x |corpus|
    within the bucket), never |new| x |corpus| all-pairs, and the corpus
    embedding table itself is never scanned."""
    nb = embedding_bucket_store(new_emb, bands, bits).select(
        F.col("vec_id").alias("new_vec_id"),
        F.col("vec").alias("vn"),
        "band",
        "bkey",
    )
    cs = corpus_store.select(
        F.col("vec_id").alias("corpus_vec_id"),
        F.col("vec").alias("vc"),
        "band",
        "bkey",
    )
    # same one-cosine-per-pair collapse as cosine_dup_pairs
    cos = F.round(cosine(F.col("vn"), F.col("vc")), 4)
    return (
        nb.join(cs, ["band", "bkey"])
        .groupBy("new_vec_id", "corpus_vec_id")
        .agg(F.first("vn").alias("vn"), F.first("vc").alias("vc"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= F.lit(threshold))
        .select("new_vec_id", "corpus_vec_id", "cos")
    )


# --- multi-probe banded top-k pair ranking (the scale-valid "hi" lane) ---
#
# r8 sf1 finding: the former dedup_embedding_cosine_hi operating point
# (16 bands x 4 sign bits) has only 16 bucket values per band, so a RANDOM
# pair band-collides with prob 1-(15/16)^16 ~= 0.64 — effectively all-pairs
# at every scale (the sf1 sweep ground >18 min before being killed; same
# fixed-bucket-count pathology the 16-bit simhash config had).  The deeper
# wall is information-theoretic: at the registered threshold 0.4 on an
# isotropic corpus, p1 = 1-acos(0.4)/pi = 0.631 vs p2 = 0.5 for random
# pairs, so the LSH exponent rho = ln(1/p1)/ln(1/p2) = 0.66 — NO banding
# reaches high recall at t=0.4 in under ~N^1.66 candidate work.  High-recall
# low-threshold pair mining is ann_bruteforce / knn_graph territory;
# the scale-valid "hi" contract is instead: WIDE bands (16 bits -> 65536
# buckets, bounded occupancy) + Hamming<=2 multi-probe (137 masks) + exact
# cosine re-rank + deterministic global top-k — candidate volume is a
# measured ~0.8% of all pairs on the isotropic fixture and Sum(bucket^2)
# bounded in general, never a constant fraction forced by recall.
COSINE_TOPK_BANDS = 4  # 4 bands x 16 bits = the full 64-dim sign pattern
COSINE_TOPK_BITS = 16
COSINE_TOPK_PROBE = 2  # Hamming radius: 1 + 16 + 120 = 137 probe masks
COSINE_TOPK_K = 100


def srp_band_key_int(vec: Column, band: Column, bits: int) -> Column:
    """Integer band key: bit i set when dim band*bits+i+1 >= 0 (same sign
    convention as srp_band_key's string form; NULL/short vectors read 0).
    Integer keys make Hamming-probing a bitwiseXOR, mirrored by DuckDB
    xor() in the oracle."""
    key = F.lit(0)
    for i in range(bits):
        key = key + F.when(
            F.try_element_at(vec, band * F.lit(bits) + F.lit(i + 1)) >= 0.0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
    return key


def cosine_topk_pairs(
    emb: DataFrame,
    k: int = COSINE_TOPK_K,
    bands: int = COSINE_TOPK_BANDS,
    bits: int = COSINE_TOPK_BITS,
    probe_hamming: int = COSINE_TOPK_PROBE,
) -> DataFrame:
    """Top-k most-cosine-similar pairs among multi-probe banded candidates:
    vectors whose 16-bit band keys are within Hamming `probe_hamming` in ANY
    band are candidates; exact cosine re-ranks them; output is the global
    top-k by (rounded cos DESC, id_a, id_b) — a deterministic total order,
    so the k-boundary is stable across engines.

    Scale shape: the band join is an equi-join on (band, probed-key) with
    2^bits buckets per band, so candidate work is probes x Sum(bucket^2),
    never a recall-forced constant fraction of N^2 (see the module comment
    above on why high recall AT low thresholds cannot be subquadratic).
    The probe explosion carries only (vec_id, band, bkey) — vectors are
    re-attached to the surviving DISTINCT pairs by two id equi-joins, so
    the 137x fan-out moves 12-byte rows, not 512-byte vectors.  Global
    top-k with small k is a TakeOrdered, not a full sort."""
    v = _with_vec(emb).select("vec_id", "vec")
    keyed = (
        v.withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))))
        .withColumn("bkey", srp_band_key_int(F.col("vec"), F.col("band"), bits))
        .select("vec_id", "band", "bkey")
    )
    masks = srp_probe_masks(probe_hamming, bits)
    probes = keyed.withColumn(
        "bkey", F.explode(F.array(*[F.col("bkey").bitwiseXOR(F.lit(m)) for m in masks]))
    )
    cand = (
        probes.select(F.col("vec_id").alias("id_a"), "band", "bkey")
        .join(keyed.select(F.col("vec_id").alias("id_b"), "band", "bkey"), ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # size-gated broadcast re-attach (r9 sf10 finding; see
    # _reattach_vectors): the DISTINCT candidate set is the quadratic-ish
    # side (3.3e8 pairs at 200k isotropic vectors with 16-bit keys), and
    # shuffling it with a vector column attached spilled ~90 GB
    return (
        _reattach_vectors(cand, v)
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .orderBy(F.desc("cos"), "id_a", "id_b")
        .limit(k)
        .select("id_a", "id_b", "cos")
    )


def ann_bruteforce(emb: DataFrame, n_queries: int, k: int) -> DataFrame:
    """Exact top-k cosine neighbors for vec_id < n_queries (excluding self),
    rank ties broken by neighbor id."""
    from pyspark.sql import Window

    q = _with_vec(emb.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv")
    )
    c = _with_vec(emb).select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cv"))
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


TRUNC_DIM = 16
TRUNC_QUERIES = 50


def truncate_recall(
    emb: DataFrame, n_queries: int = TRUNC_QUERIES, k: int = 10,
    trunc_dim: int = TRUNC_DIM,
) -> DataFrame:
    """Matryoshka-style truncation fidelity: per probe, the overlap between
    the exact top-k by FULL-dim cosine and the exact top-k by cosine over
    the first `trunc_dim` dims — the measurement a user needs before
    swapping a cheaper prefix index for the full vectors.  ONE pair scan
    scores both cosines; two same-partition window ranks; overlap count
    per probe (0 kept via left join).  Scale contract matches
    ann_bruteforce: exact over a BOUNDED probe set (n_queries x N pairs),
    the calibration lane, not the serving path."""
    from pyspark.sql import Window

    q = _with_vec(emb.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv")
    )
    c = _with_vec(emb).select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cv")
    )
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 4).alias("cf"),
        F.round(
            cosine(
                F.slice(F.col("qv"), 1, trunc_dim),
                F.slice(F.col("cv"), 1, trunc_dim),
            ),
            4,
        ).alias("ct"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cf").desc(), F.col("neighbor_id").asc()
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("ct").desc(), F.col("neighbor_id").asc()
    )
    r = (
        scored.withColumn("rf", F.row_number().over(wf))
        .withColumn("rt", F.row_number().over(wt))
    )
    o = (
        r.filter((F.col("rf") <= k) & (F.col("rt") <= k))
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        q.select("query_id")
        .join(o.hint("shuffle_hash"), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        )
    )


SRP_DIM = 64
SRP_PROBE_HAMMING = 3


def _srp_weights(bits: int = SRP_BITS, dim: int = SRP_DIM, seed: int = 0x9E3779B9):
    """Deterministic pseudo-random ±1 hyperplanes.  A fixed seed keeps the
    signature engine-agnostic: the DuckDB oracle embeds the SAME literal
    weight lists (registry/similarity_q.py imports this constant)."""
    import random

    rng = random.Random(seed)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)] for _ in range(bits)]


SRP_WEIGHTS = _srp_weights()

# Auto-width rule for whole-corpus bucket lanes (VERDICT r8 #6): the r8
# sf1 sweep proved any FIXED bucket count goes quadratic once N outgrows
# it, so knn_graph/semantic_dedup derive their signature width from the
# corpus size by default — bits = ceil(log2(N / target_occupancy)),
# clamped to [SRP_BITS, SRP_MAX_BITS].  At the clamp floor (N <= ~5.1k)
# this reproduces the historical 8-bit signatures bit-for-bit (weights
# and signature bits are prefix-stable across widths, pinned by test).
SRP_MAX_BITS = 20
SRP_TARGET_OCCUPANCY = 20.0
SRP_WEIGHTS_MAX = _srp_weights(SRP_MAX_BITS)


def auto_srp_bits(n: int) -> int:
    """Signature width for an N-vector corpus: ceil(log2(N / occupancy)),
    clamped.  The DuckDB oracle mirrors this formula verbatim
    (registry/similarity_q.py) — log2/ceil are bit-identical libm on both
    engines, so both sides always pick the same width."""
    if n <= 0:
        return SRP_BITS
    return max(SRP_BITS, min(SRP_MAX_BITS, math.ceil(math.log2(n / SRP_TARGET_OCCUPANCY))))


def _dot_fixed(vec: Column, w: list) -> Column:
    """<vec, w> over the first len(w) dims; missing dims read as 0 (mirrors
    DuckDB list_resize).  Rounded to 6 dp before the sign test so last-ulp
    summation-order differences can't flip a bit between engines."""
    warr = F.array(*[F.lit(float(x)) for x in w])
    return F.round(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(len(w))),
            F.lit(0.0),
            lambda acc, i: acc
            + F.coalesce(F.try_element_at(vec, i), F.lit(0.0)) * F.element_at(warr, i),
        ),
        6,
    )


def srp_signature(vec: Column, bits: int = SRP_BITS) -> Column:
    """Integer SRP signature: bit j set when <v, w_j> >= 0 for the j-th
    deterministic random hyperplane.  Random (not axis-aligned) hyperplanes
    make the bits cosine-sensitive on real, non-isotropic corpora.

    `bits` is THE scale knob for every signature-bucketed lane (knn_graph,
    ann_srp_lsh): bucket count is 2^bits, so occupancy is N / 2^bits —
    size bits ≈ log2(N / target_occupancy) or bucket work goes quadratic
    (SCALE.md §4b, the r8 fixed-bucket-count findings).  Wider signatures
    extend the same seeded hyperplane sequence, so bit j is identical at
    every width — an 8-bit signature is always the low byte of a 16-bit
    one, and the DuckDB mirrors embed prefixes of the same weight list.
    Width is capped at 62 (the signature lives in a signed 64-bit long);
    past that, split into multiple band keys instead — one 62-bit key
    already gives 4.6e18 buckets, occupancy 1 at any real corpus size."""
    if not 1 <= bits <= 62:
        raise ValueError(f"bits must be in [1, 62] (signed-long signature), got {bits}")
    ws = SRP_WEIGHTS if bits == SRP_BITS else _srp_weights(bits)
    sig = F.lit(0)
    for j, w in enumerate(ws):
        sig = sig + F.when(_dot_fixed(vec, w) >= 0.0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig


def srp_probe_masks(probe_hamming: int = SRP_PROBE_HAMMING, bits: int = SRP_BITS) -> list:
    """All XOR masks within the probe Hamming radius (93 for 8 bits, r=3),
    ascending.  Enumerated by choosing bit positions — O(C(bits, <=r)),
    never O(2^bits), so wide signatures (the srp_signature scale knob)
    don't stall the driver building mask lists."""
    from itertools import combinations

    masks = [0]
    for r in range(1, probe_hamming + 1):
        for pos in combinations(range(bits), r):
            masks.append(sum(1 << p for p in pos))
    return sorted(masks)


def ann_srp_lsh(
    emb: DataFrame, n_queries: int, k: int, probe_hamming: int = SRP_PROBE_HAMMING
) -> DataFrame:
    """Multi-probe SRP-LSH ANN: each query probes every bucket within
    Hamming `probe_hamming` of its own signature (sig XOR mask for a fixed
    literal mask list), exact cosine re-rank on the union of probed buckets.

    Single-probe SRP on an isotropic (worst-case) corpus has near-zero
    recall at useful bucket widths; Hamming-3 probing lifts recall@5 to
    ~0.6 on the random fixture (RECALL.md) while still touching a fixed
    2^-bits * sum C(bits,m) fraction of buckets — at 10^9 vectors the probe
    fan-out (93x) is constant and the join stays an equi-join on the
    signature, so work scales with bucket occupancy, never N^2.  Distinct
    probe masks hit distinct buckets, so no candidate dedup is needed."""
    from pyspark.sql import Window

    base = _with_vec(emb).withColumn("sig", srp_signature(F.col("vec")))
    masks = srp_probe_masks(probe_hamming)
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"), "sig"
    )
    probes = q.withColumn(
        "bucket",
        F.explode(F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])),
    ).drop("sig")
    c = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cv"),
        F.col("sig").alias("bucket"),
    )
    scored = (
        probes.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


KMEANS_CELLS = 8
KMEANS_ITERS = 3


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 rounded to 6 dp before the argmin so last-ulp summation
    differences can't flip a cell assignment between engines."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _assign_cells(emb_vec: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffle on the vector side: the
    k-row centroid table collapses to ONE array-of-structs row, broadcast
    cross-joined, and `array_min` over struct(dist, cell) is the argmin
    (lexicographic struct order = min dist, ties to the lowest cell id —
    the same total order as the oracle's ORDER BY dist, cell).  This is the
    classic scalable Lloyd shape: centroids ride the broadcast, vectors
    never move."""
    carr = cents.agg(F.collect_list(F.struct("cell", "cvec")).alias("cs"))
    best = F.array_min(
        F.transform(
            F.col("cs"),
            lambda c: F.struct(
                _sq_dist(F.col("vec"), c.getField("cvec")).alias("d"),
                c.getField("cell").alias("cell"),
            ),
        )
    )
    return (
        emb_vec.join(F.broadcast(carr))
        .withColumn("cell", best.getField("cell"))
        .drop("cs")
    )


def _update_centroids(assigned: DataFrame, dim: int) -> DataFrame:
    """Coordinate-wise mean per cell, each coordinate rounded to 6 dp (the
    oracle mirrors with the same literal round(avg(v[i]),6) list).  groupBy
    on <= k cells is map-side-combined: one tiny shuffle regardless of N."""
    # F.get -> NULL past the end (DuckDB v[i] OOB semantics), avg skips NULLs
    aggs = [
        F.round(F.avg(F.get(F.col("vec"), F.lit(i))), 6).alias(f"_c{i}")
        for i in range(dim)
    ]
    g = assigned.groupBy("cell").agg(*aggs)
    return g.select(
        "cell", F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("cvec")
    )


def kmeans_fit(
    emb: DataFrame,
    n_cells: int = KMEANS_CELLS,
    iters: int = KMEANS_ITERS,
    dim: int = SRP_DIM,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd training returning BOTH the final assignment (vec_id, vec,
    cell) and the trained centroid table (cell, cvec) — the latter feeds
    multi-probe queries."""
    # NOT checkpointed (r16 adjudication): materializing ev once for the
    # Lloyd loop was tried and measured FLAT at sf0.1 (ann_ivf_kmeans
    # 4.5-4.8 s vs 4.0-4.9 s across interleaved pairs) — the per-round
    # re-derivation here is one column-pruned scan + a vec cast, cheaper
    # than the eager materialization it would replace.  Contrast pq_fit,
    # where the re-derived frame includes a repartition + 8x explode and
    # the same checkpoint measured -22%.
    ev = _with_vec(emb).select("vec_id", "vec")
    cents = ev.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").cast("int").alias("cell"), F.col("vec").alias("cvec")
    )
    for _ in range(iters):
        # localCheckpoint truncates the per-iteration lineage: the k-row
        # centroid frame materializes eagerly (k*dim doubles) so each
        # assignment pass replans against a flat scan, not the whole
        # unrolled Lloyd history.  Cost: one job per round that keeps
        # the k x dim centroid doubles in executor storage.  The blocks
        # have no lineage behind them, so a lost executor fails the query
        # (rerun it).
        cents = _update_centroids(_assign_cells(ev, cents), dim).localCheckpoint()
    return _assign_cells(ev, cents).select("vec_id", "vec", "cell"), cents


def kmeans_cells(
    emb: DataFrame,
    n_cells: int = KMEANS_CELLS,
    iters: int = KMEANS_ITERS,
    dim: int = SRP_DIM,
) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding column: init centroids
    are the `n_cells` lowest vec_ids (engine-agnostic seed), then `iters`
    rounds of broadcast-assign + map-side-combined mean update.  Returns
    (vec_id, vec, cell) — the trained coarse quantizer for IVF.

    Scale: per iteration the N-row side does one broadcast join (no
    shuffle) and one k-group aggregate (partial agg, k*dim doubles on the
    wire); the k-row centroid frame localCheckpoints per iteration so
    lineage stays flat."""
    return kmeans_fit(emb, n_cells, iters, dim)[0]


KMEANS_PROBES = 2


def ann_ivf_kmeans(
    emb: DataFrame,
    n_queries: int,
    k: int,
    n_cells: int = KMEANS_CELLS,
    iters: int = KMEANS_ITERS,
    dim: int = SRP_DIM,
    probes: int = KMEANS_PROBES,
) -> DataFrame:
    """IVF ANN over a trained coarse quantizer (kmeans_fit): each query
    probes its `probes` nearest cells (standard
    IVF nprobe — recall rises with probes while candidates stay bounded by
    probes/n_cells of N), exact cosine re-rank inside.  `cell` in the
    output is the probed cell a neighbor was found in; each neighbor lives
    in exactly one cell so no candidate dedup is needed.  Output:
    (query_id, cell, neighbor_id, cos, rank)."""
    from pyspark.sql import Window

    cells, cents = kmeans_fit(emb, n_cells, iters, dim)
    carr = cents.agg(F.collect_list(F.struct("cell", "cvec")).alias("cs"))
    ranked = F.array_sort(
        F.transform(
            F.col("cs"),
            lambda cc: F.struct(
                _sq_dist(F.col("qv"), cc.getField("cvec")).alias("d"),
                cc.getField("cell").alias("cell"),
            ),
        )
    )
    q = (
        cells.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"))
        .join(F.broadcast(carr))
        .withColumn("probe", F.explode(F.slice(ranked, 1, probes)))
        .select("query_id", "qv", F.col("probe.cell").alias("cell"))
    )
    c = cells.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cv"), "cell"
    )
    scored = (
        q.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "cos", "rank")
    )


KNN_GRAPH_K = 3
KNN_GRAPH_PROBE = 1


def knn_graph(
    emb: DataFrame,
    k: int = KNN_GRAPH_K,
    probe_hamming: int = KNN_GRAPH_PROBE,
    bits: int | None = None,
) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus (every vector is a
    source): SRP-signature bucketing with Hamming-1 multi-probe (9 masks),
    exact cosine re-rank, top-`k` edges per source.  The building block for
    SemDeDup-style semantic dedup and graph clustering.

    Scale contract: the probe fan-out is a constant 9x on the source side
    and the join is an equi-join on the integer signature, so total work is
    sum over buckets of 9 * |bucket|^2 — bucket occupancy, never N^2.
    Sources whose probed buckets hold no other vector simply emit no edges
    (an honest property of LSH graphs; raise probe_hamming to densify).
    Width defaults to auto_srp_bits(N) — bits = ceil(log2(N / 20)),
    clamped to [8, 20] — so occupancy stays ~constant as the corpus grows
    (VERDICT r8 #6: the fixed 8-bit width was the proven quadratic); pass
    `bits` explicitly only to pin a width for experiments.

    r8 sf1 restructure (same output, new plan): the old shape carried both
    512-byte vectors through the bucket join and computed every candidate
    cosine inside the join stage — and because AQE sizes post-shuffle
    partitions by the SMALL join input, the 1755x-fan-out output (87 M
    cosines at sf1) landed in ONE task (observed: a single core pegged for
    ~20 min).  Now the bucket join moves only (id, bucket) rows, the probe
    side is pinned to shuffle-partition-count partitions (explicit
    repartition — AQE never coalesces a user numPartitions), and vectors
    re-attach to the candidate pairs by id equi-joins, which hash-spread
    the cosine re-rank across the cluster no matter how few buckets the
    signature has."""
    from pyspark.sql import Window

    if bits is None:
        # one cheap count job at build time buys a width that scales with
        # the corpus — the alternative (a fixed width) is the proven r8
        # quadratic; the oracle derives the same width from count(*)
        bits = auto_srp_bits(emb.count())
    n_part = shuffle_partitions(emb.sparkSession)
    base = _with_vec(emb).withColumn("sig", srp_signature(F.col("vec"), bits))
    masks = srp_probe_masks(probe_hamming, bits)
    probes = (
        base.select(F.col("vec_id").alias("src_id"), "sig")
        .withColumn(
            "bucket",
            F.explode(F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])),
        )
        .drop("sig")
        .repartition(n_part)
    )
    c = base.select(F.col("vec_id").alias("dst_id"), F.col("sig").alias("bucket"))
    cand = probes.join(c, "bucket").filter(F.col("src_id") != F.col("dst_id"))
    v = base.select("vec_id", "vec")
    scored = (
        cand.select("src_id", "dst_id")
        .join(v.select(F.col("vec_id").alias("src_id"), F.col("vec").alias("qv")), "src_id")
        .join(v.select(F.col("vec_id").alias("dst_id"), F.col("vec").alias("cv")), "dst_id")
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4))
        .select("src_id", "dst_id", "cos")
    )
    w = Window.partitionBy("src_id").orderBy(F.col("cos").desc(), F.col("dst_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src_id", "dst_id", "cos", "rank")
    )


SEM_THRESHOLD = 0.4


def semantic_dedup(
    emb: DataFrame,
    threshold: float = SEM_THRESHOLD,
    k: int = KNN_GRAPH_K,
    probe_hamming: int = KNN_GRAPH_PROBE,
    bits: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate clustering: the bucketed kNN
    graph's edges above `threshold` cosine feed connected components
    (operators/dedup.py::dedup_clusters min-label propagation); each
    cluster's minimum vec_id is the canonical survivor.  Output: (vec_id,
    cluster_id, is_canonical) for every vector in some near-dup pair —
    the embedding-space analogue of the text dedup suite's cluster step.

    Scale: inherits knn_graph's bucket-equi-join contract (never N^2) and
    dedup_clusters' diameter-bounded rounds; near-dup components are
    star-ish so propagation converges in 2-3 rounds."""
    from airstrik_py_spark.operators.dedup import dedup_clusters

    edges = (
        knn_graph(emb, k, probe_hamming, bits)
        .filter(F.col("cos") >= F.lit(threshold))
        .select(F.col("src_id").alias("doc_a"), F.col("dst_id").alias("doc_b"))
    )
    cl = dedup_clusters(edges)
    return cl.select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# micro-unit quantization for the per-dimension moment sums (exact integer
# aggregation, order-free across engines)
DIM_MICRO = 1_000_000

# product quantization: 8 subspaces x 8 dims, 4 centroids each, 2 Lloyd
# iterations (fixture-sized; production: 16-64 subspaces, 256 centroids)
# Production-shaped 4-bit PQ (the FAISS "PQ32x4" fast-scan layout): 32
# subspaces x 2 dims, 16 centroids each -> 32 4-bit codes = 16 B/vec (16x
# smaller than the 64-dim float32 vector).  On the isotropic worst-case
# fixture this reaches ADC recall@10 ~0.57 vs exact L2 (RECALL.md); the
# same code budget spent as 8 subspaces x 16 centroids only reaches ~0.26
# — finer subspaces beat bigger per-subspace codebooks at fixed bits,
# which is why production 4-bit PQ splits thin.  Codebook size does NOT
# change oracle SQL length (the Lloyd unroll is per-round, not
# per-centroid); tests/test_dedup_similarity.py pins recall monotonicity
# in codebook size.
PQ_SUB = 32
PQ_SUB_DIM = 2
PQ_K = 16
PQ_ITERS = 2


def _pq_long(emb: DataFrame) -> DataFrame:
    """(vec_id, sub, subv): each vector split into PQ_SUB contiguous
    subvectors — the long form that lets ONE dataframe run all subspace
    k-means fits at once (keys (sub, cid) instead of 8 separate jobs)."""
    return (
        _with_vec(emb)
        # spread BEFORE the 32x explode (r9 sf10 finding, same class as
        # the triplet/knn collapses): downstream Lloyd rounds inherit
        # this partitioning, so without it every assign pass runs at the
        # parquet split count with whatever skew the scan had
        .repartition(shuffle_partitions(emb.sparkSession))
        .select(
            "vec_id",
            "vec",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_SUB - 1))).alias("sub"),
        )
        .withColumn(
            "subv", F.expr(f"slice(vec, sub * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM})")
        )
        .drop("vec")
    )


def _pq_assign(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid per (row, sub) with zero shuffle on the vector
    side: the (sub, cid, cvec) table — PQ_SUB*PQ_K rows — collapses to one
    broadcast array of structs; per row we filter to the row's subspace
    and take array_min over struct(dist, cid) (ties to lowest cid, the
    oracle's ORDER BY dist, cid)."""
    carr = cents.agg(F.collect_list(F.struct("sub", "cid", "cvec")).alias("cs"))
    best = F.array_min(
        F.transform(
            F.filter(F.col("cs"), lambda c: c.getField("sub") == F.col("sub")),
            lambda c: F.struct(
                _sq_dist(F.col("subv"), c.getField("cvec")).alias("d"),
                c.getField("cid").alias("cid"),
            ),
        )
    )
    return (
        sv.join(F.broadcast(carr))
        .withColumn("best", best)
        .select(
            "vec_id",
            "sub",
            "subv",
            F.col("best.cid").alias("cid"),
            F.col("best.d").alias("dist"),
        )
    )


def _pq_update(assigned: DataFrame) -> DataFrame:
    aggs = [
        F.round(F.avg(F.get(F.col("subv"), F.lit(i))), 6).alias(f"_c{i}")
        for i in range(PQ_SUB_DIM)
    ]
    g = assigned.groupBy("sub", "cid").agg(*aggs)
    return g.select(
        "sub", "cid",
        F.array(*[F.col(f"_c{i}") for i in range(PQ_SUB_DIM)]).alias("cvec"),
    )


def pq_fit(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the PQ codebooks and encode: returns (assignment, codebook) —
    assignment (vec_id, sub, cid, dist) from the final Lloyd round,
    codebook (sub, cid, cvec)."""
    # One materialization of the iteration-invariant long form (r16 —
    # same rationale as kmeans_fit's ev): each Lloyd round's eager
    # centroid update otherwise re-ran scan + vec cast + repartition +
    # 8x subvector explode, PQ_ITERS + 1 times.  Cost: one job that keeps
    # the whole long form (8 subvector rows per vector) in executor
    # storage, memory first, then disk.  The blocks have no lineage
    # behind them, so a lost executor fails the query (rerun it).
    sv = _pq_long(emb).localCheckpoint()
    cents = sv.filter(F.col("vec_id") < PQ_K).select(
        "sub", F.col("vec_id").cast("int").alias("cid"), F.col("subv").alias("cvec")
    )
    for _ in range(PQ_ITERS):
        # one job per round keeping PQ_K x 8 subvector centroids; lost
        # with its executor, like `sv`
        cents = _pq_update(_pq_assign(sv, cents)).localCheckpoint()
    return _pq_assign(sv, cents), cents


def pq_codes(emb: DataFrame) -> DataFrame:
    """Product-quantization encoding: train PQ_SUB independent per-subspace
    k-means codebooks (deterministic init = lowest vec_ids, PQ_ITERS Lloyd
    rounds) and emit each vector's code + squared quantization error per
    subspace.  PQ is how 100 TB of float32 embeddings become a few bits
    per subvector for ANN serving (IVF-PQ): 64 dims x 4 B -> 32 4-bit
    codes (16 B/vec).

    Scale: all subspaces train in ONE long-form dataframe — per Lloyd
    round one broadcast join (codebook is PQ_SUB*PQ_K rows) and one
    map-side-combined groupBy on (sub, cid) (<= 32 groups).  The vector
    side never shuffles; lineage localCheckpoints per round like
    kmeans_fit.  Same deterministic-argmin contract as the IVF quantizer
    (distances rounded 6 dp before the struct-min, ties to lowest cid)."""
    final = pq_fit(emb)[0]
    return final.select(
        "vec_id",
        F.col("sub").cast("int").alias("sub"),
        F.col("cid").cast("int").alias("code"),
        F.col("dist").alias("sq_err"),
    )


def ann_pq_adc(emb: DataFrame, n_queries: int, k: int) -> DataFrame:
    """PQ serving path: asymmetric distance computation (ADC) top-k.  The
    database side is ONLY the PQ_SUB 4-bit codes per vector; each query
    precomputes a (sub, cid) -> squared-distance lookup table against the
    codebook, and a vector's estimated distance is the SUM of PQ_SUB table
    lookups — the query never touches a database float.

    Exactness: each LUT entry is quantized to integer micro-units, so the
    8-way sum is exact integer addition (order-free across engines); ties
    break on neighbor_id.

    Scale (100 TB): the LUT is queries × PQ_SUB × PQ_K rows — broadcast.
    The codes⋈LUT join fans out ×queries like the brute-force baseline's
    O(Q×N), but each joined row carries ONE BIGINT instead of a 64-float
    vector (~50× less shuffle bytes into the (query, vec) partial-agg
    sum), which is exactly why PQ is the serving format.  In production
    the IVF cell filter (ann_ivf_kmeans) prunes N first; composing the
    two is a filter on `codes` before this join."""
    from pyspark.sql import Window

    assigned, cents = pq_fit(emb)
    codes = assigned.select("vec_id", "sub", "cid")
    ql = _pq_long(emb.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("subv").alias("qsub")
    )
    lut = ql.join(F.broadcast(cents), "sub").select(
        "query_id",
        "sub",
        "cid",
        F.round(_sq_dist(F.col("qsub"), F.col("cvec")) * F.lit(float(DIM_MICRO)), 0)
        .cast("long")
        .alias("dmicro"),
    )
    est = (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dmicro").alias("est_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "est_micro",
                F.col("rank").cast("int").alias("rank"))
    )


def embedding_dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension moment statistics over the embedding column — the
    whitening / normalization profile (mean to center, variance to scale,
    min/max for clipping) computed before training retrieval indexes or
    PQ codebooks.

    Exactness contract: each coordinate is quantized to integer
    micro-units FIRST; sum and sum-of-squares are then exact BIGINT
    aggregates (order-free), and mean/variance derive from those exact
    integers with the same IEEE double ops on both engines.  BIGINT holds
    sum(vq^2) up to ~9·10^18: with |v| <= ~4 (vq^2 <= 1.6·10^13) that is
    ~5·10^5 rows per dimension — beyond that swap the two sums to
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), same shape.

    Scale (100 TB): posexplode fans out ×dim, but the aggregate is
    map-side combined into `dim` (=64) partials per task — the shuffle
    carries tasks×dim rows, not rows×dim.  One exchange, 64-row result."""
    v = _with_vec(emb).select(
        F.posexplode(F.col("vec")).alias("dim", "val")
    )
    vq = F.round(F.col("val") * F.lit(DIM_MICRO), 0).cast("long")
    g = v.select("dim", vq.alias("vq")).groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("vq").alias("sum_q"),
        F.sum(F.col("vq") * F.col("vq")).alias("sumsq_q"),
        F.min("vq").alias("min_micro"),
        F.max("vq").alias("max_micro"),
    )
    n_d = F.col("n").cast("double")
    mean_d = F.col("sum_q").cast("double") / n_d
    return g.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        F.round(mean_d / F.lit(float(DIM_MICRO)), 6).alias("mean"),
        F.round(
            (F.col("sumsq_q").cast("double") / n_d - mean_d * mean_d)
            / F.lit(float(DIM_MICRO) ** 2),
            6,
        ).alias("variance"),
        "min_micro",
        "max_micro",
    )


RRF_C = 60


def ann_rrf_fusion(
    emb: DataFrame, n_queries: int, k: int, c: int = RRF_C
) -> DataFrame:
    """Reciprocal-rank fusion of the exact brute-force cosine ranking and
    the SRP-LSH approximate ranking — the standard zero-tuning way to
    merge heterogeneous retrievers (lexical+dense, or here exact+ANN):
    score(v) = sum over lists of 1/(c + rank_list(v)), c = 60 per the
    original RRF paper.  A vector missing from one list simply
    contributes nothing — no imputation.

    Exactness: each list contribution round(1e6 / (c + rank)) is one
    deterministic double op on integers, quantized per term, then
    integer-summed — engine-order-free.  Scale: both input rankings are
    existing bucketed plans; fusion adds one (query, neighbor) aggregate
    and a query-partitioned top-k window — all keyed on query_id, no
    data-sized global sort."""
    from pyspark.sql import Window

    lists = [
        ann_bruteforce(emb, n_queries, k),
        ann_srp_lsh(emb, n_queries, k),
    ]
    contrib = F.round(F.lit(1_000_000.0) / (F.lit(c) + F.col("rank")), 0).cast(
        "long"
    )
    u = lists[0].select("query_id", "neighbor_id", contrib.alias("m")).union(
        lists[1].select("query_id", "neighbor_id", contrib.alias("m"))
    )
    scores = u.groupBy("query_id", "neighbor_id").agg(
        F.sum("m").alias("rrf_micro"), F.count("*").alias("n_lists")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.col("neighbor_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "rrf_micro", "n_lists")
    )


STD_OUT_VECS = 100


def embedding_standardize(emb: DataFrame, out_vecs: int = STD_OUT_VECS) -> DataFrame:
    """Per-dimension z-score standardization (whitening without rotation):
    z = (x - mean_d) / sqrt(var_d) using embedding_dim_stats' published
    6-dp mean/variance as THE model parameters — the normalization step
    before cosine/IP indexes when dimensions have heterogeneous scales.

    Exactness contract: mean and variance come from embedding_dim_stats
    (exact integer micro moments -> one deterministic double expression,
    rounded to 6 dp — the published parameter IS the rounded value, like
    the k-means/PQ codebooks), so the per-row z expression consumes
    bit-identical inputs on both engines; sqrt is IEEE-correctly-rounded.
    Zero-variance dimensions emit z = 0.

    Scale: the 64-row stats table broadcasts back onto the vector stream;
    one corpus pass for moments, one for the map — no data-sized shuffle.
    `out_vecs` caps the emitted verification surface only."""
    stats = embedding_dim_stats(emb).select("dim", "mean", "variance")
    v = _with_vec(emb).select(
        "vec_id", F.posexplode(F.col("vec")).alias("dim", "val")
    )
    vq = F.round(F.col("val") * F.lit(DIM_MICRO), 0).cast("long")
    x = vq.cast("double") / F.lit(float(DIM_MICRO))
    z = F.when(F.col("variance") <= 0, F.lit(0.0)).otherwise(
        F.round((x - F.col("mean")) / F.sqrt(F.col("variance")), 6)
    )
    return (
        v.filter(F.col("vec_id") < out_vecs)
        .join(F.broadcast(stats), v["dim"] == stats["dim"])
        .select(
            "vec_id",
            v["dim"].cast("int").alias("dim"),
            z.alias("z"),
        )
    )


SQ8_OUT_VECS = 500


def embedding_quantize_int8(emb: DataFrame, out_vecs: int = SQ8_OUT_VECS) -> DataFrame:
    """Per-dimension symmetric int8 scalar quantization (the FAISS
    ScalarQuantizer / SQ8 layout): scale_d = max|x_d| over the corpus,
    code = round-half-away(x / scale_d * 127) in [-127, 127] — 4x smaller
    than float32 with near-lossless recall for rerank candidates, and the
    cheapest compression tier below PQ.

    Exactness contract (house rule, ORACLES-PORTABILITY.md SS3/SS11):
    coordinates quantize to integer micro-units first, the per-dim
    max(abs(vq)) is an exact integer aggregate, and the code derives by
    pure integer round-half-away division with an explicit sign split
    ((2*127*vq + amax) div (2*amax), negated branch for vq < 0) — no
    float division anywhere, so no engine can disagree.  amax = 0 (a
    constant-zero dimension) emits code 0.

    Scale (100 TB): pass 1 is a posexplode into a map-side-combined
    64-row max aggregate; pass 2 re-scans and broadcast-joins the 64-row
    scale table — two corpus passes, zero data-sized shuffles.  `out_vecs`
    caps only the EMITTED rows (fixture-sized verification surface); the
    scale training always uses the full table, like pq_codes."""
    v = _with_vec(emb).select(
        "vec_id", F.posexplode(F.col("vec")).alias("dim", "val")
    )
    vq = F.round(F.col("val") * F.lit(DIM_MICRO), 0).cast("long")
    rows = v.select("vec_id", "dim", vq.alias("vq"))
    scales = rows.groupBy("dim").agg(F.max(F.abs(F.col("vq"))).alias("amax"))

    def ha_div(num, den):
        return F.call_function("div", num, den)

    pos = ha_div(2 * 127 * F.col("vq") + F.col("amax"), 2 * F.col("amax"))
    neg = -ha_div(2 * 127 * (-F.col("vq")) + F.col("amax"), 2 * F.col("amax"))
    code = (
        F.when(F.col("amax") == 0, F.lit(0))
        .when(F.col("vq") >= 0, pos)
        .otherwise(neg)
    )
    return (
        rows.filter(F.col("vec_id") < out_vecs)
        .join(F.broadcast(scales), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            code.cast("int").alias("code"),
            F.col("amax").alias("amax_micro"),
        )
    )


def ann_ivf_pq(
    emb: DataFrame,
    n_queries: int,
    k: int,
    n_cells: int = KMEANS_CELLS,
    iters: int = KMEANS_ITERS,
    dim: int = SRP_DIM,
    probes: int = KMEANS_PROBES,
) -> DataFrame:
    """The full FAISS-style IVF-PQ serving architecture composed from the
    engine's own pieces: the trained k-means coarse quantizer
    (ann_ivf_kmeans) prunes candidates to `probes` cells per query, and
    inside the probed cells distances are estimated from PQ codes alone
    (ann_pq_adc's broadcast-LUT integer sums) — no database float is ever
    touched at query time.

    Scale (100 TB): candidate count = probes/n_cells of N (the IVF
    knob) × 8 B of codes per candidate (the PQ knob).  Both joins are
    equi-joins — cell for the probe, (query, sub, cid) for the LUT — so
    the whole query is broadcast + hash work over a pruned, compressed
    stream: the reason a 10^9-vector index serves from RAM."""
    from pyspark.sql import Window

    cells, cents = kmeans_fit(emb, n_cells, iters, dim)
    assigned, pq_cents = pq_fit(emb)
    codes = assigned.select("vec_id", "sub", "cid").join(
        cells.select("vec_id", "cell"), "vec_id"
    )
    carr = cents.agg(F.collect_list(F.struct("cell", "cvec")).alias("cs"))
    ranked = F.array_sort(
        F.transform(
            F.col("cs"),
            lambda cc: F.struct(
                _sq_dist(F.col("qv"), cc.getField("cvec")).alias("d"),
                cc.getField("cell").alias("cell"),
            ),
        )
    )
    q = (
        cells.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"))
        .join(F.broadcast(carr))
        .withColumn("probe", F.explode(F.slice(ranked, 1, probes)))
        .select("query_id", "qv", F.col("probe.cell").alias("cell"))
    )
    ql = _pq_long(
        emb.filter(F.col("vec_id") < n_queries)
    ).select(F.col("vec_id").alias("query_id"), "sub", F.col("subv").alias("qsub"))
    lut = ql.join(F.broadcast(pq_cents), "sub").select(
        "query_id",
        "sub",
        "cid",
        F.round(_sq_dist(F.col("qsub"), F.col("cvec")) * F.lit(float(DIM_MICRO)), 0)
        .cast("long")
        .alias("dmicro"),
    )
    cand = q.select("query_id", "cell").join(codes.hint("shuffle_hash"), "cell")
    est = (
        cand.filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "sub", "cid"])
        .groupBy("query_id", "cell", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dmicro").alias("est_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("est_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "est_micro",
                F.col("rank").cast("int").alias("rank"))
    )


# power iteration for the top principal component: deterministic uniform
# init (1/sqrt(dim), exact at dim=64), fixed unroll depth, coordinate sums
# rounded to 6 dp per round (the same engine-parity rule as the Lloyd mean
# update) so the DuckDB mirror is bit-identical.
PCA_ITERS = 3


def pca_top_component(
    emb: DataFrame, iters: int = PCA_ITERS, dim: int = SRP_DIM
) -> DataFrame:
    """Top principal component of the embedding cloud by matrix-free power
    iteration: center X, then repeat w = X^T (X v); v = w/||w||.  Each
    round is one broadcast of the current d-vector and ONE map-side-combined
    aggregate over the rows (d rounded coordinate sums) — no d x d
    covariance materialization, no shuffle of the vector table, so the
    shape is unchanged at 10^9 rows (cost = iters linear passes).

    Returns (dim_idx, loading, eigval): the unit component in long form
    plus the Rayleigh-style eigenvalue estimate ||X^T X v|| from the final
    round.  The sign convention follows the deterministic uniform init.
    (The PLANS.md audit row shows 0 exchanges because the per-round
    localCheckpoint truncates lineage, like dedup_clusters — the real cost
    is iters x (one broadcast + one map-side-combined aggregate).)"""
    spark = emb.sparkSession
    ev = _with_vec(emb).select("vec_id", "vec")
    mean = ev.agg(
        *[
            F.round(F.avg(F.get(F.col("vec"), F.lit(i))), 6).alias(f"_m{i}")
            for i in range(dim)
        ]
    ).select(F.array(*[F.col(f"_m{i}") for i in range(dim)]).alias("mvec"))
    # Materialize the iteration-invariant centered cloud ONCE (r16, the
    # pq_fit `sv` idiom): without this every power round re-runs the
    # global mean aggregate AND the centering scan — the lineage behind
    # `centered` executes iters+1 times.  Values unchanged (the 6-dp
    # rounded mean is deterministic); inside the timed region.  Cost: one
    # job that keeps every centered vector (rows x dim doubles) in
    # executor storage, memory first, then disk.  The blocks have no
    # lineage behind them, so a lost executor fails the query (rerun it).
    centered = (
        ev.crossJoin(F.broadcast(mean))
        .select("vec_id", F.zip_with("vec", "mvec", lambda a, b: a - b).alias("cvec"))
        .localCheckpoint()
    )
    v0 = round(1.0 / math.sqrt(dim), 6)
    vdf = spark.range(1).select(
        F.array(*[F.lit(v0) for _ in range(dim)]).alias("pvec"),
        F.lit(0.0).alias("eigval"),
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    for _ in range(iters):
        scored = centered.crossJoin(F.broadcast(vdf)).select(
            dot(F.col("cvec"), F.col("pvec")).alias("s"), "cvec"
        )
        w = scored.agg(
            *[
                F.round(F.sum(F.col("s") * F.get(F.col("cvec"), F.lit(i))), 6).alias(
                    f"_w{i}"
                )
                for i in range(dim)
            ]
        ).select(F.array(*[F.col(f"_w{i}") for i in range(dim)]).alias("wv"))
        norm = F.sqrt(dot(F.col("wv"), F.col("wv")))
        # one job per round keeping a single dim-length row; lost with its
        # executor, like `centered`
        vdf = w.select(
            F.transform("wv", lambda x: F.round(x / norm, 6)).alias("pvec"),
            F.round(norm, 6).alias("eigval"),
        ).localCheckpoint()
    return vdf.select(
        F.posexplode("pvec").alias("dim_idx", "loading"), "eigval"
    ).select("dim_idx", "loading", "eigval")


NORM_OUTLIER_K = 3.0


def embedding_norm_outliers(emb: DataFrame, k: float = NORM_OUTLIER_K) -> DataFrame:
    """Embedding QA: flag vectors whose squared L2 norm deviates more than
    k sigma from the corpus mean — the cheap sanity pass that catches
    un-normalized batches, zero vectors, and scale drift before index
    builds.

    Exactness contract (house micro style, see embedding_dim_stats): each
    coordinate quantizes to integer micros, so the per-vector squared norm
    is an EXACT BIGINT fold (<= 64 * (4e6)^2 ~ 1e15, no overflow); the
    corpus mean/std then derive in doubles from those exact ints with the
    same explicit avg-of-squares formula on both engines, rounded to 6 dp
    BEFORE the threshold comparison so the filter is deterministic.

    Scale: one map pass for norms + one global 1-row aggregate (map-side
    combined) broadcast back — no shuffle of the vector table."""
    vq = lambda vec: F.transform(  # noqa: E731
        vec, lambda x: F.round(x * F.lit(1e6), 0).cast("long")
    )
    n2m = F.aggregate(
        F.transform(vq(F.col("vec")), lambda q: q * q),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    per = _with_vec(emb).select(
        "vec_id", (n2m.cast("double") / F.lit(1e12)).alias("norm2")
    )
    stats = per.agg(
        F.round(F.avg("norm2"), 6).alias("mean_r"),
        F.round(
            F.sqrt(
                F.avg(F.col("norm2") * F.col("norm2"))
                - F.avg("norm2") * F.avg("norm2")
            ),
            6,
        ).alias("std_r"),
    )
    j = per.crossJoin(F.broadcast(stats))
    return j.filter(
        (F.col("std_r") > 0)
        & (F.abs(F.col("norm2") - F.col("mean_r")) > F.lit(k) * F.col("std_r"))
    ).select(
        "vec_id",
        F.round("norm2", 6).alias("norm2"),
        "mean_r",
        "std_r",
        F.round(
            F.abs(F.col("norm2") - F.col("mean_r")) / F.col("std_r"), 4
        ).alias("z"),
    )


TRIPLET_ANCHOR_MOD = 50


def triplet_mine(emb: DataFrame, anchor_mod: int = TRIPLET_ANCHOR_MOD) -> DataFrame:
    """Hard-triplet mining for metric-learning batches: for each anchor
    vector, the HARDEST POSITIVE (same label, LOWEST cosine — the
    in-class example the model most confuses) and the HARDEST NEGATIVE
    (different label, HIGHEST cosine — the impostor closest to crossing
    the margin).  The batch-construction step of triplet/contrastive
    training (FaceNet-style semi-hard mining, done corpus-side).

    Determinism: cosine rounds to 4 dp BEFORE ranking and ties break on
    candidate vec_id ascending (row_number, not an argmin builtin with
    unspecified ties), so both engines pick identical winners.

    Scale: anchors are a bounded per-batch sample (fixture rule: vec_id %
    anchor_mod == 0) broadcast against the corpus; the per-anchor
    candidate scan is the local-exact form — at 10^9 vectors the
    candidate set per anchor comes from the SRP/IVF index
    (ann_lsh_srp / ann_ivf_kmeans) instead of the full table, same
    ranking contract downstream.  The ranking window partitions by
    anchor (bounded rows per partition), never a global sort."""
    from pyspark.sql import Window

    # Pinned repartition BEFORE the broadcast join (r9 sf10 finding, same
    # class as the r8 knn_graph collapse): the join's output is
    # n_anchors x the input and Spark parallelizes by INPUT splits — at
    # 200k vectors the 8e8-cosine stage inherited ~8 scan partitions and
    # ran as one straggler task for 40+ min.  Spreading the 200k-row
    # corpus first costs one tiny shuffle and caps every task at
    # corpus/n_part x n_anchors candidates.
    base = (
        _with_vec(emb)
        .select("vec_id", "label", "vec")
        .repartition(shuffle_partitions(emb.sparkSession))
    )
    anch = base.filter(F.col("vec_id") % anchor_mod == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("vec").alias("avec"),
    )
    cand = base.join(F.broadcast(anch), F.col("vec_id") != F.col("anchor_id"))
    scored = cand.withColumn(
        "cos", F.round(cosine(F.col("avec"), F.col("vec")), 4)
    )
    w_pos = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").asc(), F.col("vec_id").asc()
    )
    pos = (
        scored.filter(F.col("label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("pos_id"),
            F.col("cos").alias("pos_cos"),
        )
    )
    w_neg = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    neg = (
        scored.filter(F.col("label") != F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(w_neg))
        .filter(F.col("rn") == 1)
        .select(
            F.col("anchor_id").alias("n_anchor_id"),
            F.col("vec_id").alias("neg_id"),
            F.col("cos").alias("neg_cos"),
        )
    )
    # both sides are one row per anchor (bounded) — broadcast, never SMJ
    return pos.join(
        F.broadcast(neg), F.col("anchor_id") == F.col("n_anchor_id")
    ).select("anchor_id", "anchor_label", "pos_id", "pos_cos", "neg_id", "neg_cos")
