"""Dedup + similarity operator tests on crafted documents/vectors."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airstrik_py_spark.operators import dedup as D
from airstrik_py_spark.operators import similarity as SIM


# The rendered signature string: the reference the packed block ints of
# operators/dedup.py are checked against.
def simhash_signature(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit j set when the sum over
    token occurrences of ±1 is positive; the ±1 for bit j reads md5 hex
    nibble j//4 at nibble-bit (3 - j%4) — the HEX_BIT_SETS convention.
    The '0'/'1' string renders from the block-int core (one shift+mask
    per bit, codegen) — same strings as the direct concat, single source
    of truth for the fold."""
    bi = D._simhash_block_ints(docs)
    block_w = D.SIMHASH_BITS // D.SIMHASH_BLOCKS
    sig = F.concat(
        *[
            F.when(
                F.shiftright(
                    F.col(f"b{j // block_w}"), block_w - 1 - (j % block_w)
                ).bitwiseAND(F.lit(1))
                == 1,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for j in range(D.SIMHASH_BITS)
        ]
    )
    return bi.select("doc_id", sig.alias("sig"))


def _docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
            (2, "the quick brown fox jumps over the sleepy dog"),  # near dup
            (3, "completely different text with other words entirely here"),
            (4, "xy"),  # shorter than one shingle
        ],
        "doc_id long, text string",
    )


def test_dedup_exact_groups(spark):
    out = {r["canonical_doc_id"]: r["n_copies"] for r in D.dedup_exact(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0,1 identical, canonical = min id
    assert out[2] == 1 and out[3] == 1


def test_shingles_short_doc_empty(spark):
    sh = D.shingles(_docs(spark))
    assert sh.filter("doc_id = 4").count() == 0
    assert sh.filter("doc_id = 0").count() == 7  # 9 words -> 7 distinct 3-grams


def test_minhash_identical_docs_all_bands_collide(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in D.lsh_candidate_pairs(_docs(spark)).collect()
    }
    assert pairs[(0, 1)] == 3  # identical docs share all 3 bands
    assert (0, 3) not in pairs and (1, 3) not in pairs  # unrelated: no bucket


def test_simhash_identical_docs_distance_zero(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"] for r in D.simhash_pairs(_docs(spark)).collect()
    }
    assert pairs[(0, 1)] == 0


def test_ngram_jaccard_values(spark):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(_docs(spark), 0.1).collect()
    }
    assert out[(0, 1)] == 1.0  # identical
    assert 0.3 < out[(0, 2)] < 0.8  # one word changed out of 9
    assert (0, 3) not in out


def test_ngram_jaccard_df_cap_drops_hot_shingles(spark):
    """A shingle shared by more than df_max docs is dropped from the
    representation: docs related ONLY through hot shingles produce no pair
    (the 100 TB guard against d^2 candidate blowup on one join key)."""
    hot = [(i, f"common shingle here unique{i} tail{i} word{i}") for i in range(6)]
    docs = spark.createDataFrame(hot, "doc_id long, text string")
    # 'common|shingle|here' appears in all 6 docs; everything else is unique
    assert D.ngram_jaccard_pairs(docs, 0.01, df_max=5).count() == 0
    # raising the cap re-admits the shared shingle -> 15 candidate pairs
    assert D.ngram_jaccard_pairs(docs, 0.01, df_max=6).count() == 15


def test_cosine_dup_pairs_plan_is_bucketed(spark):
    """The candidate join must be an equi-join on (band, bucket) — never a
    broadcast nested-loop cartesian (the r1 scale-killer)."""
    plan = SIM.cosine_dup_pairs(_vecs(spark), 0.9)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # identical to 0
        (2, [0.9, 0.1, 0.0, 0.0]),  # close to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
        (4, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").withColumn(
        "label", (F.col("vec_id") % 2).cast("int")
    )


def test_cosine_dup_pairs(spark):
    out = {(r["id_a"], r["id_b"]): r["cos"] for r in SIM.cosine_dup_pairs(_vecs(spark), 0.9).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 3) not in out and (0, 4) not in out
    assert out[(0, 2)] > 0.99


def test_cosine_topk_pairs(spark):
    """Multi-probe top-k: the identical pair ranks first at cos 1.0, the
    near pair follows, output is capped at k, and Hamming<=2 probing finds
    the near pair even though its sign pattern differs from an exact
    single-probe band match (dims 2 of vec 2 flip the band-0 key vs vec 0
    only when a sign bit differs — the probe radius covers it)."""
    rows = SIM.cosine_topk_pairs(_vecs(spark), k=3).collect()
    assert len(rows) == 3
    assert (rows[0]["id_a"], rows[0]["id_b"], rows[0]["cos"]) == (0, 1, 1.0)
    ranked = [(r["id_a"], r["id_b"]) for r in rows]
    assert ranked == sorted(ranked, key=lambda p: (-dict(
        ((r["id_a"], r["id_b"]), r["cos"]) for r in rows)[p], p[0], p[1]))
    assert (0, 2) in ranked  # near pair survives candidate generation


def test_srp_signature_width_knob(spark):
    """The bits knob (SCALE.md: bits ~= log2(N/target_occupancy)) widens
    the signature by EXTENDING the same seeded hyperplane sequence, so an
    8-bit signature is always the low byte of a 16-bit one — a corpus can
    re-bucket wider without invalidating previously computed low bits.
    knn_graph accepts the knob end-to-end."""
    vecs = _vecs(spark)
    base = vecs.select(
        SIM.srp_signature(
            vecs["embedding"].cast("array<double>"), 8
        ).alias("s8"),
        SIM.srp_signature(
            vecs["embedding"].cast("array<double>"), 12
        ).alias("s12"),
    ).collect()
    for r in base:
        assert r["s12"] % 256 == r["s8"]  # prefix property
    out = SIM.knn_graph(vecs, k=2, probe_hamming=1, bits=12).collect()
    assert all(r["rank"] <= 2 for r in out)


def test_auto_srp_bits_formula():
    """Width auto-derives from corpus size (VERDICT r8 #6): clamped
    ceil(log2(N / 20)); the floor reproduces the historical 8-bit width
    for every fixture at sf <= 0.1, so small-sf results are unchanged."""
    assert SIM.auto_srp_bits(0) == SIM.SRP_BITS
    assert SIM.auto_srp_bits(500) == 8  # sf0.01 embeddings
    assert SIM.auto_srp_bits(2000) == 8  # sf0.1 embeddings
    assert SIM.auto_srp_bits(5120) == 8  # exact clamp boundary
    assert SIM.auto_srp_bits(20000) == 10  # sf1
    assert SIM.auto_srp_bits(200000) == 14  # sf10
    assert SIM.auto_srp_bits(10**9) == 20  # hi clamp (then split keys)
    # monotone, never exceeds the signed-long-safe cap
    widths = [SIM.auto_srp_bits(n) for n in (10, 10**3, 10**6, 10**12)]
    assert widths == sorted(widths) and max(widths) <= 20


def test_cosine_topk_pairs_plan_is_bucketed(spark):
    """The probe join must stay an equi-join on (band, probed key) — the
    137x probe fan-out must never degenerate to a cartesian."""
    plan = (
        SIM.cosine_topk_pairs(_vecs(spark), k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_bruteforce_ranks(spark):
    out = SIM.ann_bruteforce(_vecs(spark), n_queries=1, k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1  # identical vector first
    assert ranked[1] == 2  # then the near one
    assert 3 not in ranked[:2]


def test_truncate_recall_planted_geometry(spark):
    """Planted prefix/suffix geometry: ids 0-3 share the PREFIX direction
    (overlap must be perfect — truncation changes nothing), ids 4-7 are
    distinguished only PAST the truncation dim (prefix cosine ties at 1.0,
    so the truncated ranking falls back to neighbor-id order)."""
    # trunc_dim=2: vectors (a, b | c, d) — prefix = first 2 dims
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0, 0.0]),
        (2, [1.0, 0.02, 0.0, 0.0]),
        (3, [1.0, 0.03, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["query_id"]: r["n_overlap"]
        for r in SIM.truncate_recall(emb, n_queries=4, k=3, trunc_dim=2).collect()
    }
    # full-dim and 2-dim-prefix rankings agree exactly: all info is in dims 1-2
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.9, 0.0]),   # full-cos far from 0, prefix-cos == 1.0
        (2, [1.0, 0.0, 0.0, 0.01]),  # full-cos near 0
        (3, [1.0, 0.0, 0.0, 0.02]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = SIM.truncate_recall(emb, n_queries=1, k=1, trunc_dim=2).collect()
    # full top-1 of query 0 is id 2 (closest); truncated prefix ties ALL
    # at cos 1.0 so truncated top-1 is id 1 (lowest id) -> overlap 0
    assert got[0]["n_overlap"] == 0


def test_ann_srp_bucket_excludes_opposite_sign(spark):
    out = SIM.ann_srp_lsh(_vecs(spark), n_queries=1, k=5).collect()
    neigh = {r["neighbor_id"] for r in out}
    assert 3 not in neigh  # opposite first-dim sign -> different bucket
    assert 1 in neigh


def _clustered_vecs(spark):
    """Two tight clusters: even ids near e1, odd ids near e2.  Init centroids
    (vec_id 0 and 1) land one per cluster, so 2-cell Lloyd must separate
    them perfectly."""
    rows = []
    for i in range(8):
        eps = 0.01 * i
        if i % 2 == 0:
            rows.append((i, [1.0, eps, 0.0, 0.0]))
        else:
            rows.append((i, [eps, 1.0, 0.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_cells_separates_clusters(spark):
    cells = {
        r["vec_id"]: r["cell"]
        for r in SIM.kmeans_fit(_clustered_vecs(spark), n_cells=2, iters=2, dim=4)[0].collect()
    }
    assert {cells[i] for i in (0, 2, 4, 6)} == {0}
    assert {cells[i] for i in (1, 3, 5, 7)} == {1}


def test_kmeans_cells_deterministic(spark):
    a = SIM.kmeans_fit(_clustered_vecs(spark), n_cells=2, iters=2, dim=4)[0].collect()
    b = SIM.kmeans_fit(_clustered_vecs(spark), n_cells=2, iters=2, dim=4)[0].collect()
    assert sorted((r["vec_id"], r["cell"]) for r in a) == sorted(
        (r["vec_id"], r["cell"]) for r in b
    )


def test_ann_ivf_kmeans_probes_own_cluster(spark):
    out = SIM.ann_ivf_kmeans(_clustered_vecs(spark), n_queries=2, k=3, n_cells=2, iters=2, dim=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # query 0 (even cluster) only sees even neighbors; query 1 only odd
    assert by_q[0] <= {2, 4, 6}
    assert by_q[1] <= {3, 5, 7}


def test_dedup_clusters_components(spark):
    """Two components: {1,2,3} chained (not all directly linked) and {7,9};
    every member labels with the component min."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dedup_clusters_long_chain_converges(spark):
    """A 10-node path graph needs multiple propagation rounds (diameter 9);
    the fixpoint loop must still converge to a single min label."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 19)], "doc_a long, doc_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(pairs).collect()}
    assert set(out.values()) == {10}
    assert len(out) == 10


def test_pq_codes_reconstructs_prototypes(spark):
    """Vectors built from 4 per-subspace prototypes (vec 0-3 ARE the
    prototypes, so init centroids start converged): every vector must get
    its prototype's code in every subspace with zero quantization error."""
    import random

    rng = random.Random(7)
    protos = [[float(p + 1) * (1 + (d % 3)) for d in range(64)] for p in range(4)]
    rows = [(i, protos[i], None) for i in range(4)]
    assign = {}
    for i in range(4, 16):
        p = rng.randrange(4)
        assign[i] = p
        rows.append((i, protos[p], None))
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v, _ in rows], "vec_id long, embedding array<float>, label int"
    )
    out = SIM.pq_codes(emb).collect()
    assert len(out) == 16 * SIM.PQ_SUB
    for r in out:
        expect = r["vec_id"] if r["vec_id"] < 4 else assign[r["vec_id"]]
        assert r["code"] == expect, (r["vec_id"], r["sub"], r["code"])
        assert r["sq_err"] == 0.0


def test_pq_codes_shape_and_bounds(spark):
    from airstrik_py_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    out = SIM.pq_codes(emb)
    rows = out.collect()
    assert len(rows) == n * SIM.PQ_SUB
    assert all(0 <= r["code"] < SIM.PQ_K for r in rows)
    assert all(r["sq_err"] >= 0.0 for r in rows)
    # every vector gets exactly one code per subspace
    assert out.groupBy("vec_id").count().filter(F.col("count") != SIM.PQ_SUB).count() == 0


def test_ann_pq_adc_exact_on_prototype_data(spark):
    """On prototype-built vectors PQ reconstruction is exact, so ADC
    estimated distances equal true distances: same-prototype vectors are
    at estimated distance 0 and rank first."""
    protos = [[float(p + 1) * (1 + (d % 3)) for d in range(64)] for p in range(4)]
    # vecs 0-3 = prototypes; 4-7 repeat prototypes 0-3
    rows = [(i, protos[i % 4], 0) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = SIM.ann_pq_adc(emb, n_queries=2, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in (0, 1):
        ranked = sorted(by_q[q], key=lambda r: r["rank"])
        # the same-prototype twin (vec q+4) is at estimated distance 0
        assert ranked[0]["neighbor_id"] == q + 4 and ranked[0]["est_micro"] == 0
        assert len(ranked) == 3
        assert all(a["est_micro"] <= b["est_micro"] for a, b in zip(ranked, ranked[1:]))


def test_ann_ivf_pq_subset_of_probed_cells(spark):
    """IVF-PQ candidates must come only from the query's probed cells: on a
    64-dim two-cluster fixture with 1 probe, each query sees only its own
    cluster's members."""
    rows = []
    for i in range(8):
        base = 1.0 if i % 2 == 0 else 9.0
        rows.append((i, [base + 0.01 * i * ((d % 5) - 2) for d in range(64)], i % 2))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = SIM.ann_ivf_pq(emb, n_queries=2, k=3, n_cells=2, iters=2, probes=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # clustered fixture: query 0 (even cluster) sees only even neighbors
    # with 1 probe; query 1 only odd
    assert by_q[0] <= {2, 4, 6}
    assert by_q[1] <= {3, 5, 7}
    for r in out:
        assert r["est_micro"] >= 0 and 1 <= r["rank"] <= 3


def test_embedding_norm_outliers_flags_scaled_vector(spark):
    from airstrik_py_spark.operators.similarity import embedding_norm_outliers

    # 20 unit-ish vectors + one wildly scaled one
    rows = [(i, [0.5, 0.5, 0.5, 0.5], i % 3) for i in range(20)]
    rows.append((20, [9.0, 9.0, 9.0, 9.0], 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = embedding_norm_outliers(emb)
    got = out.collect()
    assert [r["vec_id"] for r in got] == [20]
    assert got[0]["z"] > 3.0


def test_dedup_incremental_decisions(spark):
    from airstrik_py_spark.operators.dedup import dedup_incremental

    docs = spark.createDataFrame(
        [
            (0, "old text", "s"),
            (1, "other old", "s"),
            # new batch: 10 collides with corpus, 11/12 intra-batch dupe,
            # 13 genuinely new
            (10, "old text", "s"),
            (11, "fresh stuff", "s"),
            (12, "fresh stuff", "s"),
            (13, "brand new", "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in dedup_incremental(docs, split_id=10).collect()}
    assert set(out) == {10, 11, 12, 13}
    assert out[10]["seen_before"] and not out[10]["accept"]
    assert out[11]["accept"] and out[11]["first_in_batch"]
    assert not out[12]["accept"] and not out[12]["first_in_batch"]
    assert out[13]["accept"] and not out[13]["seen_before"]


def test_pq_adc_recall_monotone_in_codebook(spark):
    """ADC recall vs exact L2 rises with per-subspace codebook size at a
    fixed split — the production PQ quality knob (RECALL.md measures the
    full curve).  Pins (a) strict monotonicity K=2 -> K=16 with margin and
    (b) the registered 32x2x16 fast-scan config at recall@5 >= 0.5 on the
    driver fixture."""
    from pyspark.sql import Window

    from airstrik_py_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n, k = emb.count(), 5
    base = emb.withColumn("vec", F.transform("embedding", lambda x: x.cast("double")))
    q = base.select(F.col("vec_id").alias("query_id"), F.col("vec").alias("qv"))
    c = base.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("cv"))
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    brute = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d", SIM._sq_dist(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
        .cache()
    )
    tot = brute.count()

    def recall(pq_k: int) -> float:
        orig = SIM.PQ_K
        SIM.PQ_K = pq_k
        try:
            adc = SIM.ann_pq_adc(emb, n_queries=n, k=k)
            hits = adc.join(brute, ["query_id", "neighbor_id"], "left_semi").count()
        finally:
            SIM.PQ_K = orig
        return hits / tot

    r_small, r_full = recall(2), recall(SIM.PQ_K)
    assert r_full >= 0.5, r_full          # registered config (32x2x16)
    assert r_full > r_small + 0.1, (r_small, r_full)  # monotone with margin


def test_minhash_incremental_store_roundtrip(spark, tmp_path):
    """The ingest contract: corpus band keys persisted to a parquet store
    and read back must give the SAME hits as computing them inline, and
    the hits must equal the full batch pair-finder restricted to
    (corpus, new) pairs — i.e. incremental ingest loses nothing vs a full
    re-dedup, without ever re-reading corpus text."""
    from airstrik_py_spark.operators import dedup as D
    from airstrik_py_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    split = D.INCR_SPLIT
    corpus = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)

    store = str(tmp_path / "band_store")
    D.lsh_band_keys(D.minhash_signature(corpus)).write.parquet(store)
    from_store = {
        (r["new_doc_id"], r["corpus_doc_id"], r["n_shared_bands"])
        for r in D.minhash_lsh_incremental(
            new, spark.read.parquet(store)
        ).collect()
    }
    inline = {
        (r["new_doc_id"], r["corpus_doc_id"], r["n_shared_bands"])
        for r in D.minhash_lsh_incremental(
            new, D.lsh_band_keys(D.minhash_signature(corpus))
        ).collect()
    }
    assert from_store == inline
    assert from_store  # fixture must exercise the path (11 hits today)

    full_cross = {
        (r["doc_b"], r["doc_a"], r["n_shared_bands"])
        for r in D.lsh_candidate_pairs(docs).collect()
        if r["doc_a"] < split <= r["doc_b"]
    }
    assert from_store == full_cross


def test_embedding_incremental_store_roundtrip(spark, tmp_path):
    """Embedding modality of the ingest contract: the persisted SRP bucket
    store, read back from parquet, must give the same hits as the inline
    store — and the hits must equal cosine_dup_pairs restricted to
    (corpus, new) pairs, i.e. incremental probing loses nothing vs full
    re-dedup."""
    from airstrik_py_spark.operators.similarity import (
        EMB_INCR_SPLIT,
        cosine_dup_pairs,
        cosine_dups_incremental,
        embedding_bucket_store,
    )
    from airstrik_py_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") < EMB_INCR_SPLIT)
    new = emb.filter(F.col("vec_id") >= EMB_INCR_SPLIT)

    store = str(tmp_path / "srp_store")
    embedding_bucket_store(corpus).write.parquet(store)
    from_store = {
        (r["new_vec_id"], r["corpus_vec_id"], r["cos"])
        for r in cosine_dups_incremental(
            new, spark.read.parquet(store), 0.4
        ).collect()
    }
    inline = {
        (r["new_vec_id"], r["corpus_vec_id"], r["cos"])
        for r in cosine_dups_incremental(
            new, embedding_bucket_store(corpus), 0.4
        ).collect()
    }
    assert from_store == inline
    assert from_store  # fixture must exercise the path

    full_cross = {
        (r["id_b"], r["id_a"], r["cos"])
        for r in cosine_dup_pairs(emb, 0.4).collect()
        if r["id_a"] < EMB_INCR_SPLIT <= r["id_b"]
    }
    assert from_store == full_cross


def test_embedding_quantize_int8_hand_case(spark):
    """The per-dim max|x| maps to code +/-127 exactly; half-scale maps to
    round-half-away(63.5) = 64; a constant-zero dim emits code 0."""
    from airstrik_py_spark.operators.similarity import embedding_quantize_int8

    emb = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.0]), (1, [0.5, 2.0, 0.0]), (2, [-1.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {(r["vec_id"], r["dim"]): r for r in embedding_quantize_int8(emb).collect()}
    assert out[(0, 0)]["code"] == 127 and out[(2, 0)]["code"] == -127
    assert out[(1, 0)]["code"] == 64  # 0.5/1.0*127 = 63.5 -> away from zero
    assert out[(0, 1)]["code"] == -127 and out[(1, 1)]["code"] == 127
    assert all(out[(v, 2)]["code"] == 0 for v in (0, 1, 2))  # amax = 0 dim
    assert out[(0, 0)]["amax_micro"] == 1_000_000


def test_embedding_standardize_zscores(spark):
    """z-scores from the published 6-dp moments: a two-value dimension
    standardizes to +/-1; constant dimension emits 0."""
    from airstrik_py_spark.operators.similarity import embedding_standardize

    emb = spark.createDataFrame(
        [(0, [1.0, 7.0]), (1, [3.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    out = {(r["vec_id"], r["dim"]): r["z"] for r in embedding_standardize(emb).collect()}
    assert out[(0, 0)] == -1.0 and out[(1, 0)] == 1.0
    assert out[(0, 1)] == 0.0 and out[(1, 1)] == 0.0


def test_rrf_fusion_hand_semantics(spark):
    """RRF: a vector ranked well by BOTH lists must outscore one ranked
    top by a single list; contributions are the quantized 1/(60+rank)."""
    from airstrik_py_spark.operators.similarity import ann_rrf_fusion

    # 6 vectors in 2D-ish 64-dim space: make vec 0/1 queries
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ann_rrf_fusion(emb, n_queries=2, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert ranks == list(range(1, len(ranks) + 1))  # dense ranks
        # scores non-increasing with rank; every neighbor in 1 or 2 lists
        scores = [r["rrf_micro"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(r["n_lists"] in (1, 2) for r in rs)
        # a both-lists rank-1 vector would score 2*round(1e6/61); check the
        # arithmetic of the top contribution bound
        assert scores[0] <= 2 * round(1_000_000.0 / 61)


def test_best_quality_canonical_picks_longest(spark, tmp_path):
    """Within a near-dup cluster the longest member wins (ties to the
    smaller doc_id) — not the min-id canonical."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [
            (0, base.strip(), "en", "s", len(base.strip())),
            (1, (base + "extra tail tokens here").strip(), "en", "s",
             len((base + "extra tail tokens here").strip())),
            (2, "completely different text about spark plans and shuffles",
             "en", "s", 56),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "sf")
    docs.write.parquet(d + "/documents.parquet")

    from airstrik_py_spark.registry.extras_q import (
        q_dedup_best_quality_canonical,
    )

    out = q_dedup_best_quality_canonical(spark, d).collect()
    assert len(out) == 1  # docs 0 and 1 cluster; doc 2 is clean
    row = out[0]
    assert row["n_members"] == 2
    assert row["best_doc_id"] == 1  # longer member, despite larger id
    assert row["best_n_chars"] == docs.collect()[1]["n_chars"]


def test_ngram_jaccard_reuses_shingle_exchange(spark):
    """The docstring claims the self-join reuses the shingle-hash exchange
    (no third tokenize+explode pass) — pin it in the AQE executed plan."""
    from airstrik_py_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta eta") for i in range(30)],
        "doc_id long, text string",
    )
    df = ngram_jaccard_pairs(docs, threshold=0.2)
    df.collect()  # AQE finalizes reuse at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 1


def test_reattach_fallback_matches_broadcast(spark, monkeypatch):
    """ADVICE r9: past REATTACH_BROADCAST_MAX_ROWS the vector re-attach
    must fall back to plain shuffle equi-joins with IDENTICAL results (and
    no broadcast hint in the plan)."""
    df = _vecs(spark)
    want_pairs = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in SIM.cosine_dup_pairs(df, 0.9).collect()
    }
    want_topk = [
        (r["id_a"], r["id_b"], r["cos"])
        for r in SIM.cosine_topk_pairs(df, k=3).collect()
    ]
    monkeypatch.setattr(SIM, "REATTACH_BROADCAST_MAX_ROWS", 0)
    fb_pairs_df = SIM.cosine_dup_pairs(df, 0.9)
    fb_pairs = {
        (r["id_a"], r["id_b"], r["cos"]) for r in fb_pairs_df.collect()
    }
    fb_topk = [
        (r["id_a"], r["id_b"], r["cos"])
        for r in SIM.cosine_topk_pairs(df, k=3).collect()
    ]
    assert fb_pairs == want_pairs
    assert fb_topk == want_topk
    plan = fb_pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_block_ints_match_signature_string(spark):
    """r16: simhash consumers run on 16-bit block INTS (join keys) and a
    packed 64-bit long (xor+popcount hamming).  Pin the packing against
    the rendered '0'/'1' signature string: bit j of the string must equal
    bit (15 - j%16) of block int j//16, for every doc."""
    sig = {r["doc_id"]: r["sig"] for r in simhash_signature(_docs(spark)).collect()}
    blocks = {
        r["doc_id"]: [r[f"b{b}"] for b in range(D.SIMHASH_BLOCKS)]
        for r in D._simhash_block_ints(_docs(spark)).collect()
    }
    assert set(sig) == set(blocks) and len(sig) == 5
    for doc_id, s in sig.items():
        assert len(s) == D.SIMHASH_BITS
        for j, ch in enumerate(s):
            bit = (blocks[doc_id][j // 16] >> (15 - j % 16)) & 1
            assert ch == str(bit), (doc_id, j)


def test_simhash_pairs_hamming_matches_string_hamming(spark):
    """r16: xor+bit_count hamming over the packed longs must equal the
    character-wise signature-string distance for every emitted pair."""
    sig = {r["doc_id"]: r["sig"] for r in simhash_signature(_docs(spark)).collect()}
    for r in D.simhash_pairs(_docs(spark), max_hamming=64).collect():
        want = sum(
            1 for x, y in zip(sig[r["doc_a"]], sig[r["doc_b"]]) if x != y
        )
        assert r["hamming"] == want, (r["doc_a"], r["doc_b"])
