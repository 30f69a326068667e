"""Document deduplication for large-scale training-data pipelines: exact,
MinHash+LSH, SimHash, and n-gram Jaccard — all pure DataFrame ops.

Scale notes (the whole point of these):
  * exact: one hash-groupBy — map-side partial agg, one shuffle on digest.
  * minhash-LSH: shingle -> k md5-minhashes -> band keys -> bucket self-join.
    Never all-pairs: candidate generation joins only within LSH buckets.
  * simhash: 16-bit signature; candidates must share one of 4 4-bit blocks
    (pigeonhole: hamming <= 3 implies >= 1 identical block), so the join is
    block-bucketed, not quadratic.
  * ngram-jaccard: candidate pairs from a shared-shingle equi-join (inverted
    index), exact Jaccard only on candidates.
MinHash here permutes via md5(seed || shingle) and takes the lexicographic
min — engine-agnostic (the DuckDB oracle computes the identical strings).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_K = 6  # 6 hashes -> 3 LSH bands of 2
SIMHASH_BITS = 64  # Manku et al. WWW'07 config: f=64, k=3
SIMHASH_BLOCKS = 4  # 4 blocks of 16 bits; hamming<=3 => >=1 shared block
# md5 hex-char sets whose nibble has bit (3-i) set: bit j of the signature
# reads nibble j//4, bit position j%4.  16-bit blocks give 65536 bucket
# values per block — the r8 sf1 sweep measured the old 4-bit blocks (16
# values) collapsing 50k docs into ~3k-doc buckets, i.e. ~300M candidate
# pairs: quadratic in corpus size.  Bits must grow with the corpus; 64 is
# the published production width.
HEX_BIT_SETS = ("89abcdef", "4567cdef", "2367abef", "13579bdf")


def _shingle_array(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string> ('w1|w2|w3'); empty for docs
    shorter than n words (guarded: Spark's sequence() runs backwards when
    stop < start)."""
    w = F.split(text, " ")
    seq = F.sequence(F.lit(1), F.size(w) - (n - 1))
    mk = lambda i: F.concat_ws("|", *[F.element_at(w, i + j) for j in range(n)])  # noqa: E731
    return F.when(F.size(w) >= n, F.transform(seq, mk)).otherwise(
        F.array().cast("array<string>")
    )


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition small under-partitioned inputs before the shingle explode
    so the ~100x row blowup parallelizes (sf-sized fixtures are one parquet
    file -> one task).  Conditional (r15): at real scale the scan already
    has >= core-count splits and an unconditional round-robin repartition
    here would shuffle the ENTIRE corpus text once for nothing (plus the
    sort-before-repartition pass every keyless repartition pays) — the
    guard makes it a plan-time no-op exactly when it would be pure cost.

    Guard probe (r16): the r15 guard called docs.rdd.getNumPartitions(),
    which forces full analysis + physical planning + a Python-RDD
    conversion of the frame at every call, per query build — driver-side
    work proportional to plan size that also defeats plan caching (ADVICE
    r15).  inputFiles() only analyzes the logical plan and reads the
    scan's file listing: a scan split across >= core-count files is
    already parallel enough for the explode (splits >= files), while the
    single-file sf fixtures keep the spread.  Frames with no file scan
    (in-memory test frames) report zero files and keep the spread too —
    the safe side."""
    sc = docs.sparkSession.sparkContext
    try:
        n_files = len(docs.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= sc.defaultParallelism:
        return docs
    return docs.repartition(sc.defaultParallelism)


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) long form — the inverted-index base.
    Dedup happens map-side in the array domain (array_distinct before the
    explode): shingle uniqueness is per-document, so a wide
    (doc_id, shingle) distinct-shuffle would be pure waste — at 100 TB
    that's a ~100x-row exchange avoided."""
    return _spread(docs).select(
        "doc_id",
        F.explode(F.array_distinct(_shingle_array(F.col("text"), n))).alias("shingle"),
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup via content digest: one row per distinct text with the
    canonical (min) doc_id and the copy count."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


def dedup_normalized(docs: DataFrame) -> DataFrame:
    """Exact dedup after canonicalization (lowercase, collapsed whitespace) —
    catches trivially-reformatted copies that byte-exact dedup misses."""
    canon = F.regexp_replace(F.trim(F.lower(F.col("text"))), " +", " ")
    return (
        docs.groupBy(F.md5(canon).alias("canon_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


def minhash_signature(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Per-doc MinHash signature: h_i = min over shingles of md5('i|'+s).
    One groupBy; the k minima are parallel partial aggregates.

    Shape adjudicated r16 (the r15 row-local rewrite was a CONFIRMED bench
    regression — driver 0.60x, paired A/B +286%): `array_min(transform(
    _sh, md5))` per hash is a higher-order function, i.e. CodegenFallback
    INTERPRETED evaluation of k*|shingles| md5 lambdas per row, and it
    lost to this explode+groupBy form — whose md5s run inside whole-stage
    codegen — at every measured scale.  The groupBy(doc_id).agg(min(str))
    pair plans as SortAggregate (min over var-width strings has no
    fixed-width hash-agg buffer): the map-side partial sorts the exploded
    shingle stream but collapses it to ONE row per doc BEFORE the
    exchange, so the doc_id shuffle moves ~docs rows, not ~shingles rows —
    the scale cost is the partial sort, which the A/B shows is far cheaper
    than interpreted md5 evaluation."""
    # no distinct: min() is duplicate-insensitive, so the dedup shuffle in
    # shingles() would be pure waste here — explode feeds the agg directly
    sh = _spread(docs).select(
        "doc_id", F.explode(_shingle_array(F.col("text"))).alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(
    sig: DataFrame, k: int = MINHASH_K, rows_per_band: int = 2
) -> DataFrame:
    """(doc_id, band, bkey) band-bucket keys from a MinHash signature frame —
    band key = md5(band_index | h_i .. h_j).  Shared by the batch pair
    finder and the incremental ingest path (whose persisted signature
    store is exactly this frame)."""
    n_bands = k // rows_per_band
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            ).alias("bkey"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def lsh_candidate_pairs(docs: DataFrame, k: int = MINHASH_K, rows_per_band: int = 2) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs: docs sharing >= 1 band bucket.
    Band key = md5(band_index | h_i .. h_j); self-join per bucket only."""
    keyed = lsh_band_keys(minhash_signature(docs, k), k, rows_per_band)
    a = keyed.alias("a")
    b = keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def _simhash_block_ints(docs: DataFrame) -> DataFrame:
    """(doc_id, b0..b{SIMHASH_BLOCKS-1}): the 64-bit SimHash as 16-bit
    block INTEGERS — block b holds signature bits 16b..16b+15, bit j at
    weight 2^(15 - j%16).  The compact form every simhash consumer
    derives from: block ints are the bucket-join keys directly, and two
    64-bit signatures compare in one xor+popcount.

    Shape adjudicated r16 — the r15 row-local fold WINS for simhash
    (unlike minhash, where the same adjudication reverted to
    explode+groupBy): measured at sf0.1 (noop, min-of-2, quiet box) the
    row-local signature costs 1.1 s vs 3.5 s for an explode + codegen-md5
    + packed-counter HashAggregate and ~22 s for the r14 explode+64-agg
    form (3-way A/B medians for the whole pairs query: 5.6 / 22.1 /
    22.0 s).  Here the explode fans the token stream out only to
    aggregate it straight back per doc, so the interpreted fold's
    overhead never catches the exchange + fan-out it avoids.  One md5
    per token into an array (single pass), then each bit's +/-1 sum
    folds over that array — no explode of tokens, no doc_id exchange.
    Null-text docs are filtered exactly as explode(null) dropped them.

    The 64 interpreted bit-folds are materialized behind a Generate
    barrier (explode of a 1-element array — the r15 alarm lesson):
    without it CollapseProject re-inlines the folds into every
    downstream reference (the block keys, the signature long, the sig
    string) and each reference re-runs all 64 folds per row.
    """
    md5s = (
        _spread(docs)
        .select(
            "doc_id",
            F.transform(F.split("text", " "), lambda t: F.md5(t)).alias("_h"),
        )
        .filter(F.col("_h").isNotNull())
    )

    def _bit_sum(j: int):
        pos = j // 4 + 1
        chars = list(HEX_BIT_SETS[j % 4])
        return F.aggregate(
            "_h",
            F.lit(0),
            lambda a, h: a
            + F.when(F.substring(h, pos, 1).isin(*chars), 1).otherwise(-1),
        )

    block_w = SIMHASH_BITS // SIMHASH_BLOCKS

    def _bval(b: int):
        return sum(
            F.when(_bit_sum(block_w * b + l) > 0, F.lit(1 << (block_w - 1 - l)))
            .otherwise(F.lit(0))
            for l in range(block_w)
        )

    bv = md5s.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(*[_bval(b).alias(f"b{b}") for b in range(SIMHASH_BLOCKS)])
            )
        ).alias("_bv"),
    )
    return bv.select(
        "doc_id", *[F.col(f"_bv.b{b}").alias(f"b{b}") for b in range(SIMHASH_BLOCKS)]
    )


def simhash_signature(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit j set when the sum over
    token occurrences of ±1 is positive; the ±1 for bit j reads md5 hex
    nibble j//4 at nibble-bit (3 - j%4) — the HEX_BIT_SETS convention.
    The '0'/'1' string renders from the block-int core (one shift+mask
    per bit, codegen) — same strings as the direct concat, single source
    of truth for the fold."""
    bi = _simhash_block_ints(docs)
    block_w = SIMHASH_BITS // SIMHASH_BLOCKS
    sig = F.concat(
        *[
            F.when(
                F.shiftright(
                    F.col(f"b{j // block_w}"), block_w - 1 - (j % block_w)
                ).bitwiseAND(F.lit(1))
                == 1,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for j in range(SIMHASH_BITS)
        ]
    )
    return bi.select("doc_id", sig.alias("sig"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs at hamming <= max_hamming, via block-bucketed joins
    (share >= 1 of the 4 16-bit blocks — pigeonhole-complete for
    hamming<=3).  Bucket work is Sum(bucket^2) over 65536 values per
    block: linear until corpora approach ~10^6 docs per bucket value, at
    which point SIMHASH_BITS grows (bits scale with log2 of corpus —
    same rule as SRP_BITS, SCALE.md).

    r16: the join keys are the 16-bit block INTS (not 16-char '0'/'1'
    substrings) and hamming is ONE xor+bit_count over the packed 64-bit
    signature longs instead of 64 per-pair substring comparisons —
    identical pairs and distances (bval int equality <=> block bit
    equality; popcount(xor) IS the differing-bit count), ~4x less
    shuffle width per candidate row and all-codegen pair scoring.
    Measured sf0.1: 7.3 s (string keys + substring hamming, single fold
    eval) -> 3.3 s; the committed r15 shape, which also re-ran the bit
    folds per block reference, 5.6 s."""
    bi = _simhash_block_ints(docs)
    block_w = SIMHASH_BITS // SIMHASH_BLOCKS
    sig_long = F.col("b0").cast("long")
    for b in range(1, SIMHASH_BLOCKS):
        sig_long = F.shiftleft(sig_long, block_w).bitwiseOR(F.col(f"b{b}").cast("long"))
    keyed = bi.withColumn("sigl", sig_long).select(
        "doc_id",
        "sigl",
        F.posexplode(F.array(*[f"b{b}" for b in range(SIMHASH_BLOCKS)])).alias(
            "blk", "bval"
        ),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sigl").alias("sig_a"),
            F.col("b.sigl").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-duplicate pair graph -> one cluster
    per component, labeled by its minimum doc_id (the canonical survivor).
    Input: (doc_a, doc_b) candidate/confirmed pairs; output: (doc_id,
    cluster_id) for every doc that appears in some pair.

    Algorithm: min-label propagation to fixpoint — labels start as the
    node id; each round every node takes the min of its own and its
    neighbors' labels; stop when a round changes nothing.  Rounds are
    bounded by the graph diameter (near-dup components are shallow:
    star-ish clusters converge in 2-3 rounds).  Per round: one equi-join
    on node id + one map-side-combined min-agg — all hash exchanges on the
    same key, no N^2 anywhere.  The driver-side loop is control flow only
    (a `.isEmpty()` convergence probe, not data collection); at web scale
    you'd swap in the large-star/small-star variant (Kiveris et al.) with
    the same output contract.  The DuckDB oracle computes the same
    fixpoint as a recursive-CTE transitive closure."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        # materialize ONCE: edges is iteration-invariant, but without a
        # checkpoint every round's join re-evaluates the whole upstream
        # pair pipeline (for semantic_dedup that is the full knn graph —
        # 78 s/round at sf10, and sparse random components have real
        # diameter, so rounds x upstream turned a 2-min query into 45+
        # min; caught by the r9 sf10 sweep).  Cost: one job that keeps
        # the symmetric edge list in executor storage, memory first, then
        # disk.  The blocks have no lineage behind them, so a lost
        # executor fails the query (rerun it).
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().withColumn(
        "lbl", F.col("doc_id")
    )
    while True:
        neigh = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        merged = (
            labels.join(neigh, labels.doc_id == neigh.src, "left")
            .select(
                "doc_id",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias(
                    "new_lbl"
                ),
                "lbl",
            )
        )
        # checkpoint BEFORE the convergence probe so the round's join+agg
        # runs once and both the probe and the next round read the
        # materialized frame.  One job per round keeping one label row
        # per doc; lost with its executor, like `edges`.
        merged = merged.localCheckpoint()
        done = merged.filter(F.col("new_lbl") != F.col("lbl")).isEmpty()
        labels = merged.select("doc_id", F.col("new_lbl").alias("lbl"))
        if done:
            return labels.select("doc_id", F.col("lbl").alias("cluster_id"))


NGRAM_DF_MAX = 50  # drop shingles shared by more than this many docs


def bucket_pair_structs(ids: Column, cap: int) -> Column:
    """The C(d,2) ordered pairs of a SORTED unique-id array, row-locally:
    array of struct(a, b) with a < b, exactly d(d-1)/2 entries.  `cap` is
    the bucket-size bound the caller's DF cap guarantees (slice length
    must cover the array tail).  Replaces the bucket self-join everywhere
    a DF-capped inverted index generates candidate pairs: the index is
    touched once on the partitioning the DF join already established and
    only the surviving pairs flow into the pair aggregate (r15 for the
    ngram lanes — driver-confirmed 1.37x; r16 reuses it for winnowing)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.lit(cap)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _capped_pair_counts(docs: DataFrame, n: int, df_max: int):
    """Shared candidate core of the DF-capped n-gram measures
    (jaccard / containment): per-doc capped-shingle sizes and the
    shared-shingle pair intersection counts.

    Pair generation (r15 — replaces the bucket SELF-JOIN): after the
    DF-cap join every shingle bucket holds <= df_max doc_ids, so the
    bucket's C(d,2) ordered pairs are generated ROW-LOCALLY from a
    sort_array(collect_list(doc_id)) — bounded memory by construction —
    on the shingle partitioning the DF join already established (no new
    exchange).  The former a×b self-join fed the pair aggregation d^2
    rows per bucket through a rebuilt+broadcast b-side subtree (the whole
    capped index materialized into every task: plans/r15/
    dedup_ngram_jaccard_before.txt ops 20-27); this emits exactly the
    C(d,2) = d(d-1)/2 surviving pairs and touches the index once.
    Results are identical: sort_array orders each bucket ascending, so
    (ids[i], ids[j]) with i < j enumerates precisely the doc_a < doc_b
    pairs the join's `a.doc_id < b.doc_id` condition kept (doc_ids are
    unique per bucket — shingles are array_distinct per doc upstream)."""
    sh_all = shingles(docs, n)
    capped_vocab = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= F.lit(df_max))
        .drop("df")
    )
    sh = sh_all.join(capped_vocab.hint("shuffle_hash"), "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    buckets = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    inter = (
        buckets.select(F.explode(bucket_pair_structs(F.col("ids"), df_max)).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return sizes, inter


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float, n: int = 3, df_max: int = NGRAM_DF_MAX
) -> DataFrame:
    """Exact n-gram Jaccard similarity on candidate pairs that share >= 1
    RARE shingle (inverted-index join with a document-frequency cap,
    never all-pairs).

    The DF cap is the scale guard: an uncapped hot shingle shared by d docs
    creates d^2 candidate pairs on one (skewed) join key — a stop-word-ish
    shingle in 1% of a 100 TB corpus is ~10^12 pairs.  Standard prefix/DF
    filtering drops shingles with df > df_max from the REPRESENTATION (both
    intersection and sizes), so Jaccard stays a true set similarity over the
    capped vocabulary and the join's per-key fan-out is bounded by df_max^2.

    (minhash_signature needs no such cap: it never joins on shingles — the
    min-agg is keyed by doc_id and hot shingles cost it only linear work.)

    DF-cap shape (r4): a count-over-window on shingle would SORT a hot
    shingle's rows inside one task (10^8-row spill for a stop-phrase in
    1% of a 10^10-doc corpus); instead the DF comes from a
    map-side-combined groupBy — hot shingles collapse to one partial row
    per map task — and the capped vocabulary joins back as the BUILD side
    of a shuffled-hash join whose probe STREAMS the shingle rows, so a
    hot key costs streaming time, never a sort.  Candidate pairs come
    from bounded per-bucket generation (r15, _capped_pair_counts), not a
    bucket self-join."""
    sizes, inter = _capped_pair_counts(docs, n, df_max)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
    )
    return jac.filter(F.col("jaccard") >= F.lit(threshold)).select(
        "doc_a", "doc_b", "n_inter", "jaccard"
    )


INCR_SPLIT = 400  # fixture boundary: doc_id < INCR_SPLIT = the existing corpus


def dedup_incremental(
    docs: DataFrame, split_id: int = INCR_SPLIT
) -> DataFrame:
    """Daily-ingest dedup: for each NEW document (doc_id >= split_id),
    report whether its content digest already exists in the accepted
    corpus (doc_id < split_id) and within the new batch itself (keep only
    the first of an intra-batch group).  `accept = not seen_before and
    first_in_batch` — the decision a rolling ingestion pipeline persists.

    Shape: one digest equi-join of the (small) new batch against the
    corpus digest set (left side prunable by partition/date in a real
    layout; the broadcast naturally lands on the batch side) plus one
    batch-local first-wins window.  Never a global re-dedup of the
    accepted corpus."""
    digest = F.md5("text")
    old = docs.filter(F.col("doc_id") < split_id).select(
        digest.alias("digest")
    ).distinct().withColumn("_seen", F.lit(1))
    from pyspark.sql import Window

    new = docs.filter(F.col("doc_id") >= split_id).select(
        "doc_id", digest.alias("digest")
    )
    rn = F.row_number().over(
        Window.partitionBy("digest").orderBy("doc_id")
    )
    j = new.withColumn("first_in_batch", rn == 1).join(
        old.hint("shuffle_hash"), "digest", "left"
    )
    return j.select(
        "doc_id",
        "digest",
        F.col("_seen").isNotNull().alias("seen_before"),
        "first_in_batch",
        (F.col("_seen").isNull() & F.col("first_in_batch")).alias("accept"),
    )


def minhash_lsh_incremental(
    new_docs: DataFrame,
    corpus_bands: DataFrame,
    k: int = MINHASH_K,
    rows_per_band: int = 2,
) -> DataFrame:
    """NEAR-dup analog of dedup_incremental: candidate near-duplicate hits
    of each NEW document against the ACCEPTED corpus, via shared MinHash
    band buckets.

    `corpus_bands` is the persisted (doc_id, band, bkey) signature store
    (lsh_band_keys output, appended per ingest batch) — the corpus is
    never re-shingled, never re-banded, and its TEXT is never read; the
    join touches only bucket-matching rows, so a daily batch costs
    O(batch) signature work + a bucket-local join against a store that is
    ~n_bands rows per corpus doc.  Returns
    (new_doc_id, corpus_doc_id, n_shared_bands) — the candidate set a
    curation pipeline re-ranks (exact Jaccard / cosine) or blocks on.
    """
    nb = lsh_band_keys(minhash_signature(new_docs, k), k, rows_per_band)
    return (
        nb.withColumnRenamed("doc_id", "new_doc_id")
        .join(
            corpus_bands.withColumnRenamed("doc_id", "corpus_doc_id"),
            ["band", "bkey"],
        )
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(F.count("*").alias("n_shared_bands"))
    )


CONTAIN_THRESHOLD = 0.5


def ngram_containment_pairs(
    docs: DataFrame, threshold: float = CONTAIN_THRESHOLD, n: int = 3,
    df_max: int = NGRAM_DF_MAX,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT on shared-rare-shingle candidates:
    C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|.  Jaccard misses the
    quote/extract case — a 50-word excerpt pasted into a 5000-word doc has
    Jaccard ~0.01 but containment ~1.0 — so sub-document duplication
    screens on max(C(A in B), C(B in A)) (Broder's containment measure).

    Same scale contract as ngram_jaccard_pairs: candidates from the
    DF-capped inverted index (per-key fan-out bounded by C(df_max, 2),
    never all-pairs — bounded row-local pair generation, see
    _capped_pair_counts); containment is computed over the capped
    vocabulary so it stays a true set ratio.  Ratios round to 4 dp AFTER
    exact integer counts, keeping the verdict bit-stable across
    engines."""
    sizes, inter = _capped_pair_counts(docs, n, df_max)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    c = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("c_a_in_b", F.round(F.col("n_inter") / F.col("n_a"), 4))
        .withColumn("c_b_in_a", F.round(F.col("n_inter") / F.col("n_b"), 4))
    )
    return c.filter(
        F.greatest(F.col("c_a_in_b"), F.col("c_b_in_a")) >= F.lit(threshold)
    ).select("doc_a", "doc_b", "n_inter", "c_a_in_b", "c_b_in_a")


def minhash_jaccard_estimate(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """MinHash Jaccard ESTIMATE for LSH candidate pairs: est = (matching
    signature components) / k — the standard unbiased estimator
    (P[h_min equal] = J), computed WITHOUT touching shingle sets again.
    This is the triage statistic an at-scale pipeline thresholds BEFORE
    paying for an exact verify (dedup_ngram_jaccard on survivors): the
    signature join moves k hashes per doc instead of the shingle lists.

    Shape: band-bucket candidate generation (identical to
    lsh_candidate_pairs — never all-pairs), then each side's k-hash
    signature joins back by doc_id and the component-match count is a
    per-row integer sum; estimate rounds to 4 dp from an exact
    small-integer ratio."""
    sig = minhash_signature(docs, k)
    keyed = lsh_band_keys(sig, k)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)])
    m = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(k)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_sig_match", m.cast("long"))
        .withColumn(
            "jaccard_est", F.round(F.col("n_sig_match") / F.lit(k), 4)
        )
        .select("doc_a", "doc_b", "n_sig_match", "jaccard_est")
    )
