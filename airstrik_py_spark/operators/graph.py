"""Graph analytics over the corpus similarity graph: fixed-iteration
PageRank on the bucketed kNN graph.

Data-curation pipelines rank documents by centrality in the similarity
graph (e.g. picking cluster representatives, down-weighting isolated
spam); PageRank over the kNN edge set is the standard tool.  This is the
vertex-centric formulation as pure relational algebra — per iteration:

    contrib(dst) = SUM over in-edges of pr(src) div outdeg(src)
    pr'(node)    = (1-d) + d * contrib(node)        (dangling mass dropped)

in integer micro-units (pr starts at 1_000_000; damping 0.85 applied as
`(85 * contrib) div 100`), so every engine computes identical BIGINTs —
no float accumulation order to disagree on.

Scale shape: the edge list is the big table.  It is hash-partitioned ONCE
on src_id and reused every round (the pr frame arrives per round via the
same key, so the per-iteration cost is one co-partitioned join plus one
groupBy(dst) exchange — the irreducible Pregel message shuffle).  The
iteration count is a compile-time constant; the driver loop is control
flow only (no data returns to the driver), and each round's pr frame is
localCheckpoint-ed exactly like dedup_clusters / kmeans so lineage stays
O(1).  On a real cluster you would bucket the edge table by BOTH src and
dst at write time (see registry join_bucketed_coloc) to delete the
per-round exchange entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_MICRO = 1_000_000
PR_ITERS = 3
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100
PR_BASE = PR_MICRO * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN  # (1-d) scaled


def _idiv(num, den):
    """True integer division (IntegralDivide) — matches DuckDB `//` on the
    nonnegative operands used here at any magnitude."""
    return F.call_function("div", num, den)


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """`nodes`: one column `node`; `edges`: (src, dst).  Returns
    (node, pr_micro) after `iters` damped rounds from a uniform start."""
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # The one partitioning the loop reuses: edges+outdeg keyed by src.
    # Cost: one job that keeps the edge list in executor storage, memory
    # first, then disk.  The blocks have no lineage behind them, so a lost
    # executor fails the query (rerun it).
    ed = (
        edges.join(deg, "src")
        .select("src", "dst", "outdeg")
        .repartition("src")
        .localCheckpoint()
    )
    pr = nodes.select("node", F.lit(PR_MICRO).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (
            ed.join(pr, ed.src == pr.node)
            .select(ed.dst, _idiv(F.col("pr"), F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        pr = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(PR_BASE)
                    + _idiv(
                        F.lit(PR_DAMP_NUM) * F.coalesce(F.col("contrib"), F.lit(0)),
                        F.lit(PR_DAMP_DEN),
                    )
                ).alias("pr"),
            )
            # one job per round keeping one (node, pr) row per node; lost
            # with its executor, like `ed`
            .localCheckpoint()
        )
    return pr.select("node", F.col("pr").alias("pr_micro"))


def pagerank_knn(emb: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """PageRank over the SRP-bucketed kNN graph (operators/similarity.py::
    knn_graph): nodes = every vector, edges = the top-k cosine neighbors.
    Output: (vec_id, pr_micro) for the whole corpus."""
    from airstrik_py_spark.operators.similarity import knn_graph

    nodes = emb.select(F.col("vec_id").alias("node"))
    edges = knn_graph(emb).select(
        F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
    )
    return pagerank(nodes, edges, iters).select(
        F.col("node").alias("vec_id"), "pr_micro"
    )
