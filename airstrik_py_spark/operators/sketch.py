"""Mergeable frequency sketches: count-min heavy hitters.

At 100 TB an exact token-frequency groupBy shuffles one group per
distinct token (billions of keys).  A count-min sketch (Cormode &
Muthukrishnan 2005) replaces that with a FIXED-size state — D rows of W
counters — built with one map-side-combined aggregation over D*W groups:
the shuffle payload is bounded by the sketch, not the vocabulary, and
sketches from disjoint shards merge by cell-wise addition (the same
groupBy), so the build parallelizes perfectly and can run incrementally
per ingest batch.

The estimate contract is one-sided: est(token) = min over rows of the
hashed cell >= true count, with overestimate bounded by collisions.  The
query here materializes BOTH the sketch estimate and the exact count so
the correctness gate pins the contract (`est >= true` for every token)
and the collision error is visible; at production scale you would keep
only the sketch path and the candidate set would come from a per-shard
local top-k, not an exact global groupBy.

Hashing is md5-derived (first 8 hex chars -> BIGINT mod W) so the DuckDB
oracle reproduces every cell exactly — integer arithmetic end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_W = 512  # counters per row
CMS_D = 3  # independent hash rows
CMS_TOP_K = 50


def _bucket(row_idx: int, token: Column, w: int = CMS_W) -> Column:
    """Row `row_idx`'s counter index for a token: md5(row || token) first
    32 bits mod `w`.  Independent rows come from salting with the row index."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(str(row_idx)), token)), 1, 8), 16, 10
    ).cast("long")
    return (h % F.lit(w)).cast("long")


def cms_build(tokens: DataFrame, token_col: str = "token", w: int = CMS_W) -> DataFrame:
    """Build the D x `w` sketch from a token-occurrence stream: one
    aggregation over at most D*w groups (map-side combined — each task
    emits <= D*w partial cells regardless of input size).  Output:
    (row_idx, bucket, cell_count)."""
    t = F.col(token_col)
    cells = tokens.select(
        F.posexplode(F.array(*[_bucket(i, t, w) for i in range(CMS_D)])).alias(
            "row_idx", "bucket"
        )
    )
    return cells.groupBy("row_idx", "bucket").agg(F.count("*").alias("cell_count"))


def cms_estimates(exact: DataFrame, sketch: DataFrame, w: int = CMS_W) -> DataFrame:
    """Sketch estimates for a candidate table `exact` (token, true_count):
    each candidate probes its D cells in the broadcast sketch, estimate =
    min cell.  Returns (token, true_count, est_count) — the one place the
    probe hashing is written, shared by the query path and the error
    measurement behind APPROX.md (its tool is removed; git history has
    it)."""
    probes = exact.select(
        "token",
        "true_count",
        F.posexplode(
            F.array(*[_bucket(i, F.col("token"), w) for i in range(CMS_D)])
        ).alias("row_idx", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["row_idx", "bucket"])
        .groupBy("token", "true_count")
        .agg(F.min("cell_count").alias("est_count"))
    )


def cms_topk(tokens: DataFrame, k: int = CMS_TOP_K) -> DataFrame:
    """Heavy hitters by sketch estimate, with the exact count alongside.

    The sketch (<= D*W rows) broadcasts to the candidate side, so the
    estimate join never shuffles the corpus; the exact count is the same
    word-count aggregation the vocabulary query uses and exists here only
    to make the overestimate contract checkable by the oracle gate."""
    sketch = cms_build(tokens)
    exact = tokens.groupBy("token").agg(F.count("*").alias("true_count"))
    est = cms_estimates(exact, sketch)
    return (
        est.select("token", "est_count", "true_count")
        .orderBy(F.col("est_count").desc(), F.col("token").asc())
        .limit(k)
    )
