"""Measure the skew remedies SCALE.md prescribes, on a deliberately hot
key — writes SKEW.md.

Honesty note up front: algebraic aggregates (sum/count) do NOT suffer from
hot GROUP keys on Spark — map-side partial aggregation spreads the work
regardless of key skew — so this bench does not pretend otherwise.  The
shapes that genuinely concentrate a hot key in one task are:

  1. a WINDOW partitioned by the hot key (every row of the key lands in
     one task's sort/stream) vs the groupBy + broadcast join-back form
     the engine uses (playbook rule: "hot-key count: groupBy + filtered
     join-back beats count-over-window");
  2. a shuffle JOIN on the hot key (one reducer receives the key's whole
     probe side) vs the salted broadcast join (operators/skew.py).

Usage: python tools/skew_bench.py [sf_dir] [replicate] [hot_frac]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from airstrik_py_spark.operators.skew import salted_broadcast_join  # noqa: E402
from airstrik_py_spark.session import get_spark, pin_session  # noqa: E402
from airstrik_py_spark.sources.tables import load_table  # noqa: E402


def best_of(n: int, fn) -> float:
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    hot_frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.9

    spark = pin_session(get_spark("skew_bench"))
    ev = load_table(spark, sf_dir, "events")

    # Amplify: replicate rows and send `hot_frac` of them to ONE key.
    skewed = (
        ev.select("event_id", "user_id", "value")
        .withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(replicate))))
        .withColumn(
            "user_id",
            F.when(
                (F.xxhash64("event_id", "rep") % 100)
                < int(hot_frac * 100),
                F.lit(0),
            ).otherwise(F.col("user_id") + 1),
        )
        .drop("rep")
        .localCheckpoint()  # freeze the input so both forms read identical data
    )
    n = skewed.count()
    n_hot = skewed.filter(F.col("user_id") == 0).count()

    # --- shape 1: per-row count of the row's key --------------------------
    def via_window():
        w = Window.partitionBy("user_id")
        skewed.select("event_id", F.count("*").over(w).alias("n")).filter(
            F.col("n") < 0
        ).count()  # filter(false): forces full evaluation, collects nothing

    def via_joinback():
        cnt = skewed.groupBy("user_id").agg(F.count("*").alias("n"))
        skewed.join(F.broadcast(cnt), "user_id").filter(
            F.col("n") < 0
        ).count()

    t_window = best_of(3, via_window)
    t_join = best_of(3, via_joinback)

    # --- shape 2: hot-key join against a per-user dim ---------------------
    dim = skewed.groupBy("user_id").agg(F.avg("value").alias("dim_val"))
    dim.localCheckpoint().count()

    def plain_shuffle_join():
        skewed.join(dim.hint("shuffle_hash"), "user_id").filter(
            F.col("dim_val").isNull()
        ).count()

    def salted_join():
        salted_broadcast_join(skewed, dim, "user_id").filter(
            F.col("dim_val").isNull()
        ).count()

    t_plain = best_of(3, plain_shuffle_join)
    t_salted = best_of(3, salted_join)

    with open(ROOT / "SKEW.md", "w") as f:
        f.write(
            "# SKEW — measured hot-key remedies (tools/skew_bench.py)\n\n"
            f"sf_dir: `{sf_dir}`, events replicated x{replicate} = {n} rows, "
            f"{n_hot} ({n_hot / n:.0%}) on ONE key; best-of-3 full\n"
            "evaluations (filter(false)+count so nothing is collected).\n"
            "Algebraic aggregates are deliberately NOT benched: map-side\n"
            "partial aggregation makes sum/count skew-immune on Spark, and\n"
            "pretending otherwise would be a fake win.\n\n"
            "| shape | hot-key-in-one-task form | sec | skew-safe form | sec |\n"
            "|---|---|---|---|---|\n"
            f"| per-row key count | count over Window.partitionBy(key) | "
            f"{t_window:.2f} | groupBy + broadcast join-back | {t_join:.2f} |\n"
            f"| key join to dim | shuffle-hash join on hot key | "
            f"{t_plain:.2f} | salted broadcast join (S=16) | {t_salted:.2f} |\n\n"
            "The window form funnels the hot key's rows through one task's\n"
            "sort; the join-back spreads them across all input partitions\n"
            "with the counts broadcast.  The salted join replicates the\n"
            "small side so the hot probe key fans across S tasks — at this\n"
            "local scale the plain join's single hot reducer is measurable\n"
            "but not fatal; at 10^12 rows it is the difference between a\n"
            "task that finishes and one that spills forever (SCALE.md 3).\n"
        )
    print(
        f"window={t_window:.2f}s joinback={t_join:.2f}s "
        f"plain_join={t_plain:.2f}s salted_join={t_salted:.2f}s"
    )


if __name__ == "__main__":
    main()
