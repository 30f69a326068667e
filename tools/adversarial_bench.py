#!/usr/bin/env python3
"""Adversarial-scale measurements (VERDICT r8 #1) over the --adversarial
fixtures from tools/gen_scale.py.  Three planted pathologies, three
measured claims:

  viral     the df-cap is what stands between an inverted-index join and
            df^2 candidate pairs on ONE hot shingle: measure wall + final
            pairs capped vs uncapped, adversarial vs benign.
  hot-key   one hex carrying 20% of all rows: measure the hex-partitioned
            window/session lanes benign vs adversarial (the skew lands in
            ONE task per window lane; remedies in SKEW.md).
  manifold  clustered (non-isotropic) embeddings with planted near-dups
            at exact cosines {0.99,0.95,0.9,0.8}: per-tier recall of the
            auto-width knn_graph, plus IVF-kmeans recall@10 vs brute.

Usage: python tools/adversarial_bench.py <benign_dir> <adversarial_dir>
       [--uncapped-budget SECS]

Markdown tables to stdout (paste targets: SCALE.md / SKEW.md / RECALL.md).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from airstrik_py_spark.operators import similarity as SIM  # noqa: E402
from airstrik_py_spark.operators.dedup import ngram_jaccard_pairs  # noqa: E402
from airstrik_py_spark.registry.dedup_q import JACCARD_THRESHOLD  # noqa: E402
from airstrik_py_spark.session import get_spark, pin_session  # noqa: E402
from airstrik_py_spark.sources.tables import load_table  # noqa: E402

sys.path.insert(0, str(ROOT / "tools"))
from gen_scale import PLANT_COSINES, planted_pairs  # noqa: E402

UNCAPPED = 1 << 30


def _timed(thunk):
    t0 = time.monotonic()
    out = thunk()
    return time.monotonic() - t0, out


def viral_section(spark, benign: str, adv: str) -> None:
    print("\n## Viral-shingle df-cap measurement\n")
    print("| fixture | df_max | wall s | final pairs |")
    print("|---|---|---|---|")
    for tag, sf_dir in (("benign", benign), ("adversarial", adv)):
        docs = load_table(spark, sf_dir, "documents")
        docs.count()  # warm the scan before any timed run
        for cap_tag, cap in (("50 (default)", None), ("uncapped", UNCAPPED)):
            kw = {} if cap is None else {"df_max": cap}
            secs, pairs = min(
                _timed(
                    lambda d=docs, k=kw: ngram_jaccard_pairs(
                        d, JACCARD_THRESHOLD, **k
                    ).count()
                )
                for _ in range(2)
            )
            print(f"| {tag} | {cap_tag} | {secs:.1f} | {pairs} |")
    # recall of the capped run vs the uncapped run on the SAME fixture
    docs = load_table(spark, adv, "documents")
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, JACCARD_THRESHOLD)
        .select("doc_a", "doc_b").collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, JACCARD_THRESHOLD, df_max=UNCAPPED)
        .select("doc_a", "doc_b").collect()
    }
    inter = len(capped & uncapped)
    print(
        f"\ncapped-vs-uncapped on adversarial: recall "
        f"{inter}/{len(uncapped)} = {inter / max(len(uncapped), 1):.3f}, "
        f"extra {len(capped - uncapped)}"
    )


HOT_QUERIES = (
    "events_sessionize",
    "filter_decimation",
    "agg_trip_assembly",
    "events_value_rolling_sum",
)


def hotkey_section(spark, benign: str, adv: str) -> None:
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    print("\n## Hot-key (20% of rows on one hex) window/session lanes\n")
    print("| query | benign s | adversarial s | ratio |")
    print("|---|---|---|---|")
    for name in HOT_QUERIES:
        fn = queries[name]
        t_b = min(
            _timed(lambda: fn(spark, benign).write.format("noop").mode("overwrite").save())[0]
            for _ in range(3)
        )
        t_a = min(
            _timed(lambda: fn(spark, adv).write.format("noop").mode("overwrite").save())[0]
            for _ in range(3)
        )
        print(f"| {name} | {t_b:.2f} | {t_a:.2f} | {t_a / t_b:.2f}x |")


def manifold_section(spark, adv: str) -> None:
    emb = load_table(spark, adv, "embeddings")
    n = emb.count()
    plants = planted_pairs(n)
    print(f"\n## Clustered-manifold recall ({n} vecs, {len(plants)} planted pairs)\n")
    edges = {
        (r["src_id"], r["dst_id"])
        for r in SIM.knn_graph(emb).select("src_id", "dst_id").collect()
    }
    print("| target cos | planted | knn_graph recall |")
    print("|---|---|---|")
    for cos_t in PLANT_COSINES:
        tier = [(a, b) for a, b, c in plants if c == cos_t]
        hit = sum(1 for a, b in tier if (a, b) in edges or (b, a) in edges)
        print(f"| {cos_t} | {len(tier)} | {hit / max(len(tier), 1):.3f} |")
    # IVF-kmeans recall@10 vs exact brute force on the manifold
    k, nq = 10, 500
    brute = SIM.ann_bruteforce(emb, n_queries=nq, k=k)
    bset = {
        (r["query_id"], r["neighbor_id"])
        for r in brute.select("query_id", "neighbor_id").collect()
    }
    ivf = SIM.ann_ivf_kmeans(emb, n_queries=nq, k=k)
    iset = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf.select("query_id", "neighbor_id").collect()
    }
    rec = len(bset & iset) / max(len(bset), 1)
    print(f"\nann_ivf_kmeans recall@{k} vs brute on manifold: {rec:.3f} "
          f"(isotropic baseline was 0.12, RECALL.md)")


def main() -> None:
    benign = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    adv = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1adv"
    spark = get_spark("adversarial-bench")
    pin_session(spark)
    print(f"# Adversarial sweep: benign={benign} adversarial={adv}")
    viral_section(spark, benign, adv)
    hotkey_section(spark, benign, adv)
    manifold_section(spark, adv)


if __name__ == "__main__":
    main()
