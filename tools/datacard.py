"""Generate DATACARD.md — the training-corpus data card, composed entirely
from registry queries (the artifact a dataset release ships alongside the
parquet: size, length distribution, quality tiers, dedup rates, source
balance).

Usage: python tools/datacard.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from airstrik_py_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("datacard")
    q = entrymod.queries()

    rollup = q["corpus_stats_rollup"](spark, sf_dir).collect()
    hist = sorted(
        q["doc_length_histogram"](spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    tiers = q["lm_perplexity_buckets"](spark, sf_dir)
    tier_counts = {
        r["ppl_bucket"]: r["n"]
        for r in tiers.groupBy("ppl_bucket").count().withColumnRenamed("count", "n").collect()
    }
    gates = q["text_quality_gates"](spark, sf_dir)
    n_docs = gates.count()
    n_kept = gates.filter("keep").count()
    dup_groups = q["dedup_exact"](spark, sf_dir)
    n_dup_docs = (
        dup_groups.selectExpr("sum(n_copies - 1) AS extra").collect()[0]["extra"] or 0
    )
    near = q["dedup_minhash_lsh"](spark, sf_dir).count()
    from pyspark.sql import functions as F

    bal = sorted(
        q["sample_domain_balance"](spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("keep_rate").alias("keep_rate"),
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
        )
        .collect(),
        key=lambda r: r["source"],
    )

    lines = [
        "# DATACARD — documents corpus (generated by tools/datacard.py)",
        "",
        f"sf_dir: `{sf_dir}`.  Every number below is produced by a registry",
        "query (same code path the driver verifies against DuckDB oracles).",
        "",
        "## Size and sources (corpus_stats_rollup)",
        "",
        "| source | lang | docs | tokens | median tokens/doc |",
        "|---|---|---|---|---|",
    ]
    for r in sorted(rollup, key=lambda r: (str(r["source"]), str(r["lang"]))):
        lines.append(
            f"| {r['source']} | {r['lang']} | {r['n_docs']} | "
            f"{r['total_tokens']} | {r['median_tokens_x2'] / 2:g} |"
        )
    lines += [
        "",
        "## Token-length distribution (doc_length_histogram)",
        "",
        "| bucket (tokens) | docs | cumulative share |",
        "|---|---|---|",
    ]
    for r in hist:
        lines.append(
            f"| {r['lo_tokens']}-{r['hi_tokens']} | {r['n_docs']} | {r['cum_doc_frac']:.1%} |"
        )
    lines += [
        "",
        "## Quality (text_quality_gates, lm_perplexity_buckets)",
        "",
        f"- Hard gates keep **{n_kept}/{n_docs}** docs ({n_kept / n_docs:.1%}).",
        f"- Perplexity tiers (equal-count): head {tier_counts.get(1, 0)}, "
        f"middle {tier_counts.get(2, 0)}, tail {tier_counts.get(3, 0)}.",
        "",
        "## Duplication (dedup_exact, dedup_minhash_lsh)",
        "",
        f"- Exact duplicates: **{n_dup_docs}** redundant copies "
        "(sum of n_copies-1 over hash groups).",
        f"- MinHash-LSH near-duplicate candidate pairs: **{near}**.",
        "",
        "## Source balance (sample_domain_balance)",
        "",
        "| source | docs | target keep rate | kept |",
        "|---|---|---|---|",
    ]
    for r in bal[:25]:
        lines.append(
            f"| {r['source']} | {r['n_docs']} | {r['keep_rate']} | {r['n_kept']} |"
        )

    pcts = sorted(
        q["doc_length_percentiles"](spark, sf_dir).collect(),
        key=lambda r: str(r["lang"]),
    )
    cov = q["dup_ngram_coverage"](spark, sf_dir).agg(
        F.round(F.avg("dup_coverage"), 4).alias("avg_cov"),
        F.round(
            F.avg((F.col("dup_coverage") > 0.5).cast("double")), 4
        ).alias("frac_heavy"),
    ).collect()[0]
    oov = sorted(
        q["vocab_oov_coverage"](spark, sf_dir).collect(),
        key=lambda r: str(r["source"]),
    )
    lrq = q["quality_lr_score"](spark, sf_dir)
    lr_agree = lrq.filter(
        (F.col("predicted") & (F.col("label") == 1))
        | (~F.col("predicted") & (F.col("label") == 0))
    ).count() / max(lrq.count(), 1)
    mix = sorted(
        q["mixture_weights_temperature"](spark, sf_dir).collect(),
        key=lambda r: str(r["source"]),
    )
    lines += [
        "",
        "## Length percentiles by language (doc_length_percentiles)",
        "",
        "| lang | docs | p50 chars | p90 | p99 |",
        "|---|---|---|---|---|",
    ]
    for r in pcts:
        lines.append(
            f"| {r['lang']} | {r['n_docs']} | {r['p50_chars']} | "
            f"{r['p90_chars']} | {r['p99_chars']} |"
        )
    lines += [
        "",
        "## Substring duplication (dup_ngram_coverage)",
        "",
        f"- Mean duplicated-3-gram coverage: **{cov['avg_cov']:.2%}**; "
        f"docs over 50% coverage: {cov['frac_heavy']:.1%}.",
        "",
        "## Vocabulary coverage (vocab_oov_coverage, top-20 vocab)",
        "",
        f"- Source coverage range: "
        f"{min(r['coverage'] for r in oov):.1%} – "
        f"{max(r['coverage'] for r in oov):.1%} of token instances.",
        "",
        "## Soft quality score (quality_lr_score)",
        "",
        f"- On-engine LR (3 GD rounds) agrees with the hard gates on "
        f"**{lr_agree:.1%}** of docs (threshold logit>0).",
        "",
        "## Sampling-temperature mix (mixture_weights_temperature, alpha=0.5)",
        "",
        "| source | docs | tokens | mix weight |",
        "|---|---|---|---|",
    ]
    for r in mix[:25]:
        lines.append(
            f"| {r['source']} | {r['n_docs']} | {r['n_tokens']} | {r['mix_weight']} |"
        )
    lines.append("")

    with open(ROOT / "DATACARD.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote DATACARD.md ({n_docs} docs, {len(hist)} length buckets)")


if __name__ == "__main__":
    main()
