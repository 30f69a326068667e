"""Measure the documented 100 TB approximate swaps against their exact
local forms at the bench SF and write APPROX.md — evidence that the
scale substitutions (approx_count_distinct for the stats rollup,
approx_percentile for the length/latency percentiles) hold the accuracy
the scale notes claim.

Usage: python tools/approx_error.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from airstrik_py_spark.session import get_spark, pin_session  # noqa: E402
from airstrik_py_spark.sources.tables import load_table, observations  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = pin_session(get_spark("approx"))
    lines = [
        "# APPROX — measured error of the documented scale swaps",
        "",
        f"sf_dir: `{sf_dir}`.  Each row compares the exact local form the",
        "oracle verifies against the mergeable approximate form the scale",
        "notes prescribe for 100 TB (SCALE.md §5).",
        "",
    ]

    # 1. approx_count_distinct vs exact countDistinct (daily stats shape)
    obs = observations(spark, sf_dir)
    day = F.to_date(F.timestamp_seconds(F.col("ts_sec")))
    per_day = obs.groupBy(day.alias("day")).agg(
        F.countDistinct("hex").alias("exact"),
        F.approx_count_distinct("hex").alias("approx"),
    )
    rows = per_day.collect()
    errs = [abs(r["approx"] - r["exact"]) / max(r["exact"], 1) for r in rows]
    lines += [
        "## approx_count_distinct vs countDistinct (A1 daily stats)",
        "",
        f"- {len(rows)} day groups; max relative error "
        f"**{max(errs):.3%}**, mean {sum(errs) / len(errs):.3%} "
        "(HLL++ default rsd 5%).",
        "",
    ]

    # 2. approx_percentile vs exact percentile (doc length percentiles)
    docs = load_table(spark, sf_dir, "documents")
    cmp_rows = (
        docs.groupBy("lang")
        .agg(
            F.percentile(F.col("n_chars"), F.lit(0.9)).alias("exact_p90"),
            F.expr("approx_percentile(n_chars, 0.9, 10000)").alias("approx_p90"),
        )
        .collect()
    )
    perrs = [
        abs(r["approx_p90"] - r["exact_p90"]) / max(r["exact_p90"], 1)
        for r in cmp_rows
    ]
    lines += [
        "## approx_percentile vs exact percentile (doc length p90)",
        "",
        f"- {len(cmp_rows)} language groups; max relative error "
        f"**{max(perrs):.3%}** at accuracy=10000.",
        "",
    ]

    # 2b. MAD anomaly flags: exact rank-median vs approx_percentile twin
    # (the documented swap in value_anomalies_mad's docstring) — the
    # decision-level metric is flag agreement, not median error
    from airstrik_py_spark.operators.events import value_anomalies_mad

    ev = load_table(spark, sf_dir, "events")
    exact_flags = {
        r["event_id"] for r in value_anomalies_mad(ev).select("event_id").collect()
    }
    v = ev.select("event_id", "user_id", "value").filter(
        F.col("value").isNotNull()
    )
    med_a = v.groupBy("user_id").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("med")
    )
    dev_a = v.join(med_a, "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad_a = dev_a.groupBy("user_id").agg(
        F.expr("approx_percentile(adev, 0.5, 10000)").alias("mad")
    )
    approx_flags = {
        r["event_id"]
        for r in dev_a.join(mad_a, "user_id")
        .filter((F.col("mad") > 0) & (F.col("adev") > 3.0 * F.col("mad")))
        .select("event_id")
        .collect()
    }
    inter = len(exact_flags & approx_flags)
    union = len(exact_flags | approx_flags) or 1
    lines += [
        "## approx_percentile MAD twin vs exact rank-median "
        "(events_anomaly_mad)",
        "",
        f"- exact flags {len(exact_flags)}, approx flags "
        f"{len(approx_flags)}, agreement (Jaccard) **{inter / union:.3%}** "
        "at accuracy=10000 — the decision set, not just the medians, "
        "survives the swap.",
        "",
    ]

    # 3. count-min sketch estimate vs exact token counts (sketch_cms_topk)
    from airstrik_py_spark.operators import sketch as SK

    tok = docs.select(F.explode(F.split("text", " ")).alias("token"))
    sketch = SK.cms_build(tok)
    exact_tok = tok.groupBy("token").agg(F.count("*").alias("true_count"))
    est_rows = SK.cms_estimates(exact_tok, sketch).collect()
    overs = [r["est_count"] - r["true_count"] for r in est_rows]
    rel = [o / max(r["true_count"], 1) for o, r in zip(overs, est_rows)]
    n_exact = sum(1 for o in overs if o == 0)
    assert all(o >= 0 for o in overs), "CMS underestimated — contract broken"

    # Same stream through a deliberately-undersized sketch (W=4 for a
    # ~31-token vocab) to show the collision-error scaling the W knob buys.
    w_small = 4
    sk_small = SK.cms_build(tok, w=w_small)
    small_rows = SK.cms_estimates(exact_tok, sk_small, w=w_small).collect()
    s_overs = [r["est_count"] - r["true_count"] for r in small_rows]
    s_rel = [o / max(r["true_count"], 1) for o, r in zip(s_overs, small_rows)]
    assert all(o >= 0 for o in s_overs)
    total_mass = sum(r["true_count"] for r in small_rows)
    lines += [
        f"## count-min sketch (D={SK.CMS_D} x W={SK.CMS_W}) vs exact token counts",
        "",
        f"- {len(est_rows)} distinct tokens; {n_exact} estimated exactly; "
        f"max overestimate **{max(overs)}** occurrences "
        f"(max relative {max(rel):.3%}); never underestimates (one-sided "
        "contract asserted here and oracle-gated in sketch_cms_topk).",
        f"- undersized control (W={w_small}, forced collisions): max "
        f"overestimate {max(s_overs)} (relative {max(s_rel):.3%}), mean "
        f"{sum(s_overs) / len(s_overs):.1f} vs the e*M/W bound "
        f"{2.72 * total_mass / w_small:.0f} — the W knob converts memory "
        "directly into accuracy, independent of stream size.",
        "",
        "All swaps are drop-in: same grouping keys, same output shape —",
        "the operator docstrings (operators/stats.py, operators/corpus.py)",
        "name the exact<->approx pair and this file records the measured",
        "gap at the bench SF.",
        "",
    ]

    with open(ROOT / "APPROX.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote APPROX.md")


if __name__ == "__main__":
    main()
