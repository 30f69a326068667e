"""Pipeline-op invariants for the quality gates / rollup / split queries
(value-level parity is the DuckDB oracle's job — tools/check.py)."""

from __future__ import annotations

from airstrik_py_spark.registry import text_q

SF = "/root/testdata/sf0.001"


def test_quality_gates_keep_is_and_of_gates(spark):
    rows = text_q.q_text_quality_gates(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["keep"] == (
            r["gate_word_count"]
            and r["gate_avg_word_len"]
            and r["gate_has_stopword"]
            and r["gate_repetition"]
        )
        assert 0.0 <= r["dup_3gram_frac"] <= 1.0


def test_corpus_rollup_totals_cover_all_docs(spark):
    from airstrik_py_spark.sources.tables import load_table

    rollup = text_q.q_corpus_stats_rollup(spark, SF)
    n = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rollup.collect()) == n


def test_split_deterministic_and_roughly_75(spark):
    a = text_q.q_split_train_eval(spark, SF)
    rows = a.collect()
    frac = sum(1 for r in rows if r["split"] == "train") / len(rows)
    assert 0.55 < frac < 0.9  # md5 nibble < 'c' is 12/16 = 0.75 in expectation
    again = text_q.q_split_train_eval(spark, SF).collect()
    assert sorted((r["doc_id"], r["split"]) for r in rows) == sorted(
        (r["doc_id"], r["split"]) for r in again
    )


def test_eval_contamination_bounds_and_coverage(spark):
    from airstrik_py_spark.registry.extras_q import q_eval_contamination

    rows = q_eval_contamination(spark, SF).collect()
    assert rows
    splits = {
        r["doc_id"]: r["split"] for r in text_q.q_split_train_eval(spark, SF).collect()
    }
    for r in rows:
        assert splits[r["doc_id"]] == "eval"  # only eval docs scored
        assert 0 <= r["n_contaminated"] <= r["n_grams"]
        assert 0.0 <= r["contamination"] <= 1.0


def test_corpus_rollup_integer_exact_vs_python(spark):
    """The r4 integer-exact contract: avg_chars_micro is round-half-away
    ((sum*1e6)/count) by pure integer math and median_tokens_x2 is the
    half-sum-of-middles doubled — recomputed here from scratch in Python
    over the raw fixture, no engine aggregate trusted."""
    import statistics

    from airstrik_py_spark.sources.tables import load_table

    raw = load_table(spark, SF, "documents").select(
        "source", "lang", "n_chars", "text"
    ).collect()
    groups = {}
    for r in raw:
        groups.setdefault((r["source"], r["lang"]), []).append(
            (r["n_chars"], len(r["text"].split(" ")))
        )
    out = {
        (r["source"], r["lang"]): r
        for r in text_q.q_corpus_stats_rollup(spark, SF).collect()
    }
    assert set(out) == set(groups)
    for key, vals in groups.items():
        chars = [c for c, _ in vals]
        toks = sorted(t for _, t in vals)
        n = len(vals)
        want_avg = (sum(chars) * 2_000_000 + n) // (2 * n)
        mid = n // 2
        want_med2 = (
            2 * toks[mid] if n % 2 else toks[mid - 1] + toks[mid]
        )
        assert out[key]["avg_chars_micro"] == want_avg, key
        assert out[key]["median_tokens_x2"] == want_med2, key
        assert int(statistics.median(toks) * 2) == want_med2
