"""tools/bench_ab.py pure logic — the A/B artifact generator's
non-subprocess parts (median, baseline resolution, ABBA interleave) so
the tool can't silently rot between rounds."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools import bench_ab


def test_median():
    assert bench_ab.median([3.0]) == 3.0
    assert bench_ab.median([1.0, 9.0]) == 5.0
    assert bench_ab.median([9.0, 1.0, 5.0]) == 5.0
    assert bench_ab.median([4.0, 1.0, 9.0, 5.0]) == 4.5


def test_default_baseline_is_commit_of_newest_bench(monkeypatch):
    """default_baseline must resolve to the commit that last touched the
    HIGHEST-numbered BENCH_r*.json by PARSED round number — an unpadded
    BENCH_r9 or a three-digit BENCH_r100 must not win a string sort
    (ADVICE r12)."""
    seen = {}

    def fake_git(*args, cwd=None):
        seen["args"] = args
        return "abc123"

    monkeypatch.setattr(bench_ab, "_git", fake_git)
    monkeypatch.setattr(
        bench_ab.os, "listdir",
        lambda _p: ["BENCH_r02.json", "BENCH_r9.json", "BENCH_r100.json",
                    "BENCH_r11.json", "CORRECTNESS_r11.json"],
    )
    assert bench_ab.default_baseline() == "abc123"
    assert seen["args"][-1] == "BENCH_r100.json"


def test_main_refuses_dirty_head(monkeypatch):
    """A dirty working tree must be a hard refusal (VERDICT r12 #3): the
    artifact's head_sha would not identify the code measured.  The refusal
    must fire BEFORE any worktree is created."""

    def fake_git(*args, cwd=None):
        if args[0] == "status":
            return " M some_file.py"
        if args[0] == "rev-parse":
            return "deadbeef" * 5
        if args[0] == "log":
            return "deadbeef" * 5
        raise AssertionError(f"unexpected git call before refusal: {args}")

    monkeypatch.setattr(bench_ab, "_git", fake_git)
    monkeypatch.setattr(
        bench_ab.os, "listdir", lambda _p: ["BENCH_r12.json"]
    )
    monkeypatch.setattr(bench_ab.sys, "argv", ["bench_ab.py"])
    try:
        bench_ab.main()
    except SystemExit as e:
        assert "dirty" in str(e)
    else:
        raise AssertionError("expected SystemExit on dirty HEAD")


def test_run_bench_parses_json_line_through_progress_noise(monkeypatch, tmp_path):
    """The bench JSON line must be found even when carriage-return progress
    bars share the stream (the stdout-swallowing gotcha in the verify
    skill)."""
    payload = {"metric": "headline_queries_total_sec", "value": 1.5,
               "queries": {"q": 1.5}, "original10_total_sec": 1.5}

    class P:
        returncode = 0
        stderr = ""
        stdout = ("[Stage 1:>    ]\r[Stage 2:>  ]\r" + json.dumps(payload)
                  + "\ntrailing log line\n")

    monkeypatch.setattr(bench_ab.subprocess, "run", lambda *a, **k: P())
    got = bench_ab.run_bench(str(tmp_path), "/x", 3)
    assert got["value"] == 1.5


def test_run_bench_raises_on_failure(monkeypatch, tmp_path):
    class P:
        returncode = 2
        stderr = "boom"
        stdout = ""

    monkeypatch.setattr(bench_ab.subprocess, "run", lambda *a, **k: P())
    try:
        bench_ab.run_bench(str(tmp_path), "/x", 3)
    except RuntimeError as e:
        assert "boom" in str(e)
    else:
        raise AssertionError("expected RuntimeError")


def test_parse_seeds():
    assert bench_ab.parse_seeds("3-6") == [3, 4, 5, 6]
    assert bench_ab.parse_seeds("7") == [7]


def test_summarize_pairs_claim_rule():
    """The claim needs 9/10 pairs won AND a median gap larger than the
    baseline's interquartile range; ties count for neither side."""
    base = [10.0, 11.0, 12.0, 10.5, 11.5, 12.5, 10.2, 11.2, 12.2, 11.8]
    head = [b - 3.0 for b in base]
    met = bench_ab.summarize_pairs(base, head, "lower", 0.25)
    assert (met["wins"], met["losses"], met["pairs"]) == (10, 0, 10)
    assert met["base_median"] == 11.35
    assert met["base_iqr"] == met["base_q3"] - met["base_q1"] > 0
    assert met["claim_met"] and met["within_bound"]

    # every pair won, but by less than the baseline's own spread
    small = bench_ab.summarize_pairs(base, [b - 0.1 for b in base], "lower", 0.25)
    assert small["wins"] == 10 and not small["claim_met"]

    # a big gap, but two of ten pairs tied: 8/10 won is short of 9/10
    tied = head[:8] + base[8:]
    short = bench_ab.summarize_pairs(base, tied, "lower", 0.25)
    assert (short["wins"], short["losses"]) == (8, 0)
    assert not short["claim_met"]

    # "higher is better" flips the direction of wins and of the bound
    up = bench_ab.summarize_pairs(base, head, "higher", 0.25)
    assert up["losses"] == 10 and not up["claim_met"] and not up["within_bound"]


def test_summarize_pairs_bound():
    """within_bound: the change's median is no worse than the baseline's
    by more than the bound's fraction of the baseline median."""
    base = [100.0, 100.0, 100.0]
    assert bench_ab.summarize_pairs(base, [124.0] * 3, "lower", 0.25)["within_bound"]
    assert not bench_ab.summarize_pairs(base, [126.0] * 3, "lower", 0.25)["within_bound"]


def test_perfbench_ab_alternates_and_summarizes(monkeypatch, tmp_path):
    """One pair per seed in ABBA order.  A run that printed no result is
    counted as bad, its pair is left out of the medians and counts as not
    won, and the change's extra bad run alone denies the claim."""
    calls = []
    broken = set()

    def fake_run(tree, workload, seed, seconds):
        side = "base" if tree == "BASE" else "head"
        calls.append((seed, side))
        if (seed, side) in broken:
            return {"error": "rc=1: boom"}
        v = 10.0 if side == "base" else 7.0
        return {
            "correct": True, "attempted": 1, "failed": 0,
            "metrics": {"latency_p50_ms": {"value": v + seed, "unit": "ms"},
                        "setup_s": {"value": 5.0, "unit": "s"}},
        }

    monkeypatch.setattr(bench_ab, "run_perfbench", fake_run)

    class Args:
        perfbench = "replay_drain"
        seeds = "1-4"

    out = bench_ab.perfbench_ab(Args, "BASE")
    assert calls == [(1, "base"), (1, "head"), (2, "head"), (2, "base"),
                     (3, "base"), (3, "head"), (4, "head"), (4, "base")]
    assert out["bad_runs"] == {"base": 0, "head": 0}
    lat = out["summary"]["latency_p50_ms"]
    assert (lat["pairs"], lat["wins"], lat["win_frac"]) == (4, 4, 1.0)
    assert lat["claim_met"]
    setup = out["summary"]["setup_s"]
    assert (setup["wins"], setup["losses"]) == (0, 0) and not setup["claim_met"]

    broken.add((3, "head"))
    out = bench_ab.perfbench_ab(Args, "BASE")
    assert out["bad_runs"] == {"base": 0, "head": 1}
    lat = out["summary"]["latency_p50_ms"]
    assert (lat["pairs"], lat["wins"], lat["win_frac"]) == (3, 3, 0.75)
    assert not lat["claim_met"]
