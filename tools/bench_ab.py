"""Paired interleaved bench A/B: this tree vs a baseline commit (VERDICT
r11 #1).

The standing rule (learned r11, where BENCH_r11 read +35% vs BENCH_r10 and
the entire delta turned out to be box state): never believe a
round-over-round bench regression without a PAIRED A/B on the same box at
the same moment.  r11's A/B lived only in ROUNDLOG prose — this tool makes
it a committed, machine-checkable artifact.

What it does:
  * extracts the baseline ref into a throwaway directory,
  * runs `python bench.py` alternately in the baseline tree and in this
    tree (ABBA order, so slow box drift cancels instead of biasing one
    side), N pairs total,
  * writes per-query paired medians + deltas and the raw per-run samples
    to the output JSON.

Usage:
  python tools/bench_ab.py [--baseline REF] [--pairs N] [--runs-per-query K]
                           [--sf-dir DIR] [--out FILE]
  python tools/bench_ab.py --perfbench WORKLOAD --seeds A-B [--baseline REF]
                           [--out FILE]

Defaults: baseline = the commit that last touched the newest BENCH_r*.json
(i.e. the tree the prior round's recorded bench measured), pairs = 5
(VERDICT r14 #2 — 3 pairs left the noise floor near the deltas being
judged), runs-per-query = 3 (SPARK_GRAFT_BENCH_RUNS for both sides),
out = BENCH_AB.json in the repo root.

The standing cross-round anchor is BENCH_ANCHOR.json: a committed A/B of
a round tree vs the ROUND-1 tree (the BASELINE.md measurement vintage),
refreshed with `--baseline <r01-bench-commit> --out BENCH_ANCHOR.json`.
Its common-set delta is the number to quote for "how far from the
original baseline are we" — per-round BENCH_r*.json totals are NOT
cross-comparable (box state dominates; r11 and r14 both proved it).

Reading the result: `delta_pct` per query and for the totals is
(head - base) / base * 100 over paired medians.  A delta inside the paired
spread is noise; only a delta that holds across every pair is code.

--perfbench mode runs the repository benchmark instead: one
`perfbench/run.py --workload WORKLOAD --seed S --trace 0` per side for
each seed S in A..B (one pair per seed, ABBA order, BENCHMARK.json's
run_seconds on both sides).  The baseline defaults to HEAD's parent.  The
output keeps every run's metrics and, per end-to-end metric, each side's
median and quartiles, the fraction of pairs the change won (ties count
for neither side), the median change against BENCHMARK.json's bound, and
`claim_met`: the change won at least 9 of 10 pairs and its median beats
the baseline's by more than the baseline's interquartile range.

The baseline tree is the baseline commit's files, extracted with
`git archive` into a temporary directory that is removed afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
    ).stdout.strip()


def default_baseline() -> str:
    """The commit that last touched the newest BENCH_r*.json — the tree the
    prior round's recorded bench numbers actually measured.  "Newest" is by
    the parsed round NUMBER, not lexicographic order (an unpadded BENCH_r9
    or a future BENCH_r100 would silently win a string sort)."""
    benches = [
        (int(m.group(1)), f)
        for f in os.listdir(REPO)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    if not benches:
        raise SystemExit("no BENCH_r*.json found; pass --baseline explicitly")
    return _git("log", "-1", "--format=%H", "--", max(benches)[1])


def run_bench(tree: str, sf_dir: str, runs_per_query: int) -> dict:
    """One `python bench.py` invocation in `tree`; returns its JSON line."""
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_RUNS=str(runs_per_query),
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"], cwd=tree, env=env,
        capture_output=True, text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench.py failed in {tree} (rc={proc.returncode}):\n"
            f"{proc.stderr[-2000:]}"
        )
    # progress bars share carriage returns with stdout; scan every CR/LF
    # fragment for the single JSON result line
    for line in reversed(proc.stdout.replace("\r", "\n").splitlines()):
        line = line.strip()
        if line.startswith('{"metric"'):
            return json.loads(line)
    raise RuntimeError(f"no bench JSON line in stdout from {tree}")


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


@contextmanager
def baseline_tree(sha: str) -> Iterator[str]:
    """The files of commit `sha` in a fresh temporary directory, removed on
    exit.  Nothing is registered in the repository, so an interrupted run
    leaves nothing that the next one has to clean up."""
    tree = tempfile.mkdtemp(prefix=f"bench_ab_{sha[:12]}_")
    try:
        archive = subprocess.run(
            ["git", "archive", sha], cwd=REPO, check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
        yield tree
    finally:
        shutil.rmtree(tree, ignore_errors=True)


def parse_seeds(spec: str) -> list[int]:
    """'A-B' -> [A, ..., B]; a single 'A' -> [A]."""
    lo, _, hi = spec.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise ValueError(f"empty seed range {spec!r}")
    return seeds


def run_perfbench(tree: str, workload: str, seed: int, seconds: int) -> dict:
    """One untraced `perfbench/run.py` run in `tree`; returns its JSON
    line, or {"error": ...} when the run did not produce one."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"rc={proc.returncode}: {proc.stderr[-2000:]}"}
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize_pairs(
    base: list[float], head: list[float], better: str, bound: float, pairs_run: int | None = None
) -> dict:
    """Paired comparison of one metric; base[i] and head[i] are pair i.

    A pair is won when the change's value is strictly better.  The claim
    rule: at least 9/10 of all `pairs_run` pairs won (default: the pairs
    given; a pair with a failed run counts as not won), and the median
    gap in the better direction larger than the baseline's interquartile
    range.  `within_bound`: the change's median is no worse than the
    baseline's by more than `bound` (a fraction of the baseline median)."""
    pairs_run = len(base) if pairs_run is None else pairs_run
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(sign * (b - h) > 0 for b, h in zip(base, head))
    losses = sum(sign * (b - h) < 0 for b, h in zip(base, head))
    bq, hq = quartiles(base), quartiles(head)
    base_iqr = bq[2] - bq[0]
    gap = sign * (bq[1] - hq[1])
    return {
        "pairs": len(base),
        "wins": wins,
        "losses": losses,
        "win_frac": wins / pairs_run,
        "base_median": bq[1],
        "base_q1": bq[0],
        "base_q3": bq[2],
        "base_iqr": base_iqr,
        "head_median": hq[1],
        "head_q1": hq[0],
        "head_q3": hq[2],
        "head_iqr": hq[2] - hq[0],
        "delta_frac": (hq[1] - bq[1]) / bq[1] if bq[1] else None,
        "within_bound": -gap <= bound * abs(bq[1]),
        "claim_met": wins >= 0.9 * pairs_run and gap > base_iqr,
    }


def bad_runs(runs: list[dict]) -> dict[str, int]:
    """Per side, the runs that printed no result or whose outputs failed
    their check."""
    return {side: sum(not r[side].get("correct", False) for r in runs) for side in ("base", "head")}


def summarize_perfbench(runs: list[dict], spec: dict) -> dict:
    """Per end-to-end metric of BENCHMARK.json, the paired summary over
    the pairs in which both sides reported the metric.  No claim is met
    when the change has more bad runs than the baseline."""
    bad = bad_runs(runs)
    out = {}
    for m in spec["end_to_end"]:
        name = m["name"]
        pairs = [
            (r["base"]["metrics"][name]["value"], r["head"]["metrics"][name]["value"])
            for r in runs
            if all(name in r[side].get("metrics", {}) for side in ("base", "head"))
        ]
        if pairs:
            base, head = (list(xs) for xs in zip(*pairs))
            out[name] = summarize_pairs(base, head, m["better"], m["bound"], len(runs))
            out[name]["claim_met"] &= bad["head"] <= bad["base"]
    return out


def perfbench_ab(args, base_tree: str) -> dict:
    """ABBA runs of one perfbench workload, one pair per seed."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        legs = [("base", base_tree), ("head", REPO)]
        if i % 2:
            legs.reverse()
        pair = {"seed": seed, "order": [side for side, _ in legs]}
        for side, tree in legs:
            t0 = time.time()
            pair[side] = res = run_perfbench(tree, args.perfbench, seed, spec["run_seconds"])
            print(f"[seed {seed}] {side}: {json.dumps(res.get('metrics', res))} "
                  f"(wall {time.time() - t0:.1f}s)", flush=True)
        runs.append(pair)
    return {
        "workload": args.perfbench,
        "seeds": args.seeds,
        "run_seconds": spec["run_seconds"],
        "runs": runs,
        "bad_runs": bad_runs(runs),
        "summary": summarize_perfbench(runs, spec),
    }


def bench_queries(args, wt: str, meta: dict) -> int:
    """Paired `bench.py` runs: the baseline tree at `wt` against this tree."""
    base_runs: list[dict] = []
    head_runs: list[dict] = []
    order_log: list[str] = []
    for i in range(args.pairs):
        # ABBA: alternate which side goes first so monotone box drift
        # adds to both sides equally instead of biasing the second seat
        legs = (
            [("base", wt), ("head", REPO)]
            if i % 2 == 0
            else [("head", REPO), ("base", wt)]
        )
        for side, tree in legs:
            t0 = time.time()
            res = run_bench(tree, args.sf_dir, args.runs_per_query)
            wall = round(time.time() - t0, 1)
            (base_runs if side == "base" else head_runs).append(res)
            order_log.append(side)
            print(
                f"[pair {i + 1}/{args.pairs}] {side}: "
                f"total={res['value']}s (wall {wall}s)",
                flush=True,
            )

    base_qs = list(base_runs[0]["queries"])
    head_qs = list(head_runs[0]["queries"])
    # totals are compared over the COMMON query set only: if the
    # HEADLINE tuple changed between the two trees, summing each side's
    # own set would report the set change as a phantom code regression
    # (or improvement) — the exact confusion this tool exists to kill.
    common = [q for q in base_qs if q in set(head_qs)]
    added = [q for q in head_qs if q not in set(base_qs)]
    removed = [q for q in base_qs if q not in set(head_qs)]
    per_query = {}
    for q in base_qs:
        b = [r["queries"][q] for r in base_runs]
        if q not in set(head_qs):  # renamed/removed in HEAD
            per_query[q] = {"base_samples": b, "head_samples": None}
            continue
        h = [r["queries"][q] for r in head_runs]
        bm, hm = median(b), median(h)
        per_query[q] = {
            "base_median": round(bm, 3),
            "head_median": round(hm, 3),
            "delta_pct": round((hm - bm) / bm * 100.0, 1) if bm else None,
            "base_samples": b,
            "head_samples": h,
        }
    for q in added:  # present in HEAD only: recorded, never compared
        per_query[q] = {
            "base_samples": None,
            "head_samples": [r["queries"][q] for r in head_runs],
        }
    totals = {}
    b = [sum(r["queries"][q] for q in common) for r in base_runs]
    h = [sum(r["queries"][q] for q in common) for r in head_runs]
    bm, hm = median(b), median(h)
    totals["common_total_sec"] = {
        "n_queries": len(common),
        "base_median": round(bm, 3),
        "head_median": round(hm, 3),
        "delta_pct": round((hm - bm) / bm * 100.0, 1) if bm else None,
        "base_samples": [round(x, 3) for x in b],
        "head_samples": [round(x, 3) for x in h],
    }
    # each side's own recorded totals, kept for cross-referencing the
    # BENCH_r*.json series — NOT comparable to each other when the
    # headline set changed (see added/removed below)
    for key in ("value", "original10_total_sec"):
        # pre-r3 bench JSONs lack original10_total_sec — record what
        # each side actually printed (None-padded keys would lie)
        totals[key] = {
            "base_samples": [r[key] for r in base_runs if key in r],
            "head_samples": [r[key] for r in head_runs if key in r],
        }

    out = {
        **meta,
        "sf_dir": args.sf_dir,
        "pairs": args.pairs,
        "runs_per_query": args.runs_per_query,
        "interleave_order": order_log,
        "queries_added_in_head": added,
        "queries_removed_in_head": removed,
        "totals": totals,
        "per_query": per_query,
    }
    path = args.out or os.path.join(REPO, "BENCH_AB.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    ct = totals["common_total_sec"]
    print(
        f"\nA/B written to {path}: common-set total "
        f"({ct['n_queries']} queries) "
        f"base={ct['base_median']}s head={ct['head_median']}s "
        f"({ct['delta_pct']:+.1f}%)"
        + (f"; added in head: {added}" if added else "")
        + (f"; removed in head: {removed}" if removed else "")
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--baseline", default=None, help="git ref to A/B against")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--runs-per-query", type=int, default=3)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--perfbench",
        choices=("live_cadence", "replay_drain"),
        help="A/B one perfbench workload instead of bench.py",
    )
    ap.add_argument("--seeds", help="perfbench seeds as A-B, one pair per seed")
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--allow-dirty",
        action="store_true",
        help="measure a dirty HEAD anyway (the artifact still records "
        "head_dirty=true); without it a dirty tree is a hard refusal",
    )
    args = ap.parse_args()
    if args.perfbench and not args.seeds:
        ap.error("--perfbench needs --seeds A-B")

    base_ref = args.baseline or ("HEAD~1" if args.perfbench else default_baseline())
    base_sha = _git("rev-parse", base_ref)
    head_sha = _git("rev-parse", "HEAD")
    dirty = bool(_git("status", "--porcelain"))
    # VERDICT r12 #3: a closing-evidence artifact measured on a dirty tree
    # is unattributable to any commit — refuse unless explicitly overridden
    # (the override still stamps head_dirty so the artifact self-reports).
    if dirty and not args.allow_dirty:
        raise SystemExit(
            "HEAD is dirty — the A/B would measure uncommitted code that no "
            "sha identifies. Commit first, or pass --allow-dirty to record "
            "an explicitly head_dirty=true artifact."
        )

    meta = {
        "baseline_ref": base_ref,
        "baseline_sha": base_sha,
        "head_sha": head_sha,
        "head_dirty": dirty,
    }
    with baseline_tree(base_sha) as wt:
        if not args.perfbench:
            return bench_queries(args, wt, meta)
        out = {**meta, **perfbench_ab(args, wt)}
    path = args.out or os.path.join(REPO, f"PERF_AB_{args.perfbench}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"\nA/B written to {path}; runs that failed or were void: {out['bad_runs']}")
    for name, m in out["summary"].items():
        print(
            f"{name}: base median {m['base_median']:.4g} (IQR {m['base_iqr']:.3g}), "
            f"head median {m['head_median']:.4g}; won {m['wins']}/{m['pairs']}; "
            f"within bound: {m['within_bound']}; claim met: {m['claim_met']}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
