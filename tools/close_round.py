#!/usr/bin/env python3
"""Atomic round-close: run every generated-evidence gate, then emit the
ROUNDLOG closing-state block from MEASURED numbers instead of hand-typed
ones (VERDICT r13 #2/#3).

Round 13 closed RED because its own closing-evidence commits
(sf10_r13c/d/e.json) landed AFTER the last `tools/scale_ledger.py`
regeneration, so the freshness gate the round itself built
(test_scale_ledger_covers_every_slug) failed at HEAD — and ROUNDLOG's
hand-typed closing counts ("322 passed", "157 fresh / 0 stale") were
stale against that HEAD.  This tool makes both failure modes structural
non-events:

Usage:
  python tools/close_round.py --check
      Fast drift gates only (no Spark session): SCALE_LEDGER vs the
      committed artifacts, README census block vs registry.collect(),
      and PLANS.md row coverage vs registry slugs.  Exit 1 on any
      drift.  Run this before ANY commit that adds `sf*_r*.json` or
      touches the registry (the pre-commit hook in tools/hooks/ automates
      the ledger half).

  python tools/close_round.py --closing-block [sf_dir]
      Run the gates, then the FULL measurement pass — `pytest tests/`,
      the full sf0.01 oracle sweep, the ledger tallies, the newest
      BENCH_r*/BENCH_AB_r*.json — and print a ready-to-paste
      "**Closing state.**" markdown block whose every number came from
      this run, stamped with the sha it measured.  Takes ~10-15 min
      (pytest dominates).  The close ordering VERDICT r13 #6 fixed is:
      (1) commit all code, (2) bench_ab at that commit, (3) commit the
      A/B artifact + regenerated ledger, (4) this --closing-block, (5)
      paste into ROUNDLOG and make the snapshot commit LAST.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def _run(*cmd: str) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)


def _git(*args: str) -> str:
    return _run("git", *args).stdout.strip()


# ---------------------------------------------------------------- gates


def gate_scale_ledger(file: str | None = None) -> tuple[bool, str]:
    cmd = [sys.executable, "tools/scale_ledger.py", "--check"]
    if file:
        cmd += ["--file", file]
    r = _run(*cmd)
    fresh = r.returncode == 0
    return fresh, "SCALE_LEDGER.md " + ("fresh" if fresh else
                                        "STALE — run tools/scale_ledger.py")


def gate_census() -> tuple[bool, str]:
    r = _run(sys.executable, "tools/census.py", "--check")
    fresh = r.returncode == 0
    return fresh, "README census " + ("fresh" if fresh else
                                      "STALE — run tools/census.py")


def gate_plans_coverage(plans_path: Path | None = None) -> tuple[bool, str]:
    """PLANS.md row coverage vs registry (the cheap half of the plan
    audit — full regeneration needs a Spark session and belongs to the
    operator-change workflow, not the commit gate)."""
    from airstrik_py_spark.registry import collect

    queries, _ = collect()
    text = (plans_path or ROOT / "PLANS.md").read_text()
    rows = {
        line.split("|")[1].strip()
        for line in text.splitlines()
        if line.startswith("| ") and not line.startswith("| query |")
    }
    missing = set(queries) - rows
    extra = rows - set(queries)
    ok = not missing and not extra
    return ok, (
        "PLANS.md rows cover registry"
        if ok
        else f"PLANS.md drift — missing {sorted(missing)}, orphan {sorted(extra)}"
        " — run tools/audit_plans.py"
    )


def run_gates() -> bool:
    ok = True
    for gate in (gate_scale_ledger, gate_census, gate_plans_coverage):
        good, msg = gate()
        print(("PASS  " if good else "FAIL  ") + msg)
        ok &= good
    return ok


# -------------------------------------------------------- closing block


def _pytest_counts() -> str:
    r = _run(sys.executable, "-m", "pytest", "tests/", "-q")
    tail = (r.stdout.strip().splitlines() or ["<no output>"])[-1]
    # e.g. "324 passed, 1 skipped in 437.95s" — keep pytest's own words
    return tail.strip()


def _sweep_counts(sf_dir: str) -> str:
    r = _run(sys.executable, "tools/check.py", sf_dir)
    for line in reversed(r.stdout.strip().splitlines()):
        if "pass" in line:
            return line.strip()
    return "<sweep produced no summary: " + r.stdout[-200:] + ">"


def _ledger_summary() -> str:
    text = (ROOT / "SCALE_LEDGER.md").read_text()
    for line in reversed(text.splitlines()):
        if line.startswith("**"):
            return line.strip("* ")
    return "<no ledger summary>"


def _newest(pattern: str) -> Path | None:
    def key(p: Path):
        m = re.search(r"_r(\d+)([a-z]?)", p.name)
        return (int(m.group(1)), m.group(2)) if m else (0, "")

    paths = sorted(ROOT.glob(pattern), key=key)
    return paths[-1] if paths else None


def _ab_line(path: Path, label: str) -> str:
    d = json.loads(path.read_text())
    t = d.get("totals", {}).get("common_total_sec", {})
    return (
        f"- {label} ({path.name}): head {d.get('head_sha', '?')[:7]} "
        f"(dirty={d.get('head_dirty')}) vs base "
        f"{d.get('baseline_sha', '?')[:7]}: common-set "
        f"({t.get('n_queries')} queries) base {t.get('base_median')} s "
        f"vs head {t.get('head_median')} s ({t.get('delta_pct')} %)."
    )


def _bench_lines() -> list[str]:
    """Paired-A/B deltas lead; the raw per-round total is recorded last and
    explicitly flagged non-comparable (VERDICT r14 #2: the only defensible
    cross-tree number is a paired common-set delta — quoting one-shot
    totals round-over-round is how the r11 and r14 phantom regressions
    happened)."""
    out = []
    anchor = ROOT / "BENCH_ANCHOR.json"
    if anchor.exists():
        out.append(_ab_line(anchor, "baseline anchor A/B vs r01 tree"))
    ab = _newest("BENCH_AB_r*.json")
    if ab:
        out.append(_ab_line(ab, "round A/B"))
    b = _newest("BENCH_r*.json")
    if b:
        d = json.loads(b.read_text())
        # driver artifacts nest bench.py's JSON line under "parsed";
        # a raw bench.py capture has it at the top level
        p = d.get("parsed", d)
        out.append(
            f"- bench ({b.name}): total {p.get('value')} {p.get('unit')} "
            f"over {len(p.get('queries', {}))} headline queries at "
            f"sf={d.get('sf', p.get('sf'))} — one-shot, box-state "
            f"sensitive; compare rounds only via the paired A/B lines."
        )
    return out


def closing_block(sf_dir: str) -> str:
    sha = _git("rev-parse", "HEAD")
    dirty = bool(_git("status", "--porcelain"))
    lines = [
        "**Closing state** (generated by tools/close_round.py at "
        f"`{sha[:12]}`{' + DIRTY TREE' if dirty else ''}).",
        f"- pytest: **{_pytest_counts()}**.",
        f"- full sweep at {sf_dir}: **{_sweep_counts(sf_dir)}**.",
        f"- scale ledger: {_ledger_summary()}",
        *_bench_lines(),
    ]
    return "\n".join(lines)


def main() -> int:
    args = sys.argv[1:]
    if "--check" in args:
        return 0 if run_gates() else 1
    if "--closing-block" in args:
        pos = [a for a in args if not a.startswith("--")]
        sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
        if not run_gates():
            print("\ngates FAILED — fix drift before generating the "
                  "closing block", file=sys.stderr)
            return 1
        print()
        print(closing_block(sf_dir))
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
