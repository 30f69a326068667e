#!/usr/bin/env python3
"""Generate SCALE_LEDGER.md: every slug's 100x (sf10) evidence at a glance
(VERDICT r12 #5).

The sf10 campaign's evidence is spread across sf10_r*.json artifacts
generated on different trees.  This tool derives, per registered slug:

  * the most recent sf10 artifact with a passing row for it (round +
    artifact file + the sha of the commit that committed that artifact —
    the closest committed approximation of the tree measured),
  * whether the slug's engine/oracle source hash has CHANGED since that
    tree (srcstate closure hash, current worktree vs GitReader at the
    artifact sha) — i.e. whether its 100x evidence is stale,
  * slugs with no sf10 row at all (never verified at 100x).

Exit status: 0 always for `--write` (the ledger records staleness, it
doesn't gate); `--check` exits 1 if SCALE_LEDGER.md differs from what
would be generated (freshness gate for tests).

Usage: python tools/scale_ledger.py [--check] [--file PATH]
  --file PATH  with --check, compare PATH instead of SCALE_LEDGER.md
               (lets tests probe drift detection without touching the
               real ledger).
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

BEGIN = "<!-- scale-ledger:begin (generated by tools/scale_ledger.py — do not hand-edit) -->"
END = "<!-- scale-ledger:end -->"

_ARTIFACT_RE = re.compile(r"sf(1|10)_r(\d+)([a-z]?)\.json")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(ROOT), *args],
        check=True, capture_output=True, text=True,
    ).stdout.strip()


def artifacts(scale: str) -> list[tuple[int, str, str, str]]:
    """(round, suffix, filename, commit sha) for every committed artifact
    at `scale` ('1' or '10'), ordered oldest-first (round, then suffix —
    later suffixes are later partial refreshes within the round)."""
    out = []
    for p in sorted(ROOT.glob(f"sf{scale}_r*.json")):
        m = _ARTIFACT_RE.fullmatch(p.name)
        if not m or m.group(1) != scale:
            continue
        sha = _git("log", "-1", "--format=%H", "--", p.name)
        if not sha:  # uncommitted artifact: no tree to pin evidence to
            continue
        out.append((int(m.group(2)), m.group(3), p.name, sha))
    out.sort(key=lambda t: (t[0], t[1]))
    return out


def latest_evidence(scale: str) -> dict[str, dict]:
    """slug -> {round, artifact, sha, mode, status, fail_after} from its
    most recent PASS/SKIP row at `scale`.  A recorded FAIL never counts as
    evidence, but a fail NEWER than the newest pass must not be hidden
    (self-review r13): it is surfaced as fail_after = (round, artifact)
    and overrides 'fresh' in the ledger."""
    ev: dict[str, dict] = {}
    for rnd, _suffix, name, sha in artifacts(scale):
        rows = json.loads((ROOT / name).read_text())
        for slug, row in rows.items():
            if slug.startswith("_") or not isinstance(row, dict):
                continue
            status = row.get("status")
            if status in ("pass", "skip"):
                ev[slug] = {
                    "round": rnd,
                    "artifact": name,
                    "sha": sha,
                    "mode": row.get("mode", ""),
                    "status": status,
                    "fail_after": None,
                }
            elif status == "fail" and slug in ev:
                ev[slug]["fail_after"] = (rnd, name)
            elif status == "fail":
                ev[slug] = {
                    "round": None,
                    "artifact": None,
                    "sha": None,
                    "mode": row.get("mode", ""),
                    "status": "fail",
                    "fail_after": (rnd, name),
                }
    return ev


def build_ledger() -> str:
    from airstrik_py_spark.registry import collect, slug_roots
    from airstrik_py_spark.registry import srcstate

    queries, _ = collect()
    roots = slug_roots()
    current = srcstate.slug_hashes(roots)
    ev10 = latest_evidence("10")
    ev1 = latest_evidence("1")

    hist_cache: dict[str, dict[str, str]] = {}

    def hash_at(sha: str) -> dict[str, str]:
        if sha not in hist_cache:
            hist_cache[sha] = srcstate.slug_hashes(
                roots, read=srcstate.GitReader(sha)
            )
        return hist_cache[sha]

    def state_of(slug: str, e: dict | None) -> str:
        if e is None:
            return "never"
        if e["status"] == "fail" or e["fail_after"]:
            return "failing"  # newest recorded run at this scale FAILED
        if e["status"] == "skip":
            return "skip"
        if hash_at(e["sha"]).get(slug) == current.get(slug):
            return "fresh"
        return "stale"

    lines = [
        BEGIN,
        "",
        "| slug | sf10 round | sf10 artifact | sf10 tree | sf10 state "
        "| sf1 round | sf1 state |",
        "|---|---|---|---|---|---|---|",
    ]
    counts10: dict[str, int] = {}
    counts1: dict[str, int] = {}
    for slug in sorted(queries):
        e10, e1 = ev10.get(slug), ev1.get(slug)
        s10, s1 = state_of(slug, e10), state_of(slug, e1)
        counts10[s10] = counts10.get(s10, 0) + 1
        counts1[s1] = counts1.get(s1, 0) + 1
        def cells(e: dict | None, s: str, with_artifact: bool) -> list[str]:
            mark = f"**{s}**" if s in ("stale", "never", "failing") else s
            if e is None or e["round"] is None:
                base = ["—"] * (3 if with_artifact else 1)
            else:
                base = [f"r{e['round']}", e["artifact"], e["sha"][:8]]
                if not with_artifact:
                    base = base[:1]
            if e is not None and e["fail_after"]:
                mark += f" (FAIL in {e['fail_after'][1]})"
            return base + [mark]

        lines.append(
            "| " + " | ".join(
                [slug, *cells(e10, s10, True), *cells(e1, s1, False)]
            ) + " |"
        )

    def fmt(c: dict[str, int]) -> str:
        return " / ".join(
            f"{c.get(k, 0)} {k}"
            for k in ("fresh", "stale", "never", "skip", "failing")
        )

    accounted = sorted(
        {name for _r, _s, name, _sha in artifacts("10") + artifacts("1")}
    )
    lines += [
        "",
        f"**sf10 (100x): {fmt(counts10)}; sf1 (10x): {fmt(counts1)}** "
        f"(of {len(queries)} registered slugs).",
        "",
        f"Artifacts accounted: {', '.join(accounted)}.",
        "",
        "*stale* = the slug's engine/oracle source closure hash differs "
        "between the current worktree and the tree that committed its "
        "newest passing artifact at that scale.  Each file hashes as its "
        "docstring-normalized AST (VERDICT r14 #4), so comment/docstring/"
        "formatting edits never re-mark a row; the closure is still "
        "module-granular and deliberately conservative (a one-line CODE "
        "edit to a shared module re-marks every slug whose closure "
        "contains it), so the stale count is an UPPER BOUND on "
        "semantically affected slugs — but it can never miss one.",
        "",
        "Refresh policy (a full sf10 sweep is ~4.5 h of oracle time — "
        "sum of the committed per-slug durations — so it cannot run "
        "every round): each round (1) re-runs the FULL sf1 sweep at the "
        "closing tree, resetting every slug's 10x evidence to the "
        "current round; (2) re-runs at sf10 every slug whose engine/"
        "oracle semantics actually changed that round, plus the oldest-"
        "evidence sf10 cohort that fits the budget (oldest evidence "
        "first, so every slug's sf10 row is refreshed in turn).",
        END,
    ]
    return "\n".join(lines)


HEADER = """# SCALE_LEDGER — per-slug scale-verification freshness (VERDICT r12 #5)

Generated by `tools/scale_ledger.py` from the committed `sf1_r*.json` /
`sf10_r*.json` artifacts (fixtures: `tools/gen_scale.py /tmp/sf1 10` and
`/tmp/sf10 100` — 100x is ~150k docs / ~6M events at 100x the bench
scale).  "tree" is the commit that committed the artifact — the closest
committed approximation of the code measured.  Regenerate after any
scale run or any engine/oracle change:

    python tools/scale_ledger.py

"""


def main() -> int:
    args = sys.argv[1:]
    check = "--check" in args
    out_path = ROOT / "SCALE_LEDGER.md"
    if "--file" in args:
        if not check:
            print("--file is only meaningful with --check", file=sys.stderr)
            return 2
        if args.index("--file") + 1 >= len(args):
            print("usage: scale_ledger.py [--check] [--file PATH]", file=sys.stderr)
            return 2
        out_path = Path(args[args.index("--file") + 1])
    body = HEADER + build_ledger() + "\n"
    old = out_path.read_text() if out_path.exists() else ""
    if check:
        print("FRESH" if old == body else "STALE")
        return 0 if old == body else 1
    out_path.write_text(body)
    summary = [
        line for line in body.splitlines() if line.startswith("**")
    ]
    print(f"wrote {out_path}")
    if summary:
        print(summary[-1])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
