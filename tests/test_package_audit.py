"""Caller audit: every top-level def and class in the package has a caller
in non-test code.

Code that only tests call is either dead product code or test reference
code living in the wrong place: delete it, or move it into the test that
compares against it.  A reference counts when a non-test module (the
package, tools/, perfbench/ outside its tests, bench.py,
__spark_entry__.py) names the def as an identifier, an attribute or an
imported name anywhere outside the def's own body.  Docstrings and
comments never count.  No Spark session needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "airstrik_py_spark"

# Keepers whose product caller is pending, each with its ROADMAP item.
# When the item lands the name gains a caller, and the stale-entry check
# below fails until it leaves this list.
ALLOWLIST = {
    # item 2: `run` writes the reference's trip documents into the store
    "sinks.trip_documents",
    # item 2: `repl` / `csvdump` read the store `run` writes
    "sinks.read_store",
    # item 2: `run` upserts the daily stats documents
    "streaming.pipeline.stats_upsert_foreach_batch",
    # item 1: alarms per fix from the stateful plane tracker
    "streaming.stateful.tracked_stream",
    # item 2: the decimation_factor = 0 detail store
    "operators.decimation.decimate_closest",
}


def _non_test_sources() -> list[Path]:
    files = sorted(PKG.rglob("*.py")) + sorted((ROOT / "tools").rglob("*.py"))
    files += sorted(
        p
        for p in (ROOT / "perfbench").rglob("*.py")
        if "tests" not in p.relative_to(ROOT).parts
    )
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
    return out


def _uncalled_defs() -> dict[str, int]:
    """{module.name: line count} for each package top-level def or class
    that no non-test code references outside its own body."""
    # name -> the top-level statements (file, index) that reference it
    refs: dict[str, set[tuple[Path, int]]] = {}
    defs: list[tuple[str, Path, int, ast.AST]] = []
    for path in _non_test_sources():
        tree = ast.parse(path.read_text(), str(path))
        for i, stmt in enumerate(tree.body):
            for name in _names(stmt):
                refs.setdefault(name, set()).add((path, i))
            if path.is_relative_to(PKG) and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                parts = path.relative_to(PKG).with_suffix("").parts
                if parts[-1] == "__init__":
                    parts = parts[:-1]
                defs.append((".".join((*parts, stmt.name)), path, i, stmt))
    return {
        qual: stmt.end_lineno - stmt.lineno + 1
        for qual, path, i, stmt in defs
        if not refs.get(stmt.name, set()) - {(path, i)}
    }


def test_package_defs_have_non_test_callers():
    uncalled = _uncalled_defs()
    extra = {q: n for q, n in uncalled.items() if q not in ALLOWLIST}
    assert not extra, (
        "package code with no caller outside tests — delete it, or move "
        "reference code into the test that uses it: "
        + ", ".join(f"{q} ({n} lines)" for q, n in sorted(extra.items()))
    )
    stale = ALLOWLIST - set(uncalled)
    assert not stale, f"allowlisted names now have a caller or are gone: {sorted(stale)}"
