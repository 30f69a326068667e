"""Registry enumeration order and the per-slug source hashes.

collect() enumerates slugs in a fixed order (registry _MODULES, then each
module's QUERIES order) and does no work beyond importing the registry
modules.  The srcstate closure hashes back SCALE_LEDGER freshness
(tools/scale_ledger.py).  No Spark session needed.
"""

from __future__ import annotations

import importlib
import subprocess
import sys
from pathlib import Path

import pytest

from airstrik_py_spark.registry import _MODULES, collect, slug_roots
from airstrik_py_spark.registry import srcstate

REPO = Path(__file__).resolve().parents[1]


def test_collect_follows_module_then_queries_order():
    queries, _ = collect()
    expected = [
        slug
        for mod_name in _MODULES
        for slug in importlib.import_module(
            f"airstrik_py_spark.registry.{mod_name}"
        ).QUERIES
    ]
    assert list(queries) == expected


def test_entry_import_does_not_load_srcstate():
    """Importing the driver contract costs only the registry module
    imports: source hashing stays off the import path."""
    probe = (
        "import sys; import __spark_entry__; "
        "print('airstrik_py_spark.registry.srcstate' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert out.strip().splitlines()[-1] == "False"


def test_collect_raises_on_missing_registry_module(monkeypatch):
    """A registry module that fails to import must fail collect(), not
    silently drop its slugs from queries()."""
    import airstrik_py_spark.registry as registry

    monkeypatch.setattr(registry, "_MODULES", (*_MODULES, "no_such_q"))
    with pytest.raises(ModuleNotFoundError):
        registry.collect()


def test_each_slug_lives_in_one_module():
    """One home per slug: the registry module that lists a slug in QUERIES
    also defines its callable and holds its oracle."""
    strays = []
    for mod_name in _MODULES:
        mod = importlib.import_module(f"airstrik_py_spark.registry.{mod_name}")
        for slug, fn in mod.QUERIES.items():
            if fn.__module__ != mod.__name__ or slug not in mod.ORACLES:
                strays.append((mod_name, slug))
    assert strays == []
    roots = slug_roots()
    assert all(len(r) == 1 for r in roots.values())


def test_every_slug_has_oracle_and_callable():
    queries, oracles = collect()
    assert set(oracles) <= set(queries)
    # every registered slug currently carries an oracle (census invariant);
    # if a genuinely non-SQL-expressible slug is ever added, update the
    # census block too (tools/census.py prints the rows-only list)
    assert set(queries) == set(oracles)
    assert all(callable(fn) for fn in queries.values())


def test_oracle_order_follows_query_order():
    queries, oracles = collect()
    q_order = [s for s in queries if s in oracles]
    assert list(oracles) == q_order


def test_srcstate_closure_covers_operator_rewrites():
    """The r9 failure mode: an operators/similarity.py rewrite must change
    the hash of slugs whose registry module imports it."""
    roots = slug_roots()
    files = srcstate.dep_closure(sorted(roots["embedding_cosine_banded_candidates"]))
    assert "airstrik_py_spark/operators/similarity.py" in files
    # an oracle composed from another registry module's oracle: extras_q's
    # dedup_best_quality_canonical wraps dedup_q's dedup_clusters oracle
    files2 = srcstate.dep_closure(sorted(roots["dedup_best_quality_canonical"]))
    assert "airstrik_py_spark/registry/extras_q.py" in files2
    assert "airstrik_py_spark/registry/dedup_q.py" in files2
    # registry plumbing must NOT be in any closure (editing the enumeration
    # order or the hashing is not a semantic change to any slug)
    assert "airstrik_py_spark/registry/__init__.py" not in files
    assert "airstrik_py_spark/registry/srcstate.py" not in files


def test_srcstate_hash_sensitive_to_semantic_edits_only():
    """VERDICT r14 #4: the per-file hash is the docstring-normalized AST —
    a comment or docstring edit must NOT change any slug hash (in r14 a
    docstring scope note on codecs.py stale-marked eight expensive sf10
    rows), while a code edit (new statement, changed constant) must."""
    roots = ["airstrik_py_spark.operators.decimation"]
    h1 = srcstate.closure_hash(roots, srcstate.read_worktree)

    def edited(suffix):
        def read(rel):
            src = srcstate.read_worktree(rel)
            if src is not None and rel == "airstrik_py_spark/operators/decimation.py":
                return src + suffix
            return src
        return read

    assert srcstate.closure_hash(roots, edited("\n# tweak\n")) == h1
    assert srcstate.closure_hash(roots, edited("\n_X = 1\n")) != h1

    # editing the module's REAL leading docstring must not change the hash
    import ast

    real = srcstate.read_worktree("airstrik_py_spark/operators/decimation.py")
    doc = ast.get_docstring(ast.parse(real))
    assert doc, "fixture module lost its docstring"

    def docstring_edited(rel):
        src = srcstate.read_worktree(rel)
        if src is not None and rel == "airstrik_py_spark/operators/decimation.py":
            return src.replace(doc, doc + " (edited)")
        return src

    assert srcstate.closure_hash(roots, docstring_edited) == h1


def test_comment_only_edit_leaves_every_slug_hash_unchanged():
    """The r14 incident end-to-end (VERDICT r14 #4 'Done' criterion): a
    comment-only edit to functions/codecs.py must leave EVERY slug's
    closure hash — hence every SCALE_LEDGER sf10/sf1 row — fresh.
    scale_ledger.state_of is exactly `hash_at(sha) == current`, so equal
    slug_hashes on both sides IS ledger freshness."""
    roots = slug_roots()
    before = srcstate.slug_hashes(roots)

    def commented(rel):
        src = srcstate.read_worktree(rel)
        if src is not None and rel == "airstrik_py_spark/functions/codecs.py":
            return "# leading comment\n" + src + "\n# trailing comment\n"
        return src

    after = srcstate.slug_hashes(roots, read=commented)
    assert after == before

    # and the converse guard: the r14 edit itself (a changed comparison
    # constant inside jpeg_decode's guard) WOULD still re-mark the slugs
    # whose closure contains codecs.py
    def recoded(rel):
        src = srcstate.read_worktree(rel)
        if src is not None and rel == "airstrik_py_spark/functions/codecs.py":
            return src.replace("0xD0 <= marker <= 0xD8", "0xD0 <= marker <= 0xD7")
        return src

    changed = srcstate.slug_hashes(roots, read=recoded)
    assert changed != before
