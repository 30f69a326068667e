"""Per-slug source-state hashing for scale-evidence freshness.

``tools/scale_ledger.py`` judges whether an sf1/sf10 evidence row still
describes the current code: the row is fresh when the slug's source hash at
the commit that produced it equals the slug's hash in the worktree.

Hash basis per slug: the one registry module that defines the query
callable and registers it and its oracle SQL, plus the transitive closure
of its first-party (``airstrik_py_spark.*``) imports — an oracle composed
from another registry module's oracle pulls that module in through its
import — parsed TEXTUALLY so historical git trees never need importing.  Module-level granularity is
deliberately conservative: an edit anywhere in a module marks every slug
whose closure contains it stale, which costs one re-measurement, never a
missed one.

Each file hashes as its AST with docstrings normalized away (VERDICT r14
#4): comment, whitespace, and docstring edits hash identically — in r14 a
docstring scope note on codecs.py's JPEG lane would have re-marked eight
expensive sf10 rows stale — while every semantic edit (including oracle
SQL string constants) still changes the hash.  Files that do not parse
fall back to raw text, never to "unchanged".
"""

from __future__ import annotations

import ast
import hashlib
import re
import subprocess
from pathlib import Path

PKG = "airstrik_py_spark"
REPO_ROOT = Path(__file__).resolve().parents[2]

_FROM_RE = re.compile(rf"from\s+({PKG}(?:\.\w+)*)\s+import\s+(.+)")
_IMPORT_RE = re.compile(rf"import\s+({PKG}(?:\.\w+)*)")


def _candidates(dotted: str) -> tuple[str, ...]:
    rel = "/".join(dotted.split("."))
    return (f"{rel}.py", f"{rel}/__init__.py")


def _imports_in(src: str):
    """First-party modules imported by `src`, parsed line-by-line (a greedy
    multi-line regex can consume the NEXT import statement — the bug class
    this replaced).  Parenthesized name lists are joined onto one line
    first."""
    lines: list[str] = []
    buf: str | None = None
    for raw in src.splitlines():
        line = raw.split("#", 1)[0].strip()
        if buf is not None:
            buf += " " + line
            if ")" in line:
                lines.append(buf)
                buf = None
            continue
        if (
            (line.startswith("from ") or line.startswith("import "))
            and "(" in line
            and ")" not in line
        ):
            buf = line
            continue
        lines.append(line)
    if buf is not None:
        lines.append(buf)
    for line in lines:
        m = _FROM_RE.match(line)
        if m:
            base = m.group(1)
            yield base
            # names after `import` may themselves be submodules
            # (`from airstrik_py_spark.operators import similarity as SIM`)
            for name in re.findall(r"\w+", m.group(2)):
                if name != "as":
                    yield f"{base}.{name}"
            continue
        m = _IMPORT_RE.match(line)
        if m:
            yield m.group(1)


def read_worktree(rel: str) -> str | None:
    p = REPO_ROOT / rel
    try:
        return p.read_text()
    except OSError:
        return None


class GitReader:
    """read(rel) from a historical commit tree, memoized per path."""

    def __init__(self, commit: str):
        self.commit = commit
        self._cache: dict[str, str | None] = {}

    def __call__(self, rel: str) -> str | None:
        if rel not in self._cache:
            proc = subprocess.run(
                ["git", "-C", str(REPO_ROOT), "show", f"{self.commit}:{rel}"],
                capture_output=True,
                text=True,
            )
            self._cache[rel] = proc.stdout if proc.returncode == 0 else None
        return self._cache[rel]


# Registry plumbing is NOT part of any slug's semantics: the registry
# package __init__ (enumeration order) and this module would otherwise
# mark every slug stale whenever either is edited.
_EXCLUDE = frozenset(
    {f"{PKG}/registry/__init__.py", f"{PKG}/registry/srcstate.py"}
)


def dep_closure(roots, read=read_worktree) -> dict[str, str]:
    """{relpath: source} for the transitive first-party import closure."""
    seen: set[str] = set()
    todo = list(roots)
    files: dict[str, str] = {}
    while todo:
        dotted = todo.pop()
        if dotted in seen:
            continue
        seen.add(dotted)
        for rel in _candidates(dotted):
            src = read(rel)
            if src is not None:
                if rel not in _EXCLUDE:
                    files[rel] = src
                    todo.extend(_imports_in(src))
                break
    return files


def normalized_source(src: str) -> str:
    """Semantic fingerprint of a module: the AST dump with every docstring
    normalized to ''.  Comments and formatting never reach the AST;
    docstrings do, so they are blanked (``__doc__`` is not part of any
    slug's semantics).  Every other string constant — oracle SQL above
    all — stays load-bearing.  A file that does not parse hashes as raw
    text: the fallback direction is always toward MORE staleness."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return src
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                body[0].value.value = ""
    return ast.dump(tree)


def closure_hash(roots, read=read_worktree) -> str:
    files = dep_closure(roots, read)
    h = hashlib.sha256()
    for rel in sorted(files):
        h.update(rel.encode())
        h.update(b"\0")
        h.update(normalized_source(files[rel]).encode())
        h.update(b"\0")
    return h.hexdigest()


def slug_hashes(slug_roots: dict[str, frozenset[str]], read=read_worktree) -> dict[str, str]:
    """Current (or historical, via `read`) hash per slug; closures are
    memoized per distinct root set."""
    memo: dict[frozenset[str], str] = {}
    out: dict[str, str] = {}
    for slug, roots in slug_roots.items():
        if roots not in memo:
            memo[roots] = closure_hash(sorted(roots), read)
        out[slug] = memo[roots]
    return out

