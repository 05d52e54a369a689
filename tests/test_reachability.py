"""Every top-level name in the package is reached by code.

The scan reads the package source as ASTs; it imports nothing and starts
no Spark session. A name counts as reached when code outside ``tests/``
refers to it, directly or through other reached names:

- roots are every reference in the query entry points
  (``__spark_entry__.py``, ``entry_ext*.py``), ``bench.py``, ``tools/``
  and ``perfbench/``; every name a package ``__init__.py`` defines or
  re-exports (that is the public API); package module-level code outside
  any top-level definition (decorators, defaults and class bases
  included); and the allowlist below;
- a reached top-level function, class or constant reaches every name its
  body refers to.

References are ``Name`` and ``Attribute`` nodes, matched by name only, so
two definitions with one name are reached together. Docstrings and
comments are not code, so naming a function in prose does not keep it.
A test that calls a function does not keep it either.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "voluptuous_spark"

# Public features that only tests reach, kept as whole units pending a
# scope decision: schema suggestion, streaming validation, the schema
# compatibility gate, n-gram contamination, stratified sampling, the PII
# report and the reference-compat helpers; plus the batch embedding PSI
# that the streaming embedding PSI is tested against. "*" keeps a whole
# module.
ALLOWLIST = {
    "suggest.py": {"*"},
    "streaming/validate_stream.py": {"*"},
    "evolution.py": {"schema_changes", "assert_compatible"},
    "textops.py": {"ngram_contamination", "contaminated_docs"},
    "sampling.py": {"stratified_take"},
    "pii.py": {"pii_report", "PiiFree"},
    "checks/embedding_drift.py": {"embedding_psi", "embedding_projections"},
    "humanize.py": {"*"},
    "refcompat.py": {"*"},
}


def _external_files():
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted(ROOT.glob("entry_ext*.py"))
    yield from sorted((ROOT / "tools").glob("*.py"))
    yield from sorted((ROOT / "perfbench").glob("*.py"))


def _refs(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _def_targets(stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _def_time_refs(stmt) -> set[str]:
    """Names a definition evaluates when its module is imported."""
    out = set()
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
        parts = stmt.decorator_list + stmt.args.defaults + [
            d for d in stmt.args.kw_defaults if d is not None]
    elif isinstance(stmt, ast.ClassDef):
        parts = stmt.decorator_list + stmt.bases + [
            k.value for k in stmt.keywords]
    else:
        parts = []
    for p in parts:
        out |= _refs(p)
    return out


def scan():
    """(definitions, reached names): definitions map a package-relative
    path to the names it defines at top level, dunders aside."""
    roots: set[str] = set()
    for path in _external_files():
        if path.exists():
            tree = ast.parse(path.read_text())
            roots |= _refs(tree)
            roots |= {a.name for n in ast.walk(tree)
                      if isinstance(n, ast.ImportFrom) for a in n.names}

    defs: dict[str, set[str]] = {}
    edges: dict[str, set[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        allowed = ALLOWLIST.get(rel, set())
        tree = ast.parse(path.read_text())
        for stmt in tree.body:
            names = _def_targets(stmt)
            if names:
                roots |= _def_time_refs(stmt)
                if path.name == "__init__.py" or "*" in allowed:
                    roots.update(names)
                roots.update(n for n in names if n in allowed)
                body = (stmt.value if isinstance(stmt, (ast.Assign,
                                                        ast.AnnAssign))
                        else stmt)
                refs = _refs(body) if body is not None else set()
                for name in names:
                    edges.setdefault(name, set()).update(refs)
                    if not name.startswith("__"):
                        defs.setdefault(rel, set()).add(name)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                if path.name == "__init__.py":
                    roots |= {(a.asname or a.name).split(".")[0]
                              for a in stmt.names}
            else:
                roots |= _refs(stmt)

    reached = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(edges.get(name, ()))
    return defs, reached


def unreached() -> list[str]:
    defs, reached = scan()
    return [f"{rel}:{n}" for rel, names in sorted(defs.items())
            for n in sorted(names - reached)]


def test_every_top_level_name_is_reached():
    missing = unreached()
    assert not missing, (
        "top-level names that no query, tool, benchmark or public "
        "re-export reaches (delete them, or reach them from measured "
        "code): "
        + ", ".join(missing))


def test_allowlist_names_exist():
    defs, _ = scan()
    for rel, names in ALLOWLIST.items():
        assert rel in defs, rel
        assert names == {"*"} or names <= defs[rel], (rel, names - defs[rel])


def test_scan_sees_through_docstrings():
    src = ('def kept():\n    """Calls ``gone`` in prose only."""\n'
           '    return 1\n\n\ndef gone():\n    return kept()\n')
    tree = ast.parse(src)
    assert "gone" not in _refs(tree.body[0])
    assert "kept" in _refs(tree.body[1])
