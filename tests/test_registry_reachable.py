"""Every top-level definition of ``__spark_entry__.py`` is reachable.

A helper, oracle constant or query function that nothing reaches is dead
code the registry still carries. This test parses the file (no Spark, no
imports of it) and walks name references from the roots: ``entry()``,
``queries()`` and ``oracle_sql()`` (whose dict values are the registry),
every top-level statement that is not a definition (the imports and the
``__main__`` block), and each ``entry.<name>`` that a file under
``tests/`` or ``tools/`` reads off the imported module. Every other
top-level function, class or assignment must be reached from one of them.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENTRY = REPO / "__spark_entry__.py"


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), str(path))


def _names(node: ast.AST) -> set:
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def _external_refs() -> set:
    """Attributes read off ``import __spark_entry__ as entry``."""
    refs = set()
    for sub in ("tests", "tools"):
        for path in (REPO / sub).rglob("*.py"):
            for n in ast.walk(_parse(path)):
                if (isinstance(n, ast.Attribute)
                        and isinstance(n.value, ast.Name)
                        and n.value.id == "entry"):
                    refs.add(n.attr)
    return refs


def _unreachable() -> dict:
    """{name: line} of each top-level definition no root reaches."""
    defs, roots = {}, {"entry", "queries", "oracle_sql"}
    for node in _parse(ENTRY).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif (isinstance(node, ast.Assign)
              and all(isinstance(t, ast.Name) for t in node.targets)):
            for t in node.targets:
                defs[t.id] = node
        elif (isinstance(node, ast.AnnAssign)
              and isinstance(node.target, ast.Name)):
            defs[node.target.id] = node
        else:
            roots |= _names(node)
    todo = (roots | _external_refs()) & set(defs)
    seen = set()
    while todo:
        name = todo.pop()
        seen.add(name)
        todo |= (_names(defs[name]) & set(defs)) - seen
    return {n: d.lineno for n, d in defs.items() if n not in seen}


def test_every_registry_definition_is_reachable():
    dead = _unreachable()
    assert not dead, (
        "top-level definitions of __spark_entry__.py that no query, "
        "oracle, entry() or test/tool reference reaches: "
        + ", ".join(f"{n} (line {ln})" for n, ln in sorted(dead.items())))
