"""Every defaulted parameter of the paper's modules has a caller.

A parameter with a default that no call site ever passes is an option
with one value in use: it should be that value, written inline or as a
module constant. This test parses the repo (no Spark, no imports of the
package) and, for every function and constructor defined in ``core/``,
``spark/``, ``datagen.py``, ``fixtures.py``, ``respath.py`` and
``ops/htmltext.py``, requires each defaulted parameter to be passed by at
least one call of the same name anywhere in the repo: by keyword, by
position, or through a ``*``/``**`` call site, which counts as passing
everything.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "eventrelationextractor_spark"
SCOPE = (PKG / "core", PKG / "spark", PKG / "datagen.py",
         PKG / "fixtures.py", PKG / "respath.py", PKG / "ops" / "htmltext.py")

# (module path under the package, function, parameter) kept without a
# caller in the repo, each with its reason
ALLOWED = {
    # the production ingest path: land the parsed batch instead of caching
    ("spark/jsonl.py", "read_jsonl", "staging_path"),
}


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), str(path))


def _calls_by_name() -> dict:
    calls: dict = {}
    for path in REPO.rglob("*.py"):
        if ".git" in path.parts:
            continue
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name is not None:
                    calls.setdefault(name, []).append(node)
    return calls


def _defaulted(fn: ast.FunctionDef):
    """(positional index or None, name) of each defaulted parameter, the
    index counted from the first argument a caller passes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    first = len(pos) - len(a.defaults)
    out = [(i - skip, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def _passes(call: ast.Call, index, name: str) -> bool:
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def _unpassed() -> dict:
    """{(module, function, parameter): "module:line"} of every defaulted
    parameter in scope that no call site passes."""
    calls = _calls_by_name()
    out = {}
    for root in SCOPE:
        for path in sorted(root.rglob("*.py")) if root.is_dir() else [root]:
            tree = _parse(path)
            ctor = {m: c.name for c in ast.walk(tree)
                    if isinstance(c, ast.ClassDef) for m in c.body
                    if isinstance(m, ast.FunctionDef)
                    and m.name == "__init__"}
            rel = path.relative_to(PKG).as_posix()
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef,
                                       ast.AsyncFunctionDef)):
                    continue
                called = ctor.get(fn, fn.name)
                for index, name in _defaulted(fn):
                    if not any(_passes(c, index, name)
                               for c in calls.get(called, ())):
                        out[(rel, called, name)] = f"{rel}:{fn.lineno}"
    return out


def test_every_defaulted_parameter_has_a_caller():
    unpassed = _unpassed()
    assert {k: v for k, v in unpassed.items() if k not in ALLOWED} == {}
    # an allow-list entry names a real parameter that still lacks a caller
    assert ALLOWED <= unpassed.keys()
