"""Every top-level function and class in ``facematch_spark/`` is reached by
a shipped entry point, and every ``DedupeConfig`` field is set by one.

Name-level reachability over the AST, no Spark. The roots are
the whole of every entry-point file and the module-level statements of every
package module (they run on import). A top-level definition is reached when
a reached piece of code names it (``Name``, ``Attribute`` or import alias);
its body then adds its own names. Names inside strings, comments and
docstrings do not count, so an error message that mentions a function keeps
nothing alive. Tests are not roots: code that only tests call is dead.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "facematch_spark"
ENTRY_POINTS = ["facematch_spark/cli.py", "__spark_entry__.py", "bench.py",
                "bench", "jobs", "tools", "perfbench"]

# name -> why it stays although no entry point calls it
ALLOWED = {
    "shingle_hashes_for": "reference implementation: tests/test_hashing.py "
    "compares the classify-then-shingle kernel path against it",
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def _files(rel: str) -> list[Path]:
    p = ROOT / rel
    return sorted(p.rglob("*.py")) if p.is_dir() else [p]


def unreached() -> list[str]:
    """``module:name`` of every package definition no entry point reaches."""
    reached: set[str] = set()
    for rel in ENTRY_POINTS:
        for f in _files(rel):
            reached |= _names(ast.parse(f.read_text(), str(f)))

    defs: dict[str, list[tuple[str, set[str]]]] = {}
    for f in sorted(PACKAGE.rglob("*.py")):
        module = f.relative_to(ROOT).with_suffix("").as_posix().replace("/", ".")
        for stmt in ast.parse(f.read_text(), str(f)).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                # decorators run at import time, like module-level code
                for d in stmt.decorator_list:
                    reached |= _names(d)
                defs.setdefault(stmt.name, []).append((module, _names(stmt)))
            else:
                reached |= _names(stmt)

    pending = [name for name in defs if name in reached]
    done: set[str] = set()
    while pending:
        name = pending.pop()
        if name in done:
            continue
        done.add(name)
        for _, body in defs[name]:
            new = body - reached
            reached |= new
            pending.extend(n for n in new if n in defs)
    return sorted(f"{m}:{name}" for name, sites in defs.items()
                  if name not in reached and name not in ALLOWED for m, _ in sites)


def test_every_package_definition_is_reached():
    dead = unreached()
    assert not dead, (
        "package definitions that no shipped entry point reaches (delete "
        "them, or add to ALLOWED with a reason):\n  " + "\n  ".join(dead)
    )


def unset_config_fields() -> list[str]:
    """``DedupeConfig`` fields that no shipped ``DedupeConfig(...)`` call
    passes by keyword: a value every caller leaves at its default is a
    constant, not a setting."""
    from dataclasses import fields

    from facematch_spark.config import DedupeConfig

    passed: set[str] = set()
    for rel in [*ENTRY_POINTS, "facematch_spark"]:
        for f in _files(rel):
            for n in ast.walk(ast.parse(f.read_text(), str(f))):
                if isinstance(n, ast.Call) and "DedupeConfig" in _names(n.func):
                    passed.update(kw.arg for kw in n.keywords if kw.arg)
    return sorted(f.name for f in fields(DedupeConfig) if f.name not in passed)


def test_every_config_field_is_set_by_an_entry_point():
    unset = unset_config_fields()
    assert not unset, (
        "DedupeConfig fields that no shipped entry point sets (make them "
        "ClassVar constants):\n  " + "\n  ".join(unset)
    )
