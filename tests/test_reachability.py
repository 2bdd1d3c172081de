"""Reachability gate: every top-level function and class in the package is
reached from a registered query, a tool or the benchmark, or is allowlisted
with the reason it stays.

The call graph is static and name-based, so it needs no Spark. Each def's
references are the ``Name`` ids and ``Attribute`` attrs in its AST; a
reference to a name reaches every top-level def of that name in the
package. Imports are not references, so a package ``__init__`` export does
not keep a def alive. The roots are:

- the ``@register``-ed query builders;
- the package's module-level code, including the decorators, default
  arguments and base classes that run at import;
- every module under ``tools/`` and ``perfbench/`` (minus its tests),
  ``bench.py`` and ``__spark_entry__.py``.

A def only tests reach is deleted, or named in ``ALLOWLIST`` with a reason.
An allowlist entry that is reached, or that names no def, is stale and fails.
"""

from __future__ import annotations

import ast
import os

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "amorphous_mapreduce_spark"

# "<module path under the package>.<name>" -> why the def stays unreached.
ALLOWLIST = {
    "operators.similarity.cosine_pairs": (
        "exact all-pairs baseline of the LSH recall test"
    ),
    "operators.similarity.cosine_topk": (
        "exact top-k baseline of the IVF recall tests"
    ),
    "operators.sketches.cms_cells": (
        "batch baseline of the streaming count-min merge test"
    ),
    "functions.grid.closest_factor": "port of the reference's src/util.rs",
    "functions.grid.reducer_grid": "port of the reference's src/util.rs",
    "sources.tables.read_lines": (
        "the reference's line-file word-count input (src/word_count.rs:73-88)"
    ),
    "operators.wordcount.word_counts_from_lines": (
        "the reference's line-file word-count input (src/word_count.rs:73-88)"
    ),
    "plans.observe.observed_stage": (
        "ROADMAP item 5 decides between candidate funnels on it and deletion"
    ),
}


def _py_files(top: str, skip_dirs: tuple[str, ...] = ()) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [
            d for d in dirnames if d not in skip_dirs and d != "__pycache__"
        ]
        out += [os.path.join(dirpath, f) for f in filenames if f.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _refs(nodes) -> set[str]:
    names: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                names.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                names.add(sub.attr)
    return names


def _is_register(dec: ast.expr) -> bool:
    fn = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(fn, ast.Name) and fn.id == "register") or (
        isinstance(fn, ast.Attribute) and fn.attr == "register"
    )


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def build_graph() -> tuple[dict[str, list[str]], dict[str, set[str]], set[str]]:
    """Return (name -> def keys, def key -> refs of its body, root refs)."""
    by_name: dict[str, list[str]] = {}
    body_refs: dict[str, set[str]] = {}
    roots: set[str] = set()
    pkg_dir = os.path.join(REPO_ROOT, PKG)
    for path in _py_files(pkg_dir):
        rel = os.path.relpath(path, pkg_dir)[: -len(".py")].replace(os.sep, ".")
        for stmt in _parse(path).body:
            if not isinstance(stmt, _DEFS):
                roots |= _refs([stmt])
                continue
            key = f"{rel}.{stmt.name}"
            by_name.setdefault(stmt.name, []).append(key)
            # Evaluated at import: decorators, defaults, bases, keywords.
            at_import = list(stmt.decorator_list)
            if isinstance(stmt, ast.ClassDef):
                at_import += stmt.bases + [k.value for k in stmt.keywords]
            else:
                at_import += stmt.args.defaults + [
                    d for d in stmt.args.kw_defaults if d is not None
                ]
            roots |= _refs(at_import)
            body_refs[key] = _refs(stmt.body)
            if any(_is_register(d) for d in stmt.decorator_list):
                roots.add(stmt.name)
    entry_files = [
        os.path.join(REPO_ROOT, "bench.py"),
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
        *_py_files(os.path.join(REPO_ROOT, "tools")),
        *_py_files(os.path.join(REPO_ROOT, "perfbench"), skip_dirs=("tests",)),
    ]
    for path in entry_files:
        roots |= _refs([_parse(path)])
    return by_name, body_refs, roots


def reached_defs() -> tuple[set[str], set[str]]:
    """Return (all top-level def keys, the reached ones)."""
    by_name, body_refs, roots = build_graph()
    reached: set[str] = set()
    todo = list(roots)
    seen_names: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen_names:
            continue
        seen_names.add(name)
        for key in by_name.get(name, ()):
            reached.add(key)
            todo.extend(body_refs[key])
    return set(body_refs), reached


def test_every_def_is_reached_or_allowlisted():
    defs, reached = reached_defs()
    unreached = sorted(defs - reached - set(ALLOWLIST))
    assert unreached == [], (
        "top-level defs that no query, tool or benchmark reaches; delete them "
        f"or allowlist them with a reason: {unreached}"
    )


def test_allowlist_is_not_stale():
    defs, reached = reached_defs()
    missing = sorted(set(ALLOWLIST) - defs)
    assert missing == [], f"allowlisted defs that do not exist: {missing}"
    now_reached = sorted(set(ALLOWLIST) & reached)
    assert now_reached == [], f"allowlisted defs that are now reached: {now_reached}"
    assert all(reason.strip() for reason in ALLOWLIST.values())
