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

One level down, every defaulted parameter of a top-level package function
must be passed a value other than its default, by keyword or by position,
at one name-matched call site at least. The call sites are the files the
call graph scans plus ``tests/`` and ``perfbench/tests``, and "other" means
source text other than the default's. A parameter with one value in use is
a constant: write it into the body, or name it in ``PARAM_ALLOWLIST``. The
same holds for a required parameter that every such call site sets to the
same literal.
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

# "<module path>.<function>.<parameter>" -> why its default (or, for a
# required parameter, the one literal every call site passes) is the only
# value any caller passes, yet it stays a parameter.
_LSH_SHAPE = (
    "the near-dup graph's LSH shape, spelled out as num_hashes=16, "
    "band_bits=4 by the queries and by the tests that replay them"
)
PARAM_ALLOWLIST = {
    "operators.dedup.minhash_lsh_pairs.num_hashes": _LSH_SHAPE,
    "operators.dedup.minhash_lsh_pairs.band_bits": _LSH_SHAPE,
    "operators.multimodal.resize_images.height": (
        "half of the (width, height) target shape, whose width takes two values"
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


def _call_sites() -> dict[str, list[ast.Call]]:
    """Function name -> every call of that name (``f(...)`` or ``x.f(...)``)
    in the package, ``bench.py``, ``__spark_entry__.py``, ``tools/``,
    ``perfbench/`` and ``tests/``."""
    files = [
        *_py_files(os.path.join(REPO_ROOT, PKG)),
        os.path.join(REPO_ROOT, "bench.py"),
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
        *_py_files(os.path.join(REPO_ROOT, "tools")),
        *_py_files(os.path.join(REPO_ROOT, "perfbench")),
        *_py_files(os.path.join(REPO_ROOT, "tests")),
    ]
    calls: dict[str, list[ast.Call]] = {}
    for path in files:
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Name):
                calls.setdefault(fn.id, []).append(node)
            elif isinstance(fn, ast.Attribute):
                calls.setdefault(fn.attr, []).append(node)
    return calls


def _passed(call: ast.Call, positional: list[str], param: str) -> list[str]:
    """Source texts ``call`` passes to ``param``; a ``*`` or ``**`` splat
    counts as passing anything."""
    out = []
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return ["*"]
        if i < len(positional) and positional[i] == param:
            out.append(ast.unparse(arg))
    for kw in call.keywords:
        if kw.arg is None:
            out.append("**")
        elif kw.arg == param:
            out.append(ast.unparse(kw.value))
    return out


def _top_level_functions():
    """(module path under the package, function def) for every top-level
    package function."""
    pkg_dir = os.path.join(REPO_ROOT, PKG)
    for path in _py_files(pkg_dir):
        rel = os.path.relpath(path, pkg_dir)[: -len(".py")].replace(os.sep, ".")
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield rel, stmt


def defaulted_params() -> dict[str, bool]:
    """"<module>.<function>.<parameter>" -> whether a call site passes it a
    value other than its default, for every defaulted parameter of every
    top-level package function."""
    calls = _call_sites()
    out: dict[str, bool] = {}
    for rel, fn in _top_level_functions():
        a = fn.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        first = len(positional) - len(a.defaults)
        defaults = dict(zip(positional[first:], a.defaults))
        defaults |= {
            p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        }
        for param, default in defaults.items():
            text = ast.unparse(default)
            out[f"{rel}.{fn.name}.{param}"] = any(
                passed != text
                for call in calls.get(fn.name, ())
                for passed in _passed(call, positional, param)
            )
    return out


def _is_literal(text: str) -> bool:
    try:
        ast.literal_eval(text)
    except (ValueError, SyntaxError):
        return False
    return True


def one_literal_required_params() -> list[str]:
    """"<module>.<function>.<parameter>" of every required parameter of a
    top-level package function that each of its call sites (one at least)
    passes, and passes the same literal."""
    calls = _call_sites()
    out = []
    for rel, fn in _top_level_functions():
        if any(_is_register(d) for d in fn.decorator_list):
            continue  # (spark, sf_dir) is the registry's calling contract
        a = fn.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        required = positional[: len(positional) - len(a.defaults)] + [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is None
        ]
        sites = calls.get(fn.name, ())
        for param in required:
            passed = [_passed(call, positional, param) for call in sites]
            texts = {t for p in passed for t in p}
            if (
                sites
                and all(len(p) == 1 for p in passed)
                and len(texts) == 1
                and _is_literal(next(iter(texts)))
            ):
                out.append(f"{rel}.{fn.name}.{param}")
    return sorted(out)


def test_every_defaulted_parameter_is_set():
    params = defaulted_params()
    unset = sorted(k for k, is_set in params.items() if not is_set)
    unlisted = [k for k in unset if k not in PARAM_ALLOWLIST]
    assert unlisted == [], (
        "defaulted parameters no call site sets to another value; write the "
        f"default into the body or allowlist them with a reason: {unlisted}"
    )
    one_literal = set(one_literal_required_params())
    stale = sorted(
        k for k in PARAM_ALLOWLIST if params.get(k, True) and k not in one_literal
    )
    assert stale == [], f"allowlisted parameters that are set or gone: {stale}"
    assert all(reason.strip() for reason in PARAM_ALLOWLIST.values())


def test_no_required_parameter_has_one_literal():
    one_value = one_literal_required_params()
    unlisted = [k for k in one_value if k not in PARAM_ALLOWLIST]
    assert unlisted == [], (
        "required parameters every call site sets to the same literal; write "
        f"the value into the body or allowlist them with a reason: {unlisted}"
    )
