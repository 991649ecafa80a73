"""Every library def and every defaulted library parameter has an engine
caller.

Each operator keeps one implementation, the library holds no code that
only tests or tools call, and a value only one caller uses is a constant,
not an option. These scans parse the engine code — the package,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``examples/`` —
with ``ast`` and check the top-level defs of the library modules below:

- a def or class fails when its name is never referenced (a ``Name`` or
  ``Attribute`` node, f-string expressions included) outside its own
  definition. Imports, comments and strings do not count as callers;
- a defaulted parameter of a top-level function fails when no engine
  call of that function (by name or attribute) passes it by keyword or
  by position, or passes ``*args`` / ``**kwargs``.

Pure Python: no Spark session.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "proactive_map_reduce_spark")

#: Library code whose top-level defs must have an engine caller.
LIBRARY = [
    "operators", "functions", "sources", "plans", "streaming",
    "pipeline.py", "session.py", "zipcache.py",
]

#: Engine code: where a caller counts.
ENGINE = ["proactive_map_reduce_spark", "perfbench", "examples", "__spark_entry__.py", "bench.py"]

#: Helpers that tests use as a reference, not the engine. A whole-module
#: entry is a path; a single def is "path::name".
ALLOWED = {
    "plans/audit.py": "physical-plan assertions the plan and shuffle-budget tests run over queries",
    "functions/numeric.py::decimal_sum_sql": "DuckDB mirror of the exact decimal sum, checked against Spark by tests",
    "functions/scoring.py::rouge_l": "pure-Python ROUGE-L the property tests check lcs_udf and q_rouge against",
    "plans/cache.py::cache_key": "K5 cache key; tests pin its injectivity and the tiered cache keys on it",
}

_DEPLOYMENT_PATH = "deployment path: where a stream's files live stays configurable"
_SEAM = "black-box seam: the model or codec a deployment plugs in"

#: Defaulted parameters no engine caller sets, as "path::func(param)".
ALLOWED_PARAMS = {
    "streaming/proactive.py::write_stage_files(root)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::stage_pipeline(out_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::stage_pipeline(checkpoint_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::stateful_accumulate(checkpoint_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::refeed_chain(out_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::refeed_chain(state_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::refeed_chain(checkpoint_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::refeed_chain(model_fn)": _SEAM,
    "operators/multimodal.py::extract_features(codec)": _SEAM,
    "operators/multimodal.py::resize_media(codec)": _SEAM,
    "functions/numeric.py::decimal_sum_sql(dp)": "DuckDB mirror of decimal_sum's dp, which engine code sets",
    "plans/cache.py::cache_key(layer)": "K5 cache key input; tests pin the key's injectivity over it",
    "streaming/proactive.py::_refeed_fold(finish)": "a property test seeds the private fold with a non-empty finish",
}


def _py_files(rel: str) -> list[str]:
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        return [path]
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in sorted(fs)
        if f.endswith(".py")
    ]


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read())


def _engine_refs():
    """(file, node, referenced name, the call it names or None) for every
    ``Name``/``Attribute`` node of engine code; a name bound by
    ``import … as alias`` resolves to the imported name. Imports hold
    ``alias`` nodes, never ``Name``/``Attribute``, so an import alone
    never counts."""
    for rel in ENGINE:
        for path in _py_files(rel):
            nodes = list(ast.walk(_parse(path)))
            renamed = {
                a.asname: a.name
                for n in nodes
                if isinstance(n, (ast.Import, ast.ImportFrom))
                for a in n.names
                if a.asname
            }
            called = {id(n.func): n for n in nodes if isinstance(n, ast.Call)}
            for node in nodes:
                if isinstance(node, ast.Name):
                    name = renamed.get(node.id, node.id)
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                else:
                    continue
                yield path, node, name, called.get(id(node))


def _library_defs():
    """(relative path, def node, file) per top-level def or class."""
    for rel in LIBRARY:
        for path in _py_files(os.path.join("proactive_map_reduce_spark", rel)):
            for node in _parse(path).body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    yield os.path.relpath(path, PKG), node, path


def _inside(node: ast.AST, path: str, owner: ast.AST, owner_path: str) -> bool:
    """True when ``node`` sits in ``owner``'s own definition."""
    first = min([owner.lineno] + [d.lineno for d in owner.decorator_list])
    return path == owner_path and first <= node.lineno <= owner.end_lineno


def _uncalled() -> list[str]:
    refs: dict[str, list] = defaultdict(list)
    for path, node, name, _ in _engine_refs():
        refs[name].append((path, node))
    out, allowed_seen = [], set()
    for rel, d, path in _library_defs():
        for key in (rel, f"{rel}::{d.name}"):
            if key in ALLOWED:
                allowed_seen.add(key)
                break
        else:
            if not any(not _inside(n, f, d, path) for f, n in refs.get(d.name, [])):
                out.append(f"{rel}::{d.name}")
    # a stale allowlist entry (renamed or deleted def) is a failure too
    out += [f"stale ALLOWED entry {k}" for k in ALLOWED if k not in allowed_seen]
    return out


def _defaulted_params(fn: ast.FunctionDef):
    """(name, positional index or None) per parameter with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    for i in range(len(pos) - len(a.defaults), len(pos)):
        yield pos[i].arg, i
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _sets(call: ast.Call, param: str, index: int | None) -> bool:
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return index is not None and len(call.args) > index


def _unset_params() -> list[str]:
    calls: dict[str, list] = defaultdict(list)
    for path, _, name, call in _engine_refs():
        if call is not None:
            calls[name].append((path, call))
    out, allowed_seen = [], set()
    for rel, d, path in _library_defs():
        if isinstance(d, ast.ClassDef):
            continue
        for param, index in _defaulted_params(d):
            key = f"{rel}::{d.name}({param})"
            if any(
                _sets(c, param, index) and not _inside(c, f, d, path)
                for f, c in calls.get(d.name, [])
            ):
                continue
            if key in ALLOWED_PARAMS:
                allowed_seen.add(key)
            else:
                out.append(key)
    # an entry whose parameter is gone, or that engine code now sets
    out += [f"stale ALLOWED_PARAMS entry {k}" for k in ALLOWED_PARAMS if k not in allowed_seen]
    return out


def test_every_library_def_has_an_engine_caller():
    assert _uncalled() == [], (
        "library defs with no caller in engine code: delete them, or "
        "add a reasoned ALLOWED entry if tests use them as a reference"
    )


def test_every_library_parameter_is_set_by_an_engine_caller():
    assert _unset_params() == [], (
        "defaulted library parameters no engine caller sets: inline the "
        "default, or add a reasoned ALLOWED_PARAMS entry"
    )
