"""Every library def has an engine caller.

Each operator keeps one implementation, and the library holds no code
that only tests or tools call. This scan tokenizes the engine code — the
package, ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and
``examples/`` — and fails for any top-level def or class in the library
modules below whose name never appears as a code token outside its own
definition. Comments and strings do not count as callers. Pure Python:
no Spark session.
"""

from __future__ import annotations

import ast
import io
import os
import tokenize
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "proactive_map_reduce_spark")

#: Library code whose top-level defs must have an engine caller.
LIBRARY = ["operators", "functions", "sources", "plans", "streaming", "pipeline.py", "session.py"]

#: Engine code: where a caller counts.
ENGINE = ["proactive_map_reduce_spark", "perfbench", "examples", "__spark_entry__.py", "bench.py"]

#: Helpers that tests use as a reference, not the engine. A whole-module
#: entry is a path; a single def is "path::name".
ALLOWED = {
    "plans/audit.py": "physical-plan assertions the plan and shuffle-budget tests run over queries",
    "functions/numeric.py::decimal_sum_sql": "DuckDB mirror of the exact decimal sum, checked against Spark by tests",
    "plans/cache.py::cache_key": "K5 cache key; tests pin its injectivity and the tiered cache keys on it",
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


def _name_tokens() -> dict[str, list[tuple[str, int]]]:
    """name -> [(file, line)] for every NAME token in engine code."""
    seen: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for rel in ENGINE:
        for path in _py_files(rel):
            with open(path, encoding="utf-8") as f:
                src = f.read()
            for tok in tokenize.generate_tokens(io.StringIO(src).readline):
                if tok.type == tokenize.NAME:
                    seen[tok.string].append((path, tok.start[0]))
    return seen


def _library_defs():
    """(relative path, name, file, first line, last line) per top-level def."""
    for rel in LIBRARY:
        for path in _py_files(os.path.join("proactive_map_reduce_spark", rel)):
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                    yield os.path.relpath(path, PKG), node.name, path, first, node.end_lineno


def _uncalled() -> list[str]:
    tokens = _name_tokens()
    out, allowed_seen = [], set()
    for rel, name, path, first, last in _library_defs():
        for key in (rel, f"{rel}::{name}"):
            if key in ALLOWED:
                allowed_seen.add(key)
                break
        else:
            callers = [
                (f, ln) for f, ln in tokens.get(name, [])
                if not (f == path and first <= ln <= last)
            ]
            if not callers:
                out.append(f"{rel}::{name}")
    # a stale allowlist entry (renamed or deleted def) is a failure too
    out += [f"stale ALLOWED entry {k}" for k in ALLOWED if k not in allowed_seen]
    return out


def test_every_library_def_has_an_engine_caller():
    assert _uncalled() == [], (
        "library defs with no caller in engine code: delete them, or "
        "add a reasoned ALLOWED entry if tests use them as a reference"
    )
