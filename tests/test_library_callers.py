"""Every library def and public method has an engine caller, every
library parameter takes more than one value in engine code, and every
tool has a caller.

Each operator keeps one implementation, the library holds no code that
only tests or tools call, a value the engine never varies is a constant
the operator reads itself, not an option, and no tool sits in the tree
that nothing runs. These scans parse the engine code — the package,
``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and ``examples/`` —
with ``ast`` and check the top-level defs of the library modules below:

- a def, class or public method of a class fails when its name is never
  referenced (a ``Name`` or ``Attribute`` node, f-string expressions
  included) outside its own definition. A method that shares its name
  with another engine method (``add``, ``clear``) counts as called.
  Imports, comments and strings do not count as callers;
- a parameter of a top-level function fails when every engine call of
  that function (by name or attribute) passes it the same constant
  expression, counting a left-out argument as its default, or when no
  engine call passes a defaulted parameter at all. A constant
  expression is a literal, an UPPER_CASE module constant (``N_SALTS``,
  ``sim_ops.EMBED_DIM``) or arithmetic over those, compared by
  ``ast.dump``. A call that passes ``*args`` / ``**kwargs`` or any other
  expression (a call, a lower-case name, a column) varies the parameter.

A tool (``tools/*.py``) fails when no other tool or test imports it or
runs it by file name, and no line of README.md or the verify skill
names it as ``tools/<name>.py``.

Pure Python: no Spark session.
"""

from __future__ import annotations

import ast
import os
import re
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

#: Where a tool's caller counts: code that imports or runs it, and docs
#: whose lines name its usage.
TOOL_CALLERS = ["tools", "tests"]
TOOL_DOCS = ["README.md", ".claude/skills/verify/SKILL.md"]

#: Helpers that tests use as a reference, not the engine. A whole-module
#: entry is a path; a single def is "path::name", a method
#: "path::Class.name".
ALLOWED = {
    "plans/audit.py": "physical-plan assertions the plan and shuffle-budget tests run over queries",
    "functions/numeric.py::decimal_sum_sql": "DuckDB mirror of the exact decimal sum, checked against Spark by tests",
    "functions/scoring.py::rouge_l": "pure-Python ROUGE-L the property tests check lcs_udf and q_rouge against",
}

_DEPLOYMENT_PATH = "deployment path: where a stream's files live stays configurable"
_SEAM = "black-box seam: the model or codec a deployment plugs in"
_FOLD_SEED = "a property test seeds the private fold with another fold's final state"

#: Parameters every engine call passes one value, as "path::func(param)".
ALLOWED_PARAMS = {
    "streaming/proactive.py::write_stage_files(root)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::stage_pipeline(out_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::stage_pipeline(checkpoint_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::refeed_chain(out_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::refeed_chain(state_dir)": _DEPLOYMENT_PATH,
    "streaming/proactive.py::refeed_chain(model_fn)": _SEAM,
    "operators/multimodal.py::extract_features(codec)": _SEAM,
    "operators/multimodal.py::resize_media(codec)": _SEAM,
    "streaming/proactive.py::_refeed_fold(finish)": "a property test seeds the private fold with a non-empty finish",
    "streaming/proactive.py::_refeed_fold(chain0)": _FOLD_SEED,
    "streaming/proactive.py::_refeed_fold(acc0)": _FOLD_SEED,
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
        named = [(d.name, d)]
        if isinstance(d, ast.ClassDef):
            named += [
                (f"{d.name}.{m.name}", m)
                for m in d.body
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not m.name.startswith("_")
            ]
        for qual, node in named:
            for key in (rel, f"{rel}::{qual}"):
                if key in ALLOWED:
                    allowed_seen.add(key)
                    break
            else:
                if not any(not _inside(n, f, node, path) for f, n in refs.get(node.name, [])):
                    out.append(f"{rel}::{qual}")
    # a stale allowlist entry (renamed or deleted def) is a failure too
    out += [f"stale ALLOWED entry {k}" for k in ALLOWED if k not in allowed_seen]
    return out


def _params(fn: ast.FunctionDef):
    """(name, positional index or None, default node or None) per
    parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
    for i, (arg, default) in enumerate(zip(pos, defaults)):
        yield arg.arg, i, default
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        yield arg.arg, None, default


def _passed(call: ast.Call, param: str, index: int | None, default):
    """What ``call`` passes for the parameter: the argument node, the
    default node when it leaves the parameter out, or None when it
    cannot tell (``*args`` / ``**kwargs``)."""
    for k in call.keywords:
        if k.arg == param:
            return k.value
    if any(k.arg is None for k in call.keywords) or any(
        isinstance(a, ast.Starred) for a in call.args
    ):
        return None
    if index is not None and len(call.args) > index:
        return call.args[index]
    return default


def _is_constant(node: ast.AST) -> bool:
    """True for a constant expression: a literal, an UPPER_CASE module
    constant (``N_SALTS``, ``sim_ops.EMBED_DIM``), or arithmetic and
    containers over those. A call, a lower-case name or a column
    expression is data, so a one-call data argument never counts."""
    if isinstance(node, ast.Constant):
        return True
    if isinstance(node, ast.Name):
        return node.id.isupper()
    if isinstance(node, ast.Attribute):
        return node.attr.isupper()
    if isinstance(node, ast.BinOp):
        return _is_constant(node.left) and _is_constant(node.right)
    if isinstance(node, ast.UnaryOp):
        return _is_constant(node.operand)
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return all(_is_constant(e) for e in node.elts)
    if isinstance(node, ast.Dict):
        return all(k is not None and _is_constant(k) for k in node.keys) and all(
            _is_constant(v) for v in node.values
        )
    return False


def _value(node, default):
    """A hashable stand-in for a passed value: the ``ast.dump`` of a
    constant expression, one token for a non-constant default, and a
    token no other call shares for anything else."""
    if node is None:
        return object()
    if _is_constant(node):
        return ("constant", ast.dump(node))
    return ("default",) if node is default else object()


def _single_value_params() -> list[str]:
    """Library parameters that every engine call passes one value: the
    same literal, or the default by leaving the parameter out. A
    defaulted parameter of a def no engine code calls counts too."""
    calls: dict[str, list] = defaultdict(list)
    for path, _, name, call in _engine_refs():
        if call is not None:
            calls[name].append((path, call))
    out, allowed_seen = [], set()
    for rel, d, path in _library_defs():
        if isinstance(d, ast.ClassDef):
            continue
        mine = [c for f, c in calls.get(d.name, []) if not _inside(c, f, d, path)]
        for param, index, default in _params(d):
            passed = [_passed(c, param, index, default) for c in mine]
            if not passed:
                passed = [default] if default is not None else []
            values = {_value(n, default) for n in passed}
            if len(values) != 1 or not isinstance(next(iter(values)), tuple):
                continue
            key = f"{rel}::{d.name}({param})"
            if key in ALLOWED_PARAMS:
                allowed_seen.add(key)
            else:
                out.append(f"{key} = {ast.unparse(passed[0])}")
    # an entry whose parameter is gone, or that engine code now varies
    out += [f"stale ALLOWED_PARAMS entry {k}" for k in ALLOWED_PARAMS if k not in allowed_seen]
    return out


def _tool_refs(path: str) -> set[str]:
    """Module stems ``path`` imports, and ``.py`` files it names in a
    path-like string (how a tool or test runs another as a script)."""
    out = set()
    for n in ast.walk(_parse(path)):
        if isinstance(n, ast.Import):
            out.update(a.name.split(".")[-1] for a in n.names)
        elif isinstance(n, ast.ImportFrom) and n.module:
            out.add(n.module.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if re.fullmatch(r"[\w./-]+\.py", n.value):
                out.add(os.path.basename(n.value)[:-3])
    return out


def _uncalled_tools() -> list[str]:
    tools = {f[:-3] for f in os.listdir(os.path.join(ROOT, "tools")) if f.endswith(".py")}
    used = set()
    for rel in TOOL_CALLERS:
        for path in _py_files(rel):
            me = os.path.basename(path)[:-3] if rel == "tools" else None
            used |= _tool_refs(path) - {me}
    for doc in TOOL_DOCS:
        with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
            used.update(re.findall(r"tools/(\w+)\.py", f.read()))
    return sorted(f"tools/{t}.py" for t in tools - used)


def test_constant_expression_classifier():
    """The rule that keeps one-call data arguments out of the parameter
    scan: only literals, UPPER_CASE constants and arithmetic over them
    count as constant."""
    def const(src):
        return _is_constant(ast.parse(src, mode="eval").body)

    for src in ("3", "CONST", "mod.CONST", "30 * 60 * CONST", "-1", '["a", B]'):
        assert const(src), src
    for src in ("f(x)", "df", "F.col('pos')", "mod.value", "n * CONST"):
        assert not const(src), src


def test_every_tool_has_a_caller():
    assert _uncalled_tools() == [], (
        "tools that no tool or test imports or runs and no README/verify "
        "skill line names: delete them, or document their usage"
    )


def test_every_library_def_has_an_engine_caller():
    assert _uncalled() == [], (
        "library defs and public methods with no caller in engine code: "
        "delete them, or add a reasoned ALLOWED entry if tests use them "
        "as a reference"
    )


def test_every_library_parameter_is_set_by_an_engine_caller():
    flagged = _single_value_params()
    assert flagged == [], (
        "library parameters every engine call passes one value (shown "
        "after '='): inline it as a constant, or add a reasoned "
        "ALLOWED_PARAMS entry:\n  " + "\n  ".join(flagged)
    )
