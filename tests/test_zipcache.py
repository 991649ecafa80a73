"""On-change zip-directory invalidation (``proactive_map_reduce_spark.zipcache``).

- the semantics, in process, on every Python version: an unchanged
  archive is not re-read by ``importlib.invalidate_caches()``, a
  rewritten one is;
- the worker path: a ``model_fn`` pickled by value, which never imports
  the engine, sees the install from inside the Python worker;
- the guard: every ``mapInPandas`` / ``pandas_udf`` / ``udf`` site in the
  package names the helper in its function, so cloudpickle ships a
  reference to it with the function.
"""

from __future__ import annotations

import ast
import importlib
import os
import sys
import zipfile
import zipimport

from proactive_map_reduce_spark import zipcache

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "proactive_map_reduce_spark")
HELPER = "proactive_map_reduce_spark.zipcache"
ON_CHANGE = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pmr_zc_a": "X = 1\n"})
    stdlib = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    if ON_CHANGE:
        assert zipimport.zipimporter.invalidate_caches.__module__ == HELPER
    else:
        assert zipimport.zipimporter.invalidate_caches is stdlib
    zipcache.install()  # idempotent: no second wrapper
    assert zipimport.zipimporter.invalidate_caches.__module__ == (
        HELPER if ON_CHANGE else "zipimport"
    )

    monkeypatch.syspath_prepend(archive)
    try:
        import pmr_zc_a

        assert pmr_zc_a.X == 1
        importlib.invalidate_caches()  # the first call after a read stamps the archive

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        if ON_CHANGE:
            assert archive not in reads

        _write_zip(archive, {"pmr_zc_a": "X = 1\n", "pmr_zc_b": "Y = 2\n"})
        importlib.invalidate_caches()
        import pmr_zc_b

        assert pmr_zc_b.Y == 2
        if ON_CHANGE:
            assert reads.count(archive) == 1
    finally:
        for name in ("pmr_zc_a", "pmr_zc_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_llm_map_worker_installs_on_change_invalidation(spark, tmp_path):
    """The ``model_fn`` is defined here, so cloudpickle ships it by value
    and the worker never imports the engine for it; it writes the module
    of the worker's ``invalidate_caches`` on its first call."""
    from proactive_map_reduce_spark.operators import mapstage

    probe = str(tmp_path / "invalidate_caches_module")

    def model_fn(batch):
        import zipimport as zi

        import pandas as pd

        if not os.path.exists(probe):
            with open(probe, "w") as f:
                f.write(zi.zipimporter.invalidate_caches.__module__)
        texts = batch["chunk_text"].tolist()
        return pd.DataFrame(
            {
                "doc_id": batch["doc_id"].to_numpy(),
                "chunk_id": batch["chunk_id"].to_numpy(),
                "out_text": [" ".join(reversed(t.split(" "))) for t in texts],
            }
        )

    rows = [(d, c, f"doc {d} chunk {c} words") for d in range(4) for c in range(3)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id int, chunk_text string"
    ).coalesce(1)
    got = sorted(tuple(r) for r in mapstage.llm_map(chunks, model_fn).collect())
    want = sorted(tuple(r) for r in mapstage.llm_map(chunks).collect())
    assert got == want == sorted(
        (d, c, " ".join(reversed(t.split(" "))), len(t.split(" "))) for d, c, t in rows
    )
    with open(probe) as f:
        assert f.read() == (HELPER if ON_CHANGE else "zipimport")


# --- guard: every Python-worker seam names the helper -----------------------

#: DataFrame methods whose first argument runs in a Python worker.
_MAP_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInArrow"}
#: Decorators / wrappers that turn a function into a Python UDF.
_UDF_NAMES = {"udf", "pandas_udf"}


def _name_of(node: ast.AST) -> str | None:
    node = node.func if isinstance(node, ast.Call) else node
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _helper_aliases(tree: ast.Module) -> set[str]:
    """Names a module binds to the helper module or to one of its defs."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom):
            for a in n.names:
                if a.name == "zipcache" or (n.module or "").endswith("zipcache"):
                    out.add(a.asname or a.name)
        elif isinstance(n, ast.Import):
            out |= {a.asname for a in n.names if a.name == HELPER and a.asname}
    return out


def _seam_sites():
    """(file, function name, function node or None, file aliases) per
    Python-worker seam: a def decorated as a UDF, or the function passed
    to a map method or a UDF wrapper (the nearest def of that name above
    the call; None when the site names no def of this file)."""
    for d, _, fs in os.walk(PKG):
        for f in sorted(fs):
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            aliases = _helper_aliases(tree)
            nodes = list(ast.walk(tree))
            defs = [n for n in nodes if isinstance(n, ast.FunctionDef)]
            decorators = set()
            for n in defs:
                decorators |= {id(dec) for dec in n.decorator_list}
                if any(_name_of(dec) in _UDF_NAMES for dec in n.decorator_list):
                    yield rel, n.name, n, aliases
            for n in nodes:
                if (
                    not isinstance(n, ast.Call)
                    or id(n) in decorators
                    or not n.args
                    or _name_of(n) not in _MAP_METHODS | _UDF_NAMES
                ):
                    continue
                fn = n.args[0]
                if isinstance(fn, ast.Lambda):
                    yield rel, "<lambda>", fn, aliases
                    continue
                name = fn.id if isinstance(fn, ast.Name) else ast.unparse(fn)
                named = [x for x in defs if x.name == name and x.lineno < n.lineno]
                yield rel, name, max(named, key=lambda x: x.lineno, default=None), aliases


def _names_helper(fn: ast.AST | None, aliases: set[str]) -> bool:
    return fn is not None and any(
        isinstance(n, ast.Name) and n.id in aliases for n in ast.walk(fn)
    )


def test_every_python_seam_names_the_zipcache_helper():
    sites = list(_seam_sites())
    assert {
        ("operators/mapstage.py", "run"),
        ("operators/multimodal.py", "run"),
        ("functions/scoring.py", "bleu_udf"),
        ("functions/scoring.py", "lcs_udf"),
        ("operators/chunking.py", "_middle_drop_surviving"),
    } <= {(rel, name) for rel, name, _, _ in sites}
    missing = [
        f"{rel}::{name}" for rel, name, fn, aliases in sites
        if not _names_helper(fn, aliases)
    ]
    assert missing == [], (
        "Python-worker seams that do not call zipcache.install(): every "
        "Python task in their worker re-reads pyspark.zip's directory"
    )
