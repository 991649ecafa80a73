"""One lifetime for every engine temp artifact: the process that made it.

Files that must outlive the call that wrote them (a sink round-trip's
read-back, the text-corpus and bucketed materializations, streaming stage
files, emissions and temp checkpoints) live under a per-process root,
``<base>/pmr_proc_<pid>`` (``base`` is the temp dir, or ``/dev/shm`` for
streaming checkpoints), and one ``atexit`` hook removes every such root
when the process exits. No process deletes another process's files; a
process killed with SIGKILL leaves its root behind, named by the owner's
pid.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_owner = 0  # pid whose exit hook removes ``_roots``
_roots: set[str] = set()
_memo: dict = {}


def _remove_roots(pid: int) -> None:
    if os.getpid() == pid:  # a forked child inherits the hook, not the files
        for root in _roots:
            shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str, base: str | None = None) -> str:
    """A fresh dir under this process's root in ``base`` (default: the
    temp dir), removed at exit."""
    global _owner
    if _owner != os.getpid():
        _owner = os.getpid()
        _roots.clear()
        atexit.register(_remove_roots, _owner)
    # re-created on demand: a caller may have deleted the root meanwhile
    root = os.path.join(base or tempfile.gettempdir(), f"pmr_proc_{_owner}")
    os.makedirs(root, exist_ok=True)
    _roots.add(root)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def materialize_once(key, prefix: str, build) -> str:
    """The ``scratch_dir`` that ``build(path)`` filled for ``key`` in this
    process, built on first use and again if the dir has gone. A ``build``
    that raises leaves nothing behind and nothing memoized. Concurrent
    first calls may each build; every copy is complete and goes at exit."""
    path = _memo.get(key)
    if path is None or not os.path.isdir(path):
        path = scratch_dir(prefix)
        try:
            build(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        _memo[key] = path
    return path
