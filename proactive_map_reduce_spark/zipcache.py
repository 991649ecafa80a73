"""Zip-archive directory caching for the Python workers that run engine code.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``). On CPython
3.11 and 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory. A worker that imported pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB) holds 16 zipimporters,
so each Python task started with 16 full directory reads: 120-310 ms
per call inside a reused worker (4 vCPU, Python 3.11.7, Spark 4.1.2),
against a 12-34 ms JVM CPU time for a 48-row task. CPython 3.13 made
the method lazy.

``install`` backports that behaviour on interpreters older than 3.13: a
zipimporter re-reads its archive's directory only when the archive
changed on disk since the last read — its ``(st_ino, st_size,
st_mtime_ns)`` differs — or when it cannot be stat'ed. An unchanged
archive keeps its cached directory, which is the directory a re-read
would return; a rewritten archive is re-read exactly as before. On 3.13+
``install`` does nothing.

Every engine seam that runs Python in a worker (``mapInPandas``,
``pandas_udf``, ``F.udf``) calls ``zipcache.install()`` in its function.
cloudpickle pickles those functions by value and pickles the module they
name by reference, so the worker imports this module even when the
seam's callable (a user ``model_fn``) never imports the engine package.
``tests/test_zipcache.py`` guards that every seam does. The install is
idempotent and patches once per process.

Out of scope: a fresh worker's first task still pays the re-read once,
because PySpark invalidates the caches before it unpickles the task's
command. Removing that cost means changing ``SPARK_HOME``, the
interpreter, or the worker/daemon module — deployment, not engine code.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int, int] | None:
    """``(st_ino, st_size, st_mtime_ns)``, or None when it cannot be stat'ed."""
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed archive."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches
    # archive path -> its stamp taken before its last read
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        # stat BEFORE the read: an archive rewritten during the read keeps
        # the older stamp, so the next call re-reads it
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    invalidate_caches.__doc__ = reread.__doc__
    cls.invalidate_caches = invalidate_caches
