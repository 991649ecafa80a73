"""Build-once cache for the tools' derived fixtures.

A fixture lives at ``<parent>/<prefix>_<tag>``, where ``tag`` hashes
whatever the fixture is derived from (source data signature, the
tool's source bytes). It is complete once its ``_FIXTURE_COMPLETE`` marker
exists. A build writes into a private ``<prefix>_stage_*`` dir on the
target's filesystem, so the final rename is atomic and never crosses a
device; a process that loses a concurrent-rename race keeps the
winner's fixture. After a build, the prefix's other ``<prefix>_<tag>``
dirs are superseded and removed; other processes' stage dirs are not.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

MARKER = "_FIXTURE_COMPLETE"


def cached_fixture(out: str, build) -> str:
    """Return ``out``, first filling it with ``build(stage_dir)`` unless
    a complete fixture is already there."""
    done = os.path.join(out, MARKER)
    if os.path.exists(done):
        print(f"reusing fixture {out}", flush=True)
        return out
    parent, name = os.path.split(out)
    prefix = name.rsplit("_", 1)[0]
    stage = tempfile.mkdtemp(prefix=f"{prefix}_stage_", dir=parent)
    try:
        build(stage)
        open(os.path.join(stage, MARKER), "w").close()
        try:
            os.rename(stage, out)
        except OSError:
            # only a lost race is swallowable, and only when the winner's
            # complete fixture exists: anything else (EXDEV, permissions)
            # must surface instead of returning a path that does not exist
            if not os.path.exists(done):
                raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)  # gone after a rename
    superseded = re.compile(rf"{re.escape(prefix)}_[0-9a-f]+")
    for other in os.listdir(parent):
        if other != name and superseded.fullmatch(other):
            shutil.rmtree(os.path.join(parent, other), ignore_errors=True)
    print(f"built fixture {out}", flush=True)
    return out
