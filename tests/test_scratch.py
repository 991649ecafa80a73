"""Per-process scratch root (sources/scratch.py): removed when its owner
exits, never by another process, and one memoized build per key; the
streaming runners' temp checkpoints on /dev/shm go the same way."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

import pytest

from proactive_map_reduce_spark.sources import scratch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(tmp_path, body: str) -> str:
    """Run ``body`` in a fresh interpreter whose tempdir is ``tmp_path``."""
    script = "import os, sys\nfrom proactive_map_reduce_spark.sources import scratch\n"
    out = subprocess.run(
        [sys.executable, "-c", script + textwrap.dedent(body)],
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=60, check=True,
    )
    return out.stdout


def test_scratch_root_removed_at_normal_exit(tmp_path):
    out = _run(tmp_path, """
        d = scratch.scratch_dir("pmr_x_")
        open(os.path.join(d, "f"), "w").close()
        print(os.path.dirname(d))
    """)
    root = out.strip()
    assert os.path.basename(root).startswith("pmr_proc_")
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)


def test_forked_child_exit_keeps_parent_root(tmp_path):
    """A forked child inherits the exit hook; its sys.exit must not remove
    the parent's root (its own scratch root does go)."""
    out = _run(tmp_path, """
        d = scratch.scratch_dir("pmr_x_")
        pid = os.fork()
        if pid == 0:
            print(os.path.dirname(scratch.scratch_dir("pmr_child_")), flush=True)
            sys.exit(0)
        os.waitpid(pid, 0)
        print("parent", os.path.isdir(d), os.path.dirname(d), flush=True)
    """)
    child_line, parent_line = out.strip().splitlines()
    _, alive, root = parent_line.split()
    assert alive == "True"  # the child's exit left the parent's root alone
    assert not os.path.exists(child_line)
    assert not os.path.exists(root)  # the parent's own exit removed it


def test_materialize_once_memoizes_rebuilds_and_forgets_failures():
    calls = []

    def build(path):
        calls.append(path)
        open(os.path.join(path, "data"), "w").close()

    key = ("test", os.getpid(), id(calls))
    first = scratch.materialize_once(key, "pmr_memo_", build)
    assert scratch.materialize_once(key, "pmr_memo_", build) == first
    assert calls == [first]
    os.rename(first, first + "_moved")  # gone: the next call rebuilds
    again = scratch.materialize_once(key, "pmr_memo_", build)
    assert again != first and os.path.isfile(os.path.join(again, "data"))
    assert len(calls) == 2

    made = []

    def broken(path):
        made.append(path)
        raise RuntimeError("build failed")

    bad = ("test-broken", id(made))
    for _ in range(2):
        with pytest.raises(RuntimeError):
            scratch.materialize_once(bad, "pmr_memo_", broken)
    assert len(made) == 2 and not any(os.path.exists(p) for p in made)


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no /dev/shm")
def test_w2_temp_checkpoint_leaves_nothing_in_dev_shm(tmp_path):
    """A process that runs one ``stateful_accumulate`` on a temp checkpoint
    leaves nothing under ``/dev/shm`` once it exits. Ten stages would make
    a state-store snapshot (every ``minDeltasForSnapshot`` = 10 versions
    by default) due at the last commit, still unuploaded when the run
    removes its checkpoint, and a 3 s maintenance interval lets the
    store's background maintenance run while the process sleeps: it must
    not re-create the checkpoint, during the process or after its exit."""
    body = """
        import glob, time
        from pyspark.sql import SparkSession
        from proactive_map_reduce_spark.streaming import proactive

        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "1g")
            .config("spark.sql.streaming.stateStore.maintenanceInterval", "3s")
            .getOrCreate()
        )
        chunks = spark.createDataFrame(
            [(d, c, f"d{d} c{c} w") for d in range(3) for c in range(10)],
            "doc_id long, chunk_id int, chunk_text string",
        )
        assert proactive.stateful_accumulate(spark, chunks).count() == 30
        time.sleep(5)
        print(os.getpid(), len(glob.glob(f"/dev/shm/pmr_proc_{os.getpid()}/*")), flush=True)
    """
    script = "import os\n" + textwrap.dedent(body)
    out = subprocess.run(
        [sys.executable, "-c", script],
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO},
        capture_output=True, text=True, timeout=240, check=True,
    )
    pid, left_in_run = out.stdout.split()[-2:]
    assert left_in_run == "0"  # nothing re-created while the process lived
    time.sleep(3)
    assert not os.path.exists(f"/dev/shm/pmr_proc_{pid}")
