"""Bucketed co-located join: zero shuffle exchanges, correct results.

Uses the shared session (its warehouse dir is a temp dir from conftest);
the broadcast threshold is disabled around the assertions so a shuffle
join would be visible in the plan, then restored.
"""

from __future__ import annotations

import pytest

from proactive_map_reduce_spark.plans import audit
from proactive_map_reduce_spark.sources import bucketed
from tests.conftest import SF0001


@pytest.fixture()
def no_broadcast(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield spark
    spark.conf.set(key, old)


def test_bucketed_join_has_no_exchange_and_matches_plain_join(no_broadcast):
    spark = no_broadcast
    li = spark.read.parquet(f"{SF0001}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF0001}/orders.parquet")
    bucketed.write_bucketed(li, "li_b", "l_orderkey", buckets=4)
    bucketed.write_bucketed(orders, "ord_b", "o_orderkey", buckets=4)
    try:
        j = bucketed.co_located_join(spark, "li_b", "ord_b", "l_orderkey", "o_orderkey")
        assert audit.count_exchanges(j) == 0          # co-located: no shuffle
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert audit.count_exchanges(plain) >= 1      # unbucketed: shuffles
        assert j.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_q_bucketed_join_zero_exchange_smj_under_no_broadcast(no_broadcast):
    """The registry query's scale contract: with broadcast off (the 100 TB
    regime where neither side fits an executor), the join is a
    zero-exchange sort-merge over the bucket-sorted scans and the only
    hash exchange in the whole plan is the final aggregation."""
    spark = no_broadcast
    from proactive_map_reduce_spark.queries import REGISTRY

    df = REGISTRY["q_bucketed_join"](spark, SF0001)
    plan = audit.simple_plan(df)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert audit.exchange_counts(df) == {"hash": 1, "single": 0, "roundrobin": 0}


def test_gc_sweeps_orphaned_materializations(spark):
    """ADVICE r4 (relational.py:233): fixture regeneration re-keys the
    content tag, orphaning the previous pmr_bucketed_* dir and its two
    catalog tables. The retention sweep removes idle-past-max-age dirs
    (plus their tables), drops tables whose backing dir vanished, and
    never touches the live tag or a recently-active sibling."""
    import os
    import tempfile
    import time

    from proactive_map_reduce_spark.queries import REGISTRY

    tmp = tempfile.gettempdir()
    dead, fresh, live = "deadbeef0000", "facefeed0000", "aaaabbbb0000"
    paths = {t: os.path.join(tmp, f"pmr_bucketed_{t}") for t in (dead, fresh, live)}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    old = time.time() - 7200
    os.utime(paths[dead], (old, old))
    # stage dir stranded by a crashed writer: ages out like its parent
    stage = os.path.join(tmp, f"pmr_bucketed_{dead}_stage_x")
    os.makedirs(stage, exist_ok=True)
    os.utime(stage, (old, old))
    # catalog entry whose backing dir is gone entirely (metastore outlives /tmp)
    spark.sql("CREATE TABLE IF NOT EXISTS pmr_li_b_000000000000 (x INT) USING parquet")
    try:
        removed = bucketed.gc_stale_materializations(spark, tmp, live)
        assert paths[dead] in removed and stage in removed
        assert not os.path.isdir(paths[dead]) and not os.path.isdir(stage)
        assert os.path.isdir(paths[fresh])      # recent sibling: kept
        assert os.path.isdir(paths[live])       # live tag: kept
        assert not spark.catalog.tableExists("pmr_li_b_000000000000")
    finally:
        for p in (*paths.values(), stage):
            __import__("shutil").rmtree(p, ignore_errors=True)
        spark.sql("DROP TABLE IF EXISTS pmr_li_b_000000000000")

    # end-to-end: repeated registry calls keep exactly one live dir and
    # refresh its mtime (the liveness beacon the age test relies on)
    df = REGISTRY["q_bucketed_join"](spark, SF0001)
    df.collect()
    live_dirs = [
        os.path.join(tmp, n) for n in os.listdir(tmp)
        if n.startswith("pmr_bucketed_") and "_stage_" not in n
    ]
    assert len(live_dirs) >= 1
    for p in live_dirs:  # backdate all; the sf0.001 one must come back
        m = os.stat(p).st_mtime - 10
        os.utime(p, (m, m))
    floor = max(os.stat(p).st_mtime for p in live_dirs)
    REGISTRY["q_bucketed_join"](spark, SF0001).collect()
    assert any(os.stat(p).st_mtime > floor for p in live_dirs)


def test_tmp_retention_sweep(tmp_path):
    """Generalized tempdir TTL (sources/retention.py): idle pmr_* dirs
    and files age out; fresh ones, non-pmr names, and the exempt
    pmr_scale_* replicas survive."""
    import os
    import time as _t

    from proactive_map_reduce_spark.sources import retention

    tmp = str(tmp_path)
    old = _t.time() - 7 * 3600
    mk = lambda n: os.makedirs(os.path.join(tmp, n), exist_ok=True)
    for n in ("pmr_jsonl_dead", "pmr_corpus_dead", "pmr_scale_10x", "other_dir"):
        mk(n)
    mk("pmr_jsonl_fresh")
    with open(os.path.join(tmp, "pmr_stray_file"), "w") as f:
        f.write("x")
    for n in ("pmr_jsonl_dead", "pmr_corpus_dead", "pmr_scale_10x", "other_dir",
              "pmr_stray_file"):
        os.utime(os.path.join(tmp, n), (old, old))
    removed = retention.sweep_tmp_artifacts(parent=tmp)
    names = set(os.listdir(tmp))
    assert names == {"pmr_jsonl_fresh", "pmr_scale_10x", "other_dir"}
    assert len(removed) == 3


def test_tmp_retention_nested_mtime_counts_as_live(tmp_path):
    """ADVICE r5 (retention.py): liveness is the NEWEST mtime anywhere in
    the artifact tree, not the top-level dir mtime — a stale parent dir
    whose nested file was touched recently (parquet commit, sub-cache
    beacon) must survive the sweep."""
    import os
    import time as _t

    from proactive_map_reduce_spark.sources import retention

    tmp = str(tmp_path)
    old = _t.time() - 7 * 3600
    # stale parent, fresh nested file → LIVE
    live = os.path.join(tmp, "pmr_csv_nested_live", "sub")
    os.makedirs(live)
    with open(os.path.join(live, "part-0.csv"), "w") as f:
        f.write("x")
    os.utime(live, (old, old))
    os.utime(os.path.dirname(live), (old, old))
    # stale parent, stale nested file → swept
    dead = os.path.join(tmp, "pmr_csv_nested_dead", "sub")
    os.makedirs(dead)
    deadfile = os.path.join(dead, "part-0.csv")
    with open(deadfile, "w") as f:
        f.write("x")
    for p in (deadfile, dead, os.path.dirname(dead)):
        os.utime(p, (old, old))
    removed = retention.sweep_tmp_artifacts(parent=tmp)
    assert set(os.listdir(tmp)) == {"pmr_csv_nested_live"}
    assert removed == [os.path.join(tmp, "pmr_csv_nested_dead")]


def test_gc_stat_failure_keeps_catalog_tables(spark, monkeypatch):
    """ADVICE r5 (bucketed.py): a transient os.stat failure on a live
    materialization dir must register its tag as live (conservative), so
    the metastore-cleanup pass can't drop catalog tables whose backing
    dir still exists."""
    import os
    import tempfile

    tmp = tempfile.gettempdir()
    tag, live = "cafecafe0000", "aaaabbbb0000"
    path = os.path.join(tmp, f"pmr_bucketed_{tag}")
    os.makedirs(path, exist_ok=True)
    spark.sql(f"CREATE TABLE IF NOT EXISTS pmr_li_b_{tag} (x INT) USING parquet")
    real_stat = os.stat

    def flaky_stat(p, *a, **k):
        if str(p) == path:
            raise OSError("transient")
        return real_stat(p, *a, **k)

    monkeypatch.setattr(bucketed.os, "stat", flaky_stat)
    try:
        removed = bucketed.gc_stale_materializations(spark, tmp, live)
        monkeypatch.undo()  # os.path.isdir below must see the real stat
        assert path not in removed
        assert os.path.isdir(path)
        assert spark.catalog.tableExists(f"pmr_li_b_{tag}")
    finally:
        monkeypatch.undo()
        __import__("shutil").rmtree(path, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS pmr_li_b_{tag}")


def test_tmp_retention_broken_symlink_is_sweepable(tmp_path):
    """ADVICE r6 (retention.py): a broken symlink inside a dead pmr_*
    artifact must not make it permanently unsweepable. os.stat follows
    symlinks (raises on a dangling target, forever); os.lstat stats the
    link itself — the link's own mtime is the liveness signal."""
    import os
    import time as _t

    from proactive_map_reduce_spark.sources import retention

    tmp = str(tmp_path)
    old = _t.time() - 7 * 3600
    dead = os.path.join(tmp, "pmr_link_dead")
    os.makedirs(dead)
    link = os.path.join(dead, "dangling")
    os.symlink(os.path.join(tmp, "no_such_target"), link)
    os.utime(link, (old, old), follow_symlinks=False)
    os.utime(dead, (old, old))
    # a FRESH dangling symlink keeps its artifact live (same lstat path)
    live = os.path.join(tmp, "pmr_link_live")
    os.makedirs(live)
    os.symlink(os.path.join(tmp, "no_such_target"), os.path.join(live, "dangling"))
    os.utime(live, (old, old))
    removed = retention.sweep_tmp_artifacts(parent=tmp)
    assert removed == [dead]
    assert set(os.listdir(tmp)) == {"pmr_link_live"}


def test_tmp_retention_unreadable_subdir_marks_live(tmp_path, monkeypatch):
    """ADVICE r6 (retention.py): os.walk's default onerror silently SKIPS
    unreadable subdirs — which under-counts liveness and could sweep an
    artifact whose only fresh file hides in the unreadable branch. The
    explicit onerror callback must mark the artifact LIVE instead."""
    import os
    import time as _t

    from proactive_map_reduce_spark.sources import retention

    tmp = str(tmp_path)
    old = _t.time() - 7 * 3600
    art = os.path.join(tmp, "pmr_unreadable")
    sub = os.path.join(art, "sub")
    os.makedirs(sub)
    for p in (sub, art):
        os.utime(p, (old, old))
    real_listdir = os.listdir

    def flaky_listdir(p, *a, **k):
        if str(p) == sub:
            raise PermissionError(13, "denied", str(p))
        return real_listdir(p, *a, **k)

    # os.walk resolves listdir via os.scandir; patch scandir instead
    real_scandir = os.scandir

    def flaky_scandir(p="."):
        if str(p) == sub:
            raise PermissionError(13, "denied", str(p))
        return real_scandir(p)

    monkeypatch.setattr(retention.os, "scandir", flaky_scandir, raising=True)
    removed = retention.sweep_tmp_artifacts(parent=tmp)
    assert removed == []
    assert os.path.isdir(art)


def test_tmp_retention_toplevel_dir_symlink(tmp_path):
    """ADVICE r7 (retention.py): a top-level pmr_* entry that is a
    SYMLINK to a directory is judged by the link's own lstat mtime (not
    a walk of the target) and removed with os.remove — the target
    survives, the link is gone, and `removed` stays accurate. Before the
    fix, rmtree on the symlink raised internally (swallowed), the link
    stayed, and the path was still reported removed."""
    import os
    import time as _t

    from proactive_map_reduce_spark.sources import retention

    tmp = str(tmp_path)
    old = _t.time() - 7 * 3600
    # target OUTSIDE the swept parent, with a FRESH file inside: before
    # the fix, the walk of the target would have judged the link live
    target = os.path.join(tmp, "not_pmr_target")
    os.makedirs(target)
    with open(os.path.join(target, "fresh.txt"), "w") as f:
        f.write("x")
    dead_link = os.path.join(tmp, "pmr_dirlink_dead")
    os.symlink(target, dead_link)
    os.utime(dead_link, (old, old), follow_symlinks=False)
    # a fresh dir link survives
    live_link = os.path.join(tmp, "pmr_dirlink_live")
    os.symlink(target, live_link)
    removed = retention.sweep_tmp_artifacts(parent=tmp)
    assert removed == [dead_link]
    assert not os.path.lexists(dead_link)
    assert os.path.lexists(live_link)
    assert os.path.isfile(os.path.join(target, "fresh.txt"))  # target intact
