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
    bucketed.write_bucketed(li, "li_b", "l_orderkey")
    bucketed.write_bucketed(orders, "ord_b", "o_orderkey")
    try:
        j = bucketed.co_located_join(spark, "li_b", "ord_b")
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


def test_q_bucketed_join_materializes_once_per_process(spark, tmp_path, monkeypatch):
    """Repeated registry calls in one process build exactly one bucketed
    copy, in one dir under the process's scratch root, and return the
    same rows every time."""
    import glob
    import os
    import shutil
    import tempfile

    from proactive_map_reduce_spark.queries import REGISTRY

    for t in ("lineitem", "orders"):  # a fresh sf_dir: a fresh content key
        shutil.copyfile(f"{SF0001}/{t}.parquet", tmp_path / f"{t}.parquet")
    root = os.path.join(tempfile.gettempdir(), f"pmr_proc_{os.getpid()}")
    before = set(glob.glob(os.path.join(root, "pmr_bucketed_*")))
    writes = []
    real = bucketed.write_bucketed
    monkeypatch.setattr(
        bucketed, "write_bucketed", lambda *a, **k: (writes.append(a[1]), real(*a, **k))
    )
    runs = [
        sorted(REGISTRY["q_bucketed_join"](spark, str(tmp_path)).collect())
        for _ in range(3)
    ]
    assert runs[0] == runs[1] == runs[2] and runs[0]
    assert len(writes) == 2  # lineitem and orders, once each
    assert len(set(glob.glob(os.path.join(root, "pmr_bucketed_*"))) - before) == 1
