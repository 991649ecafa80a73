"""Incremental view maintenance == full recompute (SURVEY §2.13 analog)."""

from __future__ import annotations

from pyspark.sql import functions as F

from proactive_map_reduce_spark.plans.incremental import IncrementalAggregate


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(lo, hi)], "id long, section int, v double"
    )


def _full(df):
    return {
        r["section"]: (round(r["total"], 6), r["n"], r["lo"], r["hi"])
        for r in df.groupBy("section")
        .agg(
            F.sum("v").alias("total"),
            F.count("v").cast("double").alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }


def test_incremental_equals_full_recompute(spark):
    base = _rows(spark, 0, 500)
    delta1 = _rows(spark, 500, 600)
    delta2 = _rows(spark, 600, 610)

    inc = IncrementalAggregate(
        "section",
        {"total": ("sum", "v"), "n": ("count", "v"), "lo": ("min", "v"), "hi": ("max", "v")},
    )
    inc.initialize(base)
    assert inc.apply_delta(delta1) == 7       # every section touched
    assert inc.apply_delta(delta2) <= 7       # small delta → few partitions

    got = {
        r["section"]: (round(r["total"], 6), r["n"], r["lo"], r["hi"])
        for r in inc.result().collect()
    }
    want = _full(base.unionByName(delta1).unionByName(delta2))
    assert got == want
    inc.result().unpersist()


def test_incremental_untouched_partitions_stable(spark):
    base = _rows(spark, 0, 70)
    inc = IncrementalAggregate("section", {"total": ("sum", "v")})
    inc.initialize(base)
    before = {r["section"]: r["total"] for r in inc.result().collect()}
    # delta touches only section 0
    delta = spark.createDataFrame([(1000, 0, 5.0)], "id long, section int, v double")
    assert inc.apply_delta(delta) == 1
    after = {r["section"]: r["total"] for r in inc.result().collect()}
    assert after[0] == before[0] + 5.0
    for s in before:
        if s != 0:
            assert after[s] == before[s]
    inc.result().unpersist()


def _executed_metrics(df):
    """(parquet_scan_rows, parquet_files_size, shuffle_records, scan_strs)
    of an already-executed DataFrame's physical plan (AQE off → plain
    tree). A persist()ed df's executed plan is just an InMemoryTableScan;
    the work that BUILT the cache lives in `relation().cachedPlan()`, so
    descend one level into it — but treat InMemoryTableScans inside that
    build plan as leaves (they read previously cached partials, and their
    own build cost belongs to the earlier step, not this one)."""
    rows = size = shuffled = 0
    scan_strs = []
    plan = df._jdf.queryExecution().executedPlan()

    def walk(node, into_cache):
        nonlocal rows, size, shuffled
        name = node.nodeName()
        try:
            m = node.metrics()
            it = m.keys().iterator()
            kv = {}
            while it.hasNext():
                k = it.next()
                kv[k] = m.apply(k).value()
        except Exception:
            kv = {}
        if name.startswith("Scan parquet"):
            rows += kv.get("numOutputRows", 0)
            size += kv.get("filesSize", 0)
            try:  # full (untruncated) root paths of the scanned location
                paths = node.relation().location().rootPaths()
                scan_strs.append(
                    ";".join(paths.apply(i).toString() for i in range(paths.size()))
                )
            except Exception:
                scan_strs.append(node.toString())
        if name.startswith("Exchange"):
            shuffled += kv.get("shuffleRecordsWritten", 0)
        if name.startswith("InMemoryTableScan"):
            if into_cache:
                walk(node.relation().cachedPlan(), False)
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), into_cache)

    walk(plan, True)
    return rows, size, shuffled, scan_strs


def test_delta_path_does_strictly_less_work_than_recompute(spark, tmp_path):
    """§2.13's point (cache_utils.py:99-112): the delta path must do LESS
    work, not just produce equal answers. Pin the executed-plan metrics:
    the merge after a delta scans only the delta file (never the base),
    and its scanned rows/bytes are a small fraction of a full recompute's.
    """
    base_dir = str(tmp_path / "incbase")
    delta_dir = str(tmp_path / "incdelta")
    spark.range(100_000).selectExpr(
        "id", "cast(id % 7 as int) as section", "cast(id as double) as v"
    ).write.parquet(base_dir)
    spark.range(100_000, 100_500).selectExpr(
        "id", "cast(id % 7 as int) as section", "cast(id as double) as v"
    ).write.parquet(delta_dir)

    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # full recompute over base+delta
        full = (
            spark.read.parquet(base_dir, delta_dir)
            .groupBy("section")
            .agg(F.sum("v").alias("total"))
        )
        full_rows = {r["section"]: r["total"] for r in full.collect()}
        f_rows, f_size, f_shuf, _ = _executed_metrics(full)
        assert f_rows >= 100_500  # recompute pays the whole base

        inc = IncrementalAggregate("section", {"total": ("sum", "v")})
        inc.initialize(spark.read.parquet(base_dir))
        inc.apply_delta(spark.read.parquet(delta_dir))
        # inc.partials IS the merged dataset apply_delta just executed
        d_rows, d_size, d_shuf, d_scans = _executed_metrics(inc.partials)

        assert d_rows == 500            # delta file only
        assert d_rows * 100 < f_rows    # <1% of the recompute's scan
        assert 0 < d_size < f_size / 10
        # the delta step's only parquet scan is the delta dir — the base
        # is never rescanned (old partials arrive via InMemoryTableScan)
        assert d_scans and all("incdelta" in s for s in d_scans), d_scans
        assert all("incbase" not in s for s in d_scans)
        top = inc.partials._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in top  # partials come from cache
        assert d_shuf <= f_shuf + 14    # merge shuffles partial rows only

        got = {r["section"]: r["total"] for r in inc.result().collect()}
        assert got == full_rows         # ...and the answer is identical
        inc.result().unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_incremental_preserves_int64_exactness(spark):
    """sum/min/max over bigint measures must stay bigint: a cast to
    double would silently lose exactness past 2^53 (the same contract
    the exact-unit money sums rely on, functions/numeric.py)."""
    big = 9_007_199_254_740_993  # 2^53 + 1 — not representable as double
    base = spark.createDataFrame(
        [(0, big), (0, 1), (1, big)], "section int, v long"
    )
    delta = spark.createDataFrame([(0, big), (1, 2)], "section int, v long")

    inc = IncrementalAggregate(
        "section", {"total": ("sum", "v"), "lo": ("min", "v"), "hi": ("max", "v")}
    )
    inc.initialize(base)
    inc.apply_delta(delta)
    got = {
        r["section"]: (r["total"], r["lo"], r["hi"])
        for r in inc.result().collect()
    }
    inc.result().unpersist()
    assert got == {0: (2 * big + 1, 1, big), 1: (big + 2, 2, big)}
    # and the values came back as Python ints (bigint schema), not floats
    assert all(isinstance(v, int) for t in got.values() for v in t)
