"""Scale-property pins: plan audits + the cache query's persisted lineage.

These tests encode the 100 TB design review: pushdown reaches the scan,
small dims broadcast, shuffle counts stay at their designed minimum, and
Python appears only at the declared UDF seams.
"""

from __future__ import annotations

import pytest

import proactive_map_reduce_spark.queries as Q
from proactive_map_reduce_spark.plans import audit
from tests.conftest import SF0001


@pytest.fixture(autouse=True)
def _cold_plans(spark):
    # plan pins describe the COLD plan: registry queries that persist()
    # shared intermediates (the dedup family) would otherwise rewrite
    # matching subtrees in LATER tests' plans to InMemoryTableScan and
    # shift exchange counts with test order (same guard as
    # test_shuffle_budget)
    spark.catalog.clearCache()
    yield


def test_pricing_summary_pushdown_and_pruning(spark):
    df = Q.q_pricing_summary(spark, SF0001)
    pushed = audit.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    # column pruning: the scan must not read all 16 lineitem columns
    schemas = audit.read_schemas(df)
    assert schemas and all("l_comment" not in s for s in schemas)
    # single wide shuffle: scan → partial agg → exchange → final agg
    assert audit.count_exchanges(df) <= 1


def test_top_revenue_broadcasts_dims(spark):
    df = Q.q_top_revenue(spark, SF0001)
    assert audit.has_broadcast_join(df)
    pushed = audit.pushed_filters(df)
    assert any("c_mktsegment" in p for p in pushed), pushed


def test_region_revenue_broadcasts_dim_chain(spark):
    df = Q.q_region_revenue(spark, SF0001)
    assert audit.has_broadcast_join(df)
    # lineitem itself must NOT shuffle before the join (dims broadcast);
    # the only wide exchange is the final groupBy(r_name)
    assert audit.count_exchanges(df) <= 1


def test_scan_documents_prunes_text_column(spark):
    df = Q.q_scan_documents(spark, SF0001)
    assert audit.count_exchanges(df) == 0


def test_flagship_python_seams_bounded(spark):
    """The flagship pipeline has exactly one declared Python seam (the
    mapInPandas model stage)."""
    df = Q.REGISTRY["q_flagship"](spark, SF0001)
    assert audit.python_eval_nodes(df) <= 1


def test_minhash_signature_single_shuffle(spark):
    """Shingle → signature is designed as ONE exchange on doc_id (window
    reuses the groupBy partitioning)."""
    df = Q.q_minhash_signatures(spark, SF0001)
    assert audit.count_exchanges(df) <= 1


def test_partitioned_sink_prunes_partitions(spark):
    """The lang filter must become a PartitionFilter (directory pruning),
    not a row-level PushedFilter."""
    import re

    import proactive_map_reduce_spark.queries as Q2

    df = Q2.q_sink_partitioned(spark, SF0001)
    plan = audit.formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:500]


def test_blocklist_filter_is_narrow(spark):
    """The blocklist gate must stay a pure scan-fused filter: no
    exchange, no Python eval."""
    df = Q.REGISTRY["q_blocklist_filter"](spark, SF0001)
    assert audit.count_exchanges(df) == 0
    assert audit.python_eval_nodes(df) == 0


def test_repetition_signals_single_shuffle(spark):
    """Repetition signals trade one doc_id-keyed shuffle for the codegen
    explode+groupBy path (measured ~2.4x faster than the interpreted
    array-HOF zero-shuffle form at sf0.1) — pin exactly that one
    exchange and no Python eval in the plan."""
    df = Q.REGISTRY["q_repetition_signals"](spark, SF0001)
    assert audit.count_exchanges(df) == 1
    assert audit.python_eval_nodes(df) == 0


def test_bm25_filters_before_first_shuffle(spark):
    """The query-vocabulary filter must run on the exploded words BEFORE
    any exchange — the exchanged volume is query hits, not the corpus."""
    plan = audit.formatted_plan(Q.REGISTRY["q_bm25_search"](spark, SF0001))
    # the term IN (...) predicate appears under a Filter, and no
    # SortMergeJoin materializes (all scalar sides broadcast)
    assert "SortMergeJoin" not in plan
    assert "stream" in plan and "Filter" in plan


def test_local_supplier_volume_broadcasts_dims(spark):
    """Q5-style 6-way join: region/nation/supplier dims must broadcast;
    the date filter must push to the orders scan."""
    df = Q.REGISTRY["q_local_supplier_volume"](spark, SF0001)
    assert audit.has_broadcast_join(df)
    pushed = audit.pushed_filters(df)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_cache_query_second_access_reads_cached_lineage(spark, monkeypatch):
    """q_cache_fetch_or_compute persists each of the NUM_STEPS stage
    lineages exactly once, at a real storage level, and its pass-2 hits
    reuse them: the returned rows read the in-memory relations rather
    than recomputing the stages."""
    persisted = []
    frame = type(spark.range(1))
    orig_persist = frame.persist

    def spy_persist(self, *args, **kwargs):
        out = orig_persist(self, *args, **kwargs)
        persisted.append(out)
        return out

    monkeypatch.setattr(frame, "persist", spy_persist)
    out = Q.q_cache_fetch_or_compute(spark, SF0001)
    monkeypatch.undo()
    rows = {r["chunk_id"]: r for r in out.collect()}

    assert len(persisted) == Q.NUM_STEPS
    assert len({id(df) for df in persisted}) == Q.NUM_STEPS  # once per stage
    for df in persisted:
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
        # a query DERIVED from the cached df must read the in-memory
        # relation, not recompute the stage (persist rewrites downstream
        # plans, not the persisted Dataset's own lazy plan)
        plan = df.select("*")._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("InMemoryRelation") >= Q.NUM_STEPS
    for r in rows.values():
        assert (r["n_miss"], r["n_hit"]) == (1, 1)
    assert {r["tier"] for r in rows.values()} >= {"memory"}


def test_incremental_dedup_is_equi_join_no_python(spark):
    """The batch-vs-catalog candidate stage must be a hash equi-join on
    (band_id, band_hash) — never a nested-loop/cartesian pairing — with
    zero Python eval nodes anywhere in the plan."""
    df = Q.REGISTRY["q_dedup_incremental"](spark, SF0001)
    plan = audit.simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert audit.python_eval_nodes(df) == 0


def test_explode_filters_carry_no_array_rebuild(spark):
    """r14 gen_barrier pin: exploding a computed array must not let the
    optimizer's inferred Generate filter re-inline the array-building
    expression (split / gram hashing) into a Filter — that re-evaluates
    the expensive chain 1-2 extra times per document, below the
    parallelizing exchange (the r13 q_tokenize regression). The plans'
    Filter conditions must stay free of split()/transform() calls."""
    for name in ("q_tokenize", "q_word_split", "q_decontaminate"):
        plan = audit.formatted_plan(Q.REGISTRY[name](spark, SF0001))
        conditions = [
            ln for ln in plan.splitlines() if ln.strip().startswith("Condition :")
        ]
        assert conditions, name
        for ln in conditions:
            assert "split(" not in ln, (name, ln)
            assert "transform(" not in ln, (name, ln)
