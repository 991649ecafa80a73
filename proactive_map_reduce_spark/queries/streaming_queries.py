"""Structured-Streaming query surface (W1/W2 + stream joins/dedup/enrich)."""

from ._base import *  # noqa: F401,F403
from ._base import (  # noqa: F401
    _chunks,
    _docs,
    _events_with_pos,
    _hashlib_sha256,
    _shutil,
    _standin_embed,
    _tempfile,
    _words,
)


def q_stage_pipeline(spark, sf_dir):
    """W1: staged proactive execution — chunk stages arrive one micro-batch
    at a time through a Structured Streaming file source and run the same
    black-box map stage. Value-identical to batch q_llm_map (same oracle),
    executed by the real streaming engine (test_proactive.py:227-368).
    Drains through the executor-side parquet sink (``_run_to_parquet``),
    so the corpus-sized map output never funnels through the driver."""
    return stream_ops.stage_pipeline(spark, _chunks(spark, sf_dir)).select(
        "doc_id", "chunk_id", "out_text", "n_out_tokens"
    )


def q_stateful_accumulate(spark, sf_dir):
    """W2: cross-stage accumulator over staged micro-batch arrival (the
    total_res_toks analog, test_proactive.py:327-328). Each doc's chunk
    history is kept in Spark's state store by a streaming groupBy; the
    final update per doc equals batch incremental_concat (same oracle)."""
    updates = stream_ops.stateful_accumulate(spark, _chunks(spark, sf_dir))
    return stream_ops.final_accumulation(updates).select(
        "doc_id", "final_text", "n_chunks"
    )


def q_stream_window_late(spark, sf_dir):
    """Watermarked tumbling-window aggregation over the events stream
    (engine capability beyond the reference: event-time + late-data bound).
    In-order bucket arrival → equals the batch aggregation (sql-checked)."""
    ev = load_table(spark, sf_dir, "events")
    return stream_ops.windowed_counts_with_watermark(spark, ev)


def q_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join (click×view per user within
    ±30 min) — both sides buffer watermark-bounded state; in-order bucket
    arrival + sentinel flush makes the streamed result equal the batch
    interval join (sql-checked)."""
    ev = load_table(spark, sf_dir, "events")
    return stream_ops.stream_stream_join(spark, ev)


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup under a watermark
    (dropDuplicatesWithinWatermark): events with id % 10 == 0 are
    delivered twice across micro-batches; each must be emitted exactly
    once. Key state is bounded by the watermark horizon — the form of
    distinct that works on an unbounded stream. Oracle: batch DISTINCT
    over the same duplicated input."""
    ev = load_table(spark, sf_dir, "events")
    return stream_ops.stream_dedup(spark, ev)


def q_stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment: streaming events joined per micro-batch
    to the broadcast customer dimension (no state store, no watermark —
    inner equi-join output is final per batch). Streamed result equals
    the batch join; sql-checked against it."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return stream_ops.stream_static_enrich(spark, ev, cust)


def q_stream_refeed_chain(spark, sf_dir):
    """W2 v2 (test_proactive_2.py:228-233): the SEQUENTIAL re-feed loop —
    stage n's computation consumes the accumulated outputs of stages
    0..n-1 — run over staged arrival on the same state-store runner as
    q_stateful_accumulate. Emits the accumulated-output word count each
    stage saw plus a rolling md5 chain over the stage outputs
    (order-sensitive: any reorder, replay or loss changes every later
    value). Fully hash-checked against a DuckDB recursive-CTE fold — the
    batch-equivalent of the recursion."""
    return stream_ops.refeed_chain(spark, _chunks(spark, sf_dir)).select(
        "doc_id", "chunk_id", "acc_words_before", "chain"
    )
