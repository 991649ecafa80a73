"""Ordered incremental reduce (SURVEY §2.5 R1/R2, §2.10 W3/W4 windows).

The reference accumulates per-stage outputs in order into one final output
(`total_res_toks.append` across stages, test_proactive.py:327-328,373) and
builds stage n's input from chunks 0..n (`test_proactive.py:228-233`;
v2 re-feeds accumulated outputs, test_proactive_2.py:231).

Batch form: sort-by-chunk aggregation / cumulative windows. The streaming
form (same semantics over an unbounded source) lives in streaming/.

Scale notes: R1 is a single groupBy(doc_id) — one shuffle keyed by doc_id
with map-side partial aggregation of the (chunk_id, text) structs; R2's
window runs inside the same doc_id partitioning, so the two share one
exchange when composed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def incremental_concat(df: DataFrame) -> DataFrame:
    """R1: concatenate per-chunk out_text in chunk_id order, space-joined
    → one row per doc_id.

    collect_list order is made deterministic by sorting (chunk_id,
    out_text) structs inside the aggregate — physical row order never
    leaks through.
    """
    return df.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "out_text"))),
                lambda s: s["out_text"],
            ),
            " ",
        ).alias("final_text"),
        F.count("*").cast("bigint").alias("n_chunks"),
    )


def _prefix_window(upper: int) -> WindowSpec:
    """doc_id's chunks in chunk_id order, from the first row to ``upper``."""
    return (
        Window.partitionBy("doc_id")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, upper)
    )


def _prefix(col: str, w: WindowSpec):
    """``col`` of the window's rows as an array in chunk_id order."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct("chunk_id", col)).over(w)),
        lambda s: s[col],
    )


def prefix_scan_inputs(df: DataFrame) -> DataFrame:
    """R2: stage n's input = chunk_text of chunks 0..n, space-joined
    (running prefix)."""
    return df.withColumn(
        "stage_input",
        F.array_join(_prefix("chunk_text", _prefix_window(Window.currentRow)), " "),
    )


def prefix_scan_refeed(chunks_df: DataFrame, mapped_df: DataFrame) -> DataFrame:
    """R2, the v2 re-feed variant (test_proactive_2.py:231): stage n's
    input = chunks 0..n PLUS the accumulated outputs of stages 0..n-1
    (``list(chain(doc_chunk_ids[:n+1])) + q_ids + total_res_toks``).

    Modeled non-recursively over the per-chunk map outputs — the
    reference's true loop is sequential (stage n's OUTPUT depends on its
    re-fed input); the dataflow analog assembles the same input strings
    from the staged outputs, which is exactly what the streaming W2
    accumulator feeds each micro-batch. Stage 0 has no prior output and
    gets no trailing separator."""
    j = chunks_df.join(
        mapped_df.select("doc_id", "chunk_id", "out_text"), ["doc_id", "chunk_id"]
    )
    chunk_prefix = F.array_join(
        _prefix("chunk_text", _prefix_window(Window.currentRow)), " "
    )
    outs = _prefix("out_text", _prefix_window(-1))
    return j.withColumn(
        "stage_input",
        F.when(F.size(outs) == 0, chunk_prefix).otherwise(
            F.concat(chunk_prefix, F.lit(" "), F.array_join(outs, " "))
        ),
    )


def running_metric(df: DataFrame) -> DataFrame:
    """W3: running metric per ``user_id`` in ``event_id`` order
    (pipeline_70b_samsum.py:312-323).

    Emits the cumulative ``value`` sum ``running_sum`` (rounded to the
    value's own 2-decimal grain) and count ``running_n`` — the mean's
    exact numerator/denominator — rather than the mean quotient:
    ``round(avg, 6)`` lands on exact x.5 rounding boundaries where
    Spark's sequential and DuckDB's segment-tree float summation
    legitimately disagree in the last ulp (the family the sf0.1 deep
    gate caught; functions/numeric.py).
    The cumulative sum accumulates as exact DECIMAL(38,6)
    (functions/numeric.decimal_sum rationale): a prefix FLOAT sum is
    only boundary-free while the measure's magnitudes are homogeneous —
    one huge value in the prefix parks every later running total at a
    magnitude where Spark's sequential and DuckDB's segment-tree
    re-association differ by more than the display grain. The decimal
    prefix sum is exact in both engines at ANY magnitude mix, so the
    displayed 2-decimal totals cannot drift."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "running_sum",
        F.round(F.sum(F.col("value").cast("decimal(38,6)")).over(w), 2).cast(
            "double"
        ),
    ).withColumn("running_n", F.count("*").over(w).cast("bigint"))
