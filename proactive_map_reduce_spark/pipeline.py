"""User-facing pipeline API — the reference's script workflow as one object.

A reference user runs `python test_proactive.py --num_steps N` over a
document directory and gets scored JSONL results
(`test_proactive.py:408-453`). The engine equivalent:

    pipe = ProactivePipeline(spark, num_steps=4)          # --num_steps
    results = pipe.run_batch(docs_df, gt_df)              # full corpus
    results = pipe.run_streaming(docs_df, gt_df)          # proactive mode
    pipe.write_results(results, "out/results")            # JSONL sink (S4)

`model_fn` is the black-box seam: swap the deterministic stand-in for a
real per-batch model callable (loaded lazily per executor) without
touching any other stage. Both modes produce identical columns; streaming
runs the same map stage under micro-batch arrival (W1/W2).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.scoring import bleu_udf, pair_scores
from .operators import chunking, mapstage
from .operators import reduce as red


class ProactivePipeline:
    """Chunk → black-box map → ordered reduce → score, batch or streaming."""

    def __init__(
        self,
        spark: SparkSession,
        num_steps: int = 4,
        model_fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    ):
        self.spark = spark
        self.num_steps = num_steps
        self.model_fn = model_fn

    # --- stages (each usable on its own) --------------------------------

    def chunk(self, docs_df: DataFrame) -> DataFrame:
        """C1 equal partition (shuffle-free array-slice form)."""
        return chunking.partition_equal_arrays(docs_df, self.num_steps)

    def map_stage(self, chunks_df: DataFrame) -> DataFrame:
        """M1 black-box model over chunk rows (mapInPandas)."""
        return mapstage.llm_map(chunks_df, model_fn=self.model_fn)

    def reduce_stage(self, mapped_df: DataFrame) -> DataFrame:
        """R1 ordered incremental concat to one row per document."""
        return red.incremental_concat(mapped_df)

    def score(self, final_df: DataFrame, gt_df: DataFrame) -> DataFrame:
        """Join ground truth and score: set-F1 (A6) and exact match (F3)
        over normalized word sets, each side normalized once
        (``scoring.pair_scores``), plus BLEU (F6)."""
        j = final_df.join(gt_df.select("doc_id", "gt_text"), "doc_id")
        scored = pair_scores(j, f1_col="f1", em_col="exact_match")
        return scored.select(
            "doc_id",
            "n_chunks",
            "f1",
            "exact_match",
            bleu_udf(F.col("final_text"), F.col("gt_text")).alias("bleu"),
        )

    # --- end-to-end modes ----------------------------------------------

    def run_batch(self, docs_df: DataFrame, gt_df: DataFrame) -> DataFrame:
        return self.score(
            self.reduce_stage(self.map_stage(self.chunk(docs_df))), gt_df
        )

    def run_streaming(self, docs_df: DataFrame, gt_df: DataFrame) -> DataFrame:
        """Proactive mode: stages arrive as micro-batches; the cross-stage
        accumulator runs in the streaming state store (W1/W2)."""
        from .streaming import proactive as stream_ops

        updates = stream_ops.stateful_accumulate(
            self.spark, self.chunk(docs_df), model_fn=self.model_fn
        )
        final = stream_ops.final_accumulation(updates)
        return self.score(final, gt_df)

    def write_results(self, results_df: DataFrame, path: str) -> None:
        """S4: JSONL append sink (one JSON object per result row)."""
        results_df.write.mode("append").json(path)
