"""Comparison analytics over result JSONL files — the engine's version of
the reference's `compute_scores.py` (its §3.3 entry point).

Reads a baseline and a proactive results file (JSONL, as written by
`ProactivePipeline.write_results` or the reference's own scripts), prints
per-file metric means and the analytic pipeline-overlap speedup model
(`compute_scores.py:62-85`): baseline e2e = ingest_all + prefill + decode
vs proactive e2e = ingest_0 + Σ max(next_ingest, prefill_j + decode_j).

Usage: python tools/compute_scores.py baseline.jsonl proactive.jsonl
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    base_path, pro_path = sys.argv[1], sys.argv[2]

    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.session import get_spark

    spark = get_spark("compute-scores")
    spark.sparkContext.setLogLevel("ERROR")

    def means(path: str):
        df = spark.read.json(path)
        metric_cols = [
            c for c, t in df.dtypes if t in ("double", "bigint") and c != "doc_id"
        ]
        row = df.agg(
            *[F.round(F.avg(c), 6).alias(c) for c in metric_cols],
            F.count("*").alias("n"),
        ).collect()[0]
        return row.asDict()

    print("baseline :", means(base_path))
    print("proactive:", means(pro_path))

    def speedup_model(path: str):
        """The §3.3 overlap model (compute_scores.py:62-85), computed when
        the file carries per-chunk timing fields (the reference's result
        shape: doc_id, chunk_id, ingest, prefill, decode): baseline e2e =
        Σingest + Σprefill + Σdecode; proactive e2e = ingest_0 +
        Σ_j max(ingest_{j+1}, prefill_j + decode_j)."""
        from pyspark.sql import Window

        df = spark.read.json(path)
        needed = {"doc_id", "chunk_id", "ingest", "prefill", "decode"}
        if not needed.issubset(set(df.columns)):
            return None
        w = Window.partitionBy("doc_id").orderBy("chunk_id")
        t = df.withColumn(
            "ingest_next", F.coalesce(F.lead("ingest").over(w), F.lit(0.0))
        )
        # first chunk by RANK, not literal id 0: a 1-indexed (or gapped)
        # chunk numbering must not null out the doc's proactive time —
        # that silently dropped the doc from the pro sum while the base
        # sum still counted it
        t = t.withColumn("rk", F.row_number().over(w))
        row = (
            t.groupBy("doc_id")
            .agg(
                (
                    F.min(F.when(F.col("rk") == 1, F.col("ingest")))
                    + F.sum(
                        F.greatest(
                            F.col("ingest_next"), F.col("prefill") + F.col("decode")
                        )
                    )
                ).alias("pro"),
                (F.sum("ingest") + F.sum("prefill") + F.sum("decode")).alias("base"),
            )
            .agg(F.sum("base").alias("base"), F.sum("pro").alias("pro"))
            .collect()[0]
        )
        return {
            "e2e_baseline": round(row["base"], 3),
            "e2e_proactive": round(row["pro"], 3),
            "speedup": round(row["base"] / row["pro"], 3) if row["pro"] else None,
        }

    model = speedup_model(pro_path)
    if model is not None:
        print("overlap speedup model:", model)
    else:
        print(
            "overlap speedup model: skipped — needs per-chunk timing "
            "columns (doc_id, chunk_id, ingest, prefill, decode); "
            "score-only results carry none"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
