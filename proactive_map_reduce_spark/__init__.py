"""proactive_map_reduce_spark — a PySpark-native analytics engine.

Brand-new engine with the query/data-processing capabilities of the
reference repo `zhuohangu/proactive_map_reduce` (see SURVEY.md), built
Spark-first: DataFrame/SQL built-ins wherever possible, Arrow-batched
mapInPandas only at the declared black-box seams (the pluggable "model"
map stage, the media codec), Structured Streaming for the
proactive/incremental mode. Every registered query is hash-verified
against an equivalent DuckDB oracle (tools/compare_oracle.py).

Layout:
  session    — SparkSession factory tuned for scale (AQE, pushdown, Arrow)
  sources    — parquet/json/csv/orc/text loaders for the fixture tables
  functions  — scalar text/scoring/hash column functions (F1-F10 in SURVEY §2)
  operators  — chunking, map-stage, reduce, top-k, dedup, similarity,
               text-stats, sketches (KMV/quantiles), multimodal plumbing
  plans      — incremental views (cached partial aggregates), plan audits
  streaming  — Structured Streaming proactive mode: W1 staged map, W2
               per-doc state on Spark's RocksDB state store, watermarks
  pipeline   — the user-facing ProactivePipeline API
               (examples/run_proactive.py, examples/run_curation.py)
"""

__version__ = "0.1.0"
