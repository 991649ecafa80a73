"""Directory-of-text-files corpus source (S1's production form).

The reference reads one numbered .txt file per document
(`test_proactive.py:45-48,435`: `{corpus_dir}/{index}.txt`). The engine's
ingestion path for that layout is `spark.read.text(dir, wholetext=True)`
with the doc id parsed from `input_file_name()` — a declarative scan, so
Spark parallelizes by file and prunes nothing it doesn't need.

Scale: a 100 TB corpus of small files is driven by the file listing
(InMemoryFileIndex is distributed for large listings); each task reads
whole files, so `wholetext` rows never split across tasks. For very small
files the bottleneck is listing+open overhead — the engine's parquet
`documents` table is the compacted form (what a production pipeline would
convert this layout into on first touch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """One row per {doc_id}.txt file: (doc_id, text)."""
    # pathGlobFilter on the directory, not a glob path: resolveRelation
    # probes the raw path string for streaming-sink metadata, and a glob
    # there throws (and stack-logs) a spurious FileNotFoundException.
    return (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(corpus_dir, wholetext=True)
        .select(
            F.regexp_extract(F.input_file_name(), r"(\d+)\.txt$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("value").alias("text"),
        )
    )


def write_text_corpus(df: DataFrame, root: str) -> str:
    """Materialize (doc_id, text) rows as {doc_id}.txt files.

    Test/fixture helper mirroring the reference's corpus layout
    (datasets/parse.py:36-40 writes per-index files the same way). This
    collects — it exists to CREATE the file layout the source reads, not
    as a data-plane operator.
    """
    os.makedirs(root, exist_ok=True)
    for row in df.select("doc_id", "text").collect():
        # utf-8 explicitly: spark.read.text always decodes UTF-8, so the
        # round-trip must not depend on the host locale
        with open(
            os.path.join(root, f"{row['doc_id']}.txt"), "w", encoding="utf-8"
        ) as fp:
            # a file has no null: a missing text writes an empty file,
            # mirroring how the reference's per-index layout would store
            # an empty document
            fp.write(row["text"] if row["text"] is not None else "")
    return root
