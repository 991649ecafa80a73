"""Bucketed tables: shuffle-free co-located joins (SURVEY §4 partitioning).

For join keys used repeatedly (lineitem ⋈ orders on orderkey in every
pricing query), pre-bucketing both tables on the key removes the
exchange from EVERY subsequent join: each bucket pair joins locally
(sort-merge over pre-sorted buckets). At 100 TB this converts the
biggest recurring shuffle in the workload into a pure scan-side join —
the cost is paid once at write time.

Bucketing requires the table catalog (`saveAsTable`); the bucket count
should match or divide the cluster's target parallelism so every bucket
pair is one task. The registry's ``q_bucketed_join`` writes its copies
once per process into a scratch dir (``sources/scratch.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist `df` as a bucketed (and bucket-sorted) catalog table.

    ``path`` makes it an EXTERNAL table at that location — callers that
    run outside a configured warehouse (the query registry) point the
    data at a scratch dir instead of littering ./spark-warehouse."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    w = df.write.bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.mode("overwrite").saveAsTable(table)


def co_located_join(
    spark: SparkSession, left_table: str, right_table: str, left_key: str, right_key: str
) -> DataFrame:
    """Join two same-bucket-count tables on their bucket keys — planner
    sees matching output partitionings and emits NO exchange."""
    lt, rt = spark.table(left_table), spark.table(right_table)
    return lt.join(rt, lt[left_key] == rt[right_key])
