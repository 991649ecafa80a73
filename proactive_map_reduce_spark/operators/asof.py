"""As-of (point-in-time) join — an operator Spark's DataFrame API lacks.

For each left row, attach the most recent right row with
right.ts <= left.ts, per key. The classic implementations are a
range-join (quadratic blowup risk) or per-key loops; the scale-correct
Spark form is union + ordered carry-forward:

1. tag both sides and union them — ONE dataset, one shuffle on the key;
2. sort within key by (ts, side) — right rows sort before left rows at
   equal ts, so equality matches ("<=") are visible;
3. `last(right_payload, ignorenulls=True)` over an unbounded-preceding
   window carries the latest right row forward;
4. keep the left rows.

Cost: one exchange + one sort, linear in |left| + |right| — no range
condition ever expands into a cross product. This is also the classic
merge-join formulation, so it parallelizes by key at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Backward as-of join on ``ts`` per ``user_id`` (latest right row
    at-or-before each left row).

    Output: all left columns, plus every right column (except ``user_id``)
    prefixed `r_` — null when no right row precedes the left row.
    """
    l_cols = [c for c in left.columns if c != "user_id"]
    r_cols = [c for c in right.columns if c != "user_id"]

    r_tagged = right.select(
        F.col("user_id"),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in r_cols]).alias("_r"),
    )
    r_type = r_tagged.schema["_r"].dataType
    l_tagged = left.select(
        F.col("user_id"),
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in l_cols]).alias("_l"),
        F.lit(None).cast(r_type).alias("_r"),
    )
    r_full = r_tagged.withColumn(
        "_l", F.lit(None).cast(l_tagged.schema["_l"].dataType)
    ).select("user_id", "_ts", "_side", "_l", "_r")
    u = l_tagged.select("user_id", "_ts", "_side", "_l", "_r").unionByName(r_full)

    # _r as final sort key: deterministic winner among right rows sharing
    # (key, ts) — struct ordering is lexicographic; left rows' null _r
    # sorts first and never competes.
    w = (
        Window.partitionBy("user_id")
        .orderBy("_ts", "_side", "_r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        u.withColumn("_rm", F.last("_r", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    out_cols = [F.col("user_id")] + [F.col("_l")[c].alias(c) for c in l_cols] + [
        F.col("_rm")[c].alias(f"r_{c}") for c in r_cols
    ]
    return matched.select(*out_cols)
