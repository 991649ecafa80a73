"""Range (interval) join via bucket expansion — the scale-correct form.

A naive `a JOIN b ON key AND |a.ts - b.ts| <= W` gives Spark only an
equality on `key` plus inequalities: for hot keys that's a per-key
nested loop. Bucketizing time makes the whole condition an equi-join:

1. bucket = floor(ts / W) on both sides;
2. the LEFT side explodes to {bucket-1, bucket, bucket+1} — any right
   row within ±W must land in one of those three buckets;
3. equi-join on (key, bucket) — shuffle-hash/sort-merge, uniform keys;
4. exact |l_ts - r_ts| <= W filter removes the bucket-boundary misses.

Cost: 3× the left row count through the shuffle, zero cross products.
This is the batch twin of the watermarked stream-stream join
(streaming/proactive.stream_stream_join), which bounds the same
condition with state instead of buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Join window: rows within ±30 minutes, in microseconds; also the bucket width.
WITHIN_US = 30 * 60 * 1_000_000


def interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Inner join of rows whose ``ts`` lie within ±``WITHIN_US``
    microseconds, per ``user_id``.

    Left columns keep their names; right columns (except ``user_id``) get an
    `r_` prefix.
    """
    w = WITHIN_US
    l_bucket = F.floor(F.unix_micros(F.col("ts")) / w)
    r_bucket = F.floor(F.unix_micros(F.col("ts")) / w)

    l_cols = [c for c in left.columns if c != "user_id"]
    r_cols = [c for c in right.columns if c != "user_id"]

    l_exp = left.select(
        F.col("user_id"),
        *[F.col(c) for c in l_cols],
        F.explode(F.array(l_bucket - 1, l_bucket, l_bucket + 1)).alias("_bucket"),
    )
    r_b = right.select(
        F.col("user_id"),
        *[F.col(c).alias(f"r_{c}") for c in r_cols],
        r_bucket.alias("_bucket"),
    )
    joined = l_exp.join(r_b, ["user_id", "_bucket"])
    exact = (
        F.abs(F.unix_micros(F.col("ts")) - F.unix_micros(F.col("r_ts")))
        <= F.lit(w)
    )
    return joined.filter(exact).drop("_bucket")
