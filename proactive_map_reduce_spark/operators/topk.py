"""Top-k importance selection (SURVEY §2.7 T1/T2).

Replicates the reference's partial-recompute position selection
(modeling_llama.py:860-869): per group, score every position, keep the
top-k by score (descending, index tiebreak — torch.topk is value-then-
index) PLUS always the last ``TOPK_LAST`` positions; k is clamped to
[0, n - TOPK_LAST].

Expressed as window row_number + positional tail union — pure relational
top-k, no UDF. Scale: rank-within-group via one shuffle on the group key;
for huge groups Spark pushes partial top-k below the exchange when a limit
is present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: T1 selection: the share of positions ranked, and the tail always kept.
TOPK_RATIO, TOPK_LAST = 0.3, 2


def topk_importance(df: DataFrame) -> DataFrame:
    """Select the top-k positions ``pos`` by ``value`` per ``user_id``,
    plus the ``TOPK_LAST`` tail.

    k = clamp(int(TOPK_RATIO * n) - 1, 0, n - TOPK_LAST) per group — int() is
    TRUNCATION (modeling_llama.py:860 `max(int(q_len*top_k_ratio)-1, 0)`,
    861 `min(q_len-last_len, k)`), not round(). The rank pool EXCLUDES
    the tail (modeling_llama.py:863 scores `diff[:-last_len]`): tail rows
    sort after every candidate, so a high-scoring tail position can never
    displace a non-tail candidate from the k slots. Output adds
    `selected` ∈ {'topk','tail'}.
    """
    ratio, last_len = TOPK_RATIO, TOPK_LAST
    g = Window.partitionBy("user_id")
    n = F.count("*").over(g)
    scored = df.withColumn("_n", n)
    tail = F.col("pos") >= (F.col("_n") - F.lit(last_len))
    rank_w = Window.partitionBy("user_id").orderBy(
        tail.cast("int").asc(), F.col("value").desc(), F.col("pos").asc()
    )
    k = F.greatest(
        F.lit(0),
        F.least(
            F.floor(F.lit(ratio) * F.col("_n")).cast("long") - 1,
            F.col("_n") - F.lit(last_len),
        ),
    )
    scored = scored.withColumn("_k", k).withColumn("_rn", F.row_number().over(rank_w))
    topk = (F.col("_rn") <= F.col("_k")) & ~tail
    return (
        scored.filter(tail | topk)
        .withColumn("selected", F.when(tail, F.lit("tail")).otherwise(F.lit("topk")))
        .drop("_n", "_k", "_rn")
    )


def order_preserve(df: DataFrame) -> DataFrame:
    """T2: assign the global consumption order (stage ``ts``, position
    ``event_id``) per ``user_id`` — the ordering invariant of
    test_order.py / the decode loops."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return df.withColumn("global_order", F.row_number().over(w).cast("bigint"))
