"""Skew-mitigation operators: salted aggregation and salted broadcast-free
joins (engine capability for 100 TB — SURVEY §4 "skewed keys hurt").

AQE's skew-join splitting handles most cases automatically; these exist
for the aggregation-skew and dim-replication patterns AQE does not cover:

- `salted_agg`: hot grouping keys (one event_type = 40% of a 100 TB
  stream) overload a single reducer. Two-phase aggregation over a
  deterministic salt spreads the hot key across `N_SALTS` reducers, then
  combines the partials — results are value-identical to the plain
  groupBy (the oracle checks exactly that).
- `salted_join`: joining a huge skewed fact to a small-but-over-broadcast
  -budget dim: the dim side is replicated N_SALTS times (explode), the
  fact side salts deterministically, and the join key becomes
  (key, salt) — each reducer sees 1/N_SALTS of the hot key's rows.

The salt must be deterministic per row (NOT rand()) so retried tasks and
the DuckDB oracle compute identical assignments; a crc32 of a stable
column works and costs one codegen'd expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Salt fan-out: each hot key's rows spread across this many reducers.
N_SALTS = 8


def salt_column(stable_col: Column | str) -> Column:
    """Deterministic per-row salt in [0, N_SALTS)."""
    c = F.col(stable_col) if isinstance(stable_col, str) else stable_col
    # null-safe: crc32(NULL) is NULL, and a NULL salt would silently DROP
    # the row from salted_join's equi-condition (breaking the documented
    # plain-inner-join equivalence); a null source deterministically
    # salts to 0 instead.
    return F.coalesce(
        F.pmod(F.crc32(c.cast("string")), F.lit(N_SALTS)), F.lit(0)
    ).cast("int")


def salted_agg(df: DataFrame) -> DataFrame:
    """Two-phase sum of ``value_dec`` and row count per ``event_type``
    over (event_type, salt of ``event_id``), then combine partials.

    Equivalent to df.groupBy("event_type").agg(sum, count) with the hot-key
    reduce work spread across N_SALTS reducers. For FLOAT measures the
    equivalence is up to accumulation order (float + is non-associative;
    the salt changes the association) — boundary-stable when inputs are
    fixed-point and the display rounds at no finer than the input scale
    (the q_salted_agg shape: 2-dec values, round(sum, 2)); for exact
    cross-engine sums at finer display scales, feed fixed-point units
    (functions/numeric.fixed_units) instead of raw doubles."""
    salted = df.withColumn("_salt", salt_column("event_id"))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.sum("value_dec").alias("_psum"), F.count("*").alias("_pcnt")
    )
    return partial.groupBy("event_type").agg(
        F.sum("_psum").alias("sum_value"),
        F.sum("_pcnt").cast("bigint").alias("n_rows"),
    )


def salted_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Inner join ``l_suppkey = s_suppkey`` with the dim side replicated
    across N_SALTS salt values.

    fact rows salt deterministically on ``l_orderkey``; dim rows explode
    to every salt, so (key, salt) partitions each hot key's rows N_SALTS
    ways. Use when the dim exceeds the broadcast budget but fits
    N_SALTS-fold replication."""
    f = fact.withColumn("_salt", salt_column("l_orderkey"))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0).cast("int"), F.lit(N_SALTS - 1).cast("int")))
    )
    cond = (f["l_suppkey"] == d["s_suppkey"]) & (f["_salt"] == d["_salt"])
    return f.join(d, cond).drop("_salt")
