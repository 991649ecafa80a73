"""Mergeable sketch operators: portable approximate aggregates.

Engine-native sketches (HyperLogLog, GK/t-digest) are fast but their
values depend on implementation internals, so results can't be
hash-verified across engines. These operators trade a constant factor
for PORTABILITY: md5-based KMV for distinct counts and exact integer
histogram bins for quantiles — bit-identical in any engine that can
hash and count, while keeping the constant-memory, mergeable shape that
matters at 100 TB.

Used by queries.q_sketch_stats (driver-gate hash-checked); accuracy vs
exact aggregates is pinned by tests/test_skew_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: (probability, output column) of each reported quantile.
_QUARTILES = [(0.25, "p25"), (0.50, "p50"), (0.75, "p75")]

#: KMV sketch size: stderr ≈ 1/sqrt(k-2) ≈ 3%.
SKETCH_KMV_K = 1024

#: Equi-width histogram bins per group (quantile resolution).
SKETCH_BINS = 64


def kmv_distinct(hashed: DataFrame) -> DataFrame:
    """Approximate distinct count per ``lang`` from uniform 32-bit hashes
    ``h``, as ``approx_distinct_words``.

    KMV estimator with k = ``SKETCH_KMV_K``: with h uniform on [0, 2^32),
    E[k-th min] ≈ k/|S|·2^32 → |S| ≈ (k-1)·2^32 / h_(k); groups with
    fewer than k distinct hashes answer exactly.

    Two-level min-k (the actual KMV merge shape): rank hashes within
    each (physical partition, group) and keep the k smallest, so no task
    ever sorts more than one partition's values; then re-rank only the
    surviving <= k·P candidates per group. The final values are
    identical to a global per-group rank:
      - the global k-th minimum always survives the per-partition cut
        (it is at worst the k-th smallest of its own partition), and
      - the exact-count branch fires iff no partition truncated, in
        which case the candidate set IS the full distinct set.
    spark_partition_id() is only a locality label — any partitioning
    (including AQE-coalesced) yields the same answer. At cluster scale,
    extend to a tree merge with a middle level keyed on pid % fan_in.

    `hashed` must hold DISTINCT (lang, h) rows (apply .distinct()
    upstream — that shuffle is uniform-keyed and scales).
    """
    k = SKETCH_KMV_K
    loc = hashed.withColumn("pid", F.spark_partition_id())
    local_k = loc.withColumn(
        "lrn",
        F.row_number().over(Window.partitionBy("pid", "lang").orderBy("h")),
    ).filter(F.col("lrn") <= k)
    cand = local_k.withColumn(
        "rn", F.row_number().over(Window.partitionBy("lang").orderBy("h"))
    )
    return cand.groupBy("lang").agg(
        F.max("rn").alias("n_distinct"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("kth"),
    ).select(
        "lang",
        F.when(F.col("n_distinct") < k, F.col("n_distinct"))
        .otherwise(
            # greatest(kth, 1): hash value 0 CAN be the k-th minimum
            # (p ≈ k/2^32 per group, a certainty over 100 TB of groups)
            # and Spark 4 runs ANSI mode, where the bare division THROWS
            # instead of nulling — found by the property test's
            # rows=[(0, 0)], k=1 example. Clamping to 1 changes the
            # estimate only in that degenerate cell (where any answer
            # within the estimator's error is defensible); the oracle
            # mirrors the same clamp.
            F.floor(
                (k - 1) * F.lit(float(2**32)) / F.greatest(F.col("kth"), F.lit(1))
                + 0.5
            )
        )
        .cast("bigint")
        .alias("approx_distinct_words"),
    )


def histogram_quantiles(df: DataFrame) -> DataFrame:
    """Approximate ``n_chars`` quartiles per ``lang`` via equi-width
    integer histogram.

    Reports, as ``p25``/``p50``/``p75``, the lower bound of the bin
    where the cumulative count crosses p·n (bin width = range/bins, with
    bins = ``SKETCH_BINS``).
    Exact integer bin counts → cross-engine deterministic; the
    per-group state is `bins` counters (mergeable by addition). The
    cumulative window runs over ≤ `bins` rows per group — bounded
    regardless of data size.

    NULL values are excluded BEFORE counting: a null can't land in any
    bin, so counting it in n would shift every quantile, and the
    resulting NULL bin row would make the cumulative window order
    engine-dependent (Spark sorts NULLS FIRST ascending, DuckDB NULLS
    LAST). A group whose values are all null has no quantiles and is
    absent from the output.
    """
    bins = SKETCH_BINS
    vals = df.select("lang", "n_chars").filter(F.col("n_chars").isNotNull())
    bounds = vals.groupBy("lang").agg(
        F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"),
        F.count("*").alias("n"),
    )
    binned = (
        vals.join(bounds, "lang")
        .select(
            "lang", "lo", "hi", "n",
            F.floor(
                (F.col("n_chars") - F.col("lo"))
                * bins
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("int").alias("bin"),
        )
        .groupBy("lang", "lo", "hi", "n", "bin")
        .agg(F.count("*").alias("c"))
    )
    cum = binned.withColumn(
        "cum", F.sum("c").over(Window.partitionBy("lang").orderBy("bin"))
    )

    def quantile_bin(p: float):
        # lower bound of the first bin whose cumulative count reaches p·n
        hit = F.when(
            F.col("cum") - F.col("c") < F.lit(p) * F.col("n"), F.col("bin")
        )
        return F.max(hit)

    quart = cum.groupBy("lang", "lo", "hi").agg(
        *[quantile_bin(p).alias(f"b_{c}") for p, c in _QUARTILES]
    )

    def bin_lo(b):
        # smallest value v with floor((v-lo)·bins/W) == b is lo+CEIL(b·W/bins):
        # floor() here could return a value whose own bin is b-1 (e.g. W=10,
        # bins=4, b=1 → floor gives 2, but bin(2)=0 while bin 1 starts at 3)
        return (
            F.col("lo")
            + F.ceil(F.col(b) * (F.col("hi") - F.col("lo") + 1) / bins)
        ).cast("bigint")

    return quart.select(
        "lang", *[bin_lo(f"b_{c}").alias(c) for _, c in _QUARTILES]
    )
