"""Fixture-scale pins of the star-cap closed-form bounds, so a cap
regression fails fast here at fixture scale.

The claim (``operators/dedup.capped_block_pairs``, SCALING.md): pairs
emitted per block of size s are EXACTLY C(min(s,K),2) + max(0, s−K) —
O(K²+B) total, never O(B²). Two surfaces consume it:

- the n-gram block path (disjoint (lang, len-bucket) blocks, K=64):
  the form is an exact equality;
- the LSH band-bucket path (K=256; the cross-band ``distinct`` dedupes
  pairs found in several bands): the per-block sum is an upper bound.

Both checked here at sf0.001 against the actual emitted pair counts,
plus a synthetic over-cap block proving the cap itself engages (the
fixture's natural blocks sit under K, so without this the equality
would be vacuously cap-free).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from proactive_map_reduce_spark.operators import dedup
from proactive_map_reduce_spark.queries._base import NGRAM_BLOCK_CAP

SF0001 = "/root/testdata/sf0.001"


def _closed_form(blocked, block_cols, k):
    sizes = blocked.groupBy(*block_cols).agg(F.count("*").alias("s"))
    row = sizes.select(
        F.sum(
            F.expr(f"least(s, {k}) * (least(s, {k}) - 1) DIV 2")
            + F.greatest(F.col("s") - k, F.lit(0))
        ).alias("pred"),
        F.max("s").alias("max_block"),
    ).collect()[0]
    return int(row["pred"] or 0), int(row["max_block"] or 0)


def test_ngram_block_pairs_match_closed_form_exactly(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    blocked = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("bigint").alias("blk_bucket"),
    )
    pred, _ = _closed_form(blocked, ["lang", "blk_bucket"], NGRAM_BLOCK_CAP)
    actual = dedup.capped_block_pairs(
        blocked, ["lang", "blk_bucket"], max_block=NGRAM_BLOCK_CAP
    ).count()
    assert actual == pred


def test_lsh_band_pairs_bounded_by_closed_form(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    sigs = dedup.minhash_arrays(docs)
    banded = dedup.band_rows(sigs)
    pred, _ = _closed_form(
        banded, ["band_id", "band_hash"], dedup.LSH_MAX_BUCKET
    )
    actual = dedup.lsh_candidate_pairs(sigs).count()
    assert actual <= pred


def test_star_cap_engages_on_over_cap_block(spark):
    """A single block of 3K members must emit C(K,2) + 2K pairs — the
    star links for the over-cap tail — not C(3K,2): the cap itself,
    exercised at fixture scale (natural sf0.001 blocks sit under K)."""
    k = 16
    n = 3 * k
    blocked = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("b").alias("blk")
    )
    pairs = dedup.capped_block_pairs(blocked, ["blk"], max_block=k)
    expect = k * (k - 1) // 2 + (n - k)
    assert pairs.count() == expect
    # pair contract: doc_a < doc_b, no duplicates
    assert pairs.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0
    assert pairs.distinct().count() == expect
