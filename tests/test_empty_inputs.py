"""Registry queries must compile and run on EMPTY tables.

A 100 TB pipeline hits zero-row inputs constantly: a partition-pruned
day with no data, a filter that eliminates a source, a brand-new
tenant. Every registered query must plan, execute and return its
schema on empty tables instead of crashing in plan build, model-state
collection, sentinel construction or sink round-trips.

The full 127-query sweep lives in tools/empty_sweep.py (run per
hardening pass); this test pins the regression set — the six queries
that DID crash on empty input when the sweep was first run — plus one
representative per driver-side-state family.
"""

from __future__ import annotations

import pytest

from proactive_map_reduce_spark.sources.tables import TABLES

SF_SCHEMA_SRC = "/root/testdata/sf0.001"

# first-sweep failures (regression set) + driver-state representatives
QUERIES = [
    "q_stream_window_late",      # watermark sentinel from empty max(ts)
    "q_stream_dedup",            # same sentinel path + dup injection
    "q_stream_stream_join",      # two-sided sentinel
    "q_stream_static_enrich",    # empty bucket-file write
    "q_sink_partitioned",        # schema-on-read of an empty sink
    "q_cache_fetch_or_compute",  # zero cached stages
    "q_similarity_topk",         # empty parameterized query-vector set
    "q_similarity_lsh",          # empty sign-bucket join
    "q_dedup_minhash_pairs",     # empty LSH bucket index
    "q_flagship",                # full chunk→map→reduce→score chain
]


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        df = spark.read.parquet(f"{SF_SCHEMA_SRC}/{t}.parquet")
        df.limit(0).coalesce(1).write.mode("overwrite").parquet(
            str(root / f"{t}.parquet")
        )
    return str(root)


@pytest.mark.parametrize("name", QUERIES)
def test_query_runs_on_empty_tables(spark, empty_sf, name):
    from proactive_map_reduce_spark.queries import REGISTRY

    out = REGISTRY[name](spark, empty_sf)
    assert out.count() == 0
    assert len(out.schema.fields) > 0


# --- nulled content columns (dirty data) -----------------------------------

# first --nulls sweep failures: null payload through the mapInPandas
# codec seam, null text through the per-file corpus writer
NULL_QUERIES = [
    "q_multimodal_features",
    "q_multimodal_resize",
    "q_multimodal_frames",
    "q_scan_text_corpus",
]


@pytest.fixture(scope="module")
def nulls_sf(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("nulls_sf")
    for t in TABLES:
        df = spark.read.parquet(f"{SF_SCHEMA_SRC}/{t}.parquet")
        if t == "documents":
            gate = F.col("doc_id") % 5 == 0
            for c in ("text", "lang", "source"):
                df = df.withColumn(c, F.when(gate, F.lit(None)).otherwise(F.col(c)))
        df.coalesce(1).write.mode("overwrite").parquet(str(root / f"{t}.parquet"))
    return str(root)


@pytest.mark.parametrize("name", NULL_QUERIES)
def test_query_runs_on_nulled_content(spark, nulls_sf, name):
    from proactive_map_reduce_spark.queries import REGISTRY

    out = REGISTRY[name](spark, nulls_sf)
    assert out.count() > 0  # survivors still flow; null rows quarantined


def test_null_payload_quarantined_not_dropped(spark, nulls_sf):
    """A missing payload keeps its row with null metadata (joins must not
    silently lose the document)."""
    from proactive_map_reduce_spark.queries import REGISTRY

    rows = REGISTRY["q_multimodal_features"](spark, nulls_sf).collect()
    nulled = [r for r in rows if r["payload_md5"] is None]
    assert len(nulled) == 100  # doc_id % 5 == 0 of 500
    assert all(r["width"] is None and r["n_frames"] is None for r in nulled)
