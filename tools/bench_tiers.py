"""Tier-load A/B harness: measured fetch-vs-recompute per cache tier.

The engine analog of the reference's pipelined-load comparison
(pipeline_70b_samsum_simple.py:305-383 / pipeline_70b_samsum_compare.py),
which times KV fetch from each storage tier against full recompute for
the staged pipeline's intermediates. Here the intermediate is the staged
map output (llm_map over the chunked corpus); for each tier the harness

  1. persists the intermediate at the tier's StorageLevel and
     materializes it (the "store" that a prior stage already paid),
  2. times a downstream consumption (aggregation over every row) that
     FETCHes from the tier,
  3. times the same consumption with no cache at all (full recompute),

interleaved best-of-N so host drift cancels, and validates
CacheManager.estimated_load_time's bandwidth model against the measured
fetch times. Prints one JSON line per tier plus a summary line with the
cost-model error (model says memory:disk bandwidth is 10:1; on a local
fs with page cache the measured spread is far flatter — the number to
read is the RANK agreement and the fetch-vs-recompute margin, which is
what the placement policy actually acts on).

A second, COLD pass then re-measures the memory:disk pair with the
page cache dropped for the on-disk blocks (``sync`` +
``posix_fadvise(POSIX_FADV_DONTNEED)`` over the block-manager's
``rdd_*`` files before every fetch). The warm pass shows the model's
10:1 memory:disk constant measuring ~1:1 because DISK_ONLY blocks sit
in the page cache; the cold pass is the honest analog of the
reference's physically-slow nfs tier (kv_loading_interface.py:28-53,
size/1 vs size/100) — the regime the constant models. Both numbers are
printed; the placement decision (`decide_tier`) acts on the
fetch-vs-recompute margin, which holds in both regimes.

Usage: python tools/bench_tiers.py [sf_dir] [reps]
       (default /root/testdata/sf0.1, 5)
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402


def _drop_block_page_cache() -> tuple[int, int]:
    """Evict the OS page cache for every Spark block-manager RDD block
    file (the DISK_ONLY storage). Dirty pages can't be dropped, so flush
    first; returns (files, bytes) advised — 0 files means the persist
    landed nowhere on disk and the 'cold' number would be fake."""
    os.sync()
    files = n_bytes = 0
    for p in glob.glob("/tmp/blockmgr-*/*/rdd_*"):
        try:
            fd = os.open(p, os.O_RDONLY)
        except OSError:
            continue
        try:
            os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            n_bytes += os.fstat(fd).st_size
            files += 1
        finally:
            os.close(fd)
    return files, n_bytes


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from proactive_map_reduce_spark.operators import chunking, mapstage
    from proactive_map_reduce_spark.plans.cache import TIERS, CacheManager, cache_key
    from proactive_map_reduce_spark.session import get_spark

    spark = get_spark("bench-tiers")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def intermediate():
        """The staged-pipeline intermediate: chunked docs through the
        black-box map stage — rebuilt fresh so each persist owns its
        lineage and no tier reuses another tier's state."""
        chunks = chunking.partition_equal_arrays(docs, 4)
        return mapstage.llm_map(chunks)

    def consume(df) -> float:
        t0 = time.time()
        df.agg(
            F.count("*").alias("n"),
            F.sum(F.length("out_text")).alias("total_chars"),
        ).collect()
        return time.time() - t0

    # cold-codegen warmup — deliberately DISCARDED, never part of the
    # measured recompute baseline below
    for _ in range(2):
        consume(intermediate())

    mgr = CacheManager()
    key_of = {t: cache_key("bench_tiers", t) for t in TIERS}
    fetch: dict[str, list[float]] = {t: [] for t in TIERS}
    est_load: dict[str, float] = {}
    recompute: list[float] = []
    for rep in range(reps):
        for tier in TIERS:
            df = intermediate()
            mgr.add(key_of[tier], df, tier=tier)
            df.count()  # materialize the store
            # the model prediction under test — captured while the entry
            # is live, so estimated_load_time's size_gb/bandwidth path
            # actually runs (not just the raw TIERS constants)
            est_load[tier] = mgr.estimated_load_time(key_of[tier])
            fetch[tier].append(consume(mgr.fetch(key_of[tier])))
            mgr.evict(key_of[tier])
        recompute.append(consume(intermediate()))

    recompute_sec = min(recompute)
    rows = []
    for tier in TIERS:
        best = min(fetch[tier])
        rows.append(
            {
                "tier": tier,
                "fetch_sec": round(best, 3),
                "recompute_sec": round(recompute_sec, 3),
                "speedup_vs_recompute": round(recompute_sec / best, 2) if best > 0 else None,
                "model_rel_bandwidth": TIERS[tier][1],
                # size_gb / relative-bandwidth — unit-less model cost, tiny
                # at bench scale; keep significant digits so the per-tier
                # ordering (what decide_tier compares) stays visible
                "model_est_load_cost": float(f"{est_load[tier]:.3g}"),
            }
        )
        print(json.dumps(rows[-1]))

    # cost-model check: estimated_load_time's per-tier predictions (the
    # method decide_tier acts on) vs measured ordering — a regression in
    # the size_gb/bandwidth division would reorder or zero these
    model_rank = sorted(TIERS, key=lambda t: est_load[t])
    meas_rank = sorted(TIERS, key=lambda t: min(fetch[t]))
    mem, dsk = min(fetch["memory"]), min(fetch["disk"])
    # when the measured per-tier spread is inside noise (page-cached
    # local fs: every tier ~ memory speed), the measured rank is a
    # shuffle of ties and "rank_agreement" is meaningless — say so
    # instead of letting a coin flip read as a model error
    fastest = min(min(fetch[t]) for t in TIERS)
    slowest = max(min(fetch[t]) for t in TIERS)
    distinguishable = fastest > 0 and (slowest - fastest) / fastest > 0.25
    summary = {
        "metric": "tier_load_ab",
        "model_rank": model_rank,
        "measured_rank": meas_rank,
        "tiers_distinguishable": distinguishable,
        "rank_agreement": model_rank == meas_rank if distinguishable else None,
        "model_memory_disk_ratio": TIERS["memory"][1] / TIERS["disk"][1],
        "measured_memory_disk_ratio": round(dsk / mem, 2) if mem > 0 else None,
        "fetch_beats_recompute_all_tiers": all(
            min(fetch[t]) < recompute_sec for t in TIERS
        ),
    }
    print(json.dumps(summary))

    # ---- cold pass: memory vs disk with the page cache actually cold.
    # Two things distinguish this from the warm pass: (a) the page cache
    # for the on-disk blocks is dropped before EVERY fetch (a fetch
    # re-warms it, so once per rep is not enough), and (b) the stored
    # intermediate is replicated ~COLD_MULT× — the staged map output is
    # <1 MB at bench scale, where a fetch is pure job overhead and even a
    # genuinely cold disk read is free; the bandwidth constant under
    # test only expresses itself once the blocks are storage-bandwidth-
    # sized. Replication multiplies STORED bytes without multiplying the
    # upstream map work, which is exactly the variable the tier model
    # prices (bytes moved per fetch). The session stores blocks
    # compressed (spark.rdd.compress), so identical replicas would
    # deduplicate to nothing — each replica carries an incompressible
    # sha2-chain payload (~512 B of hex, 256 B entropy) so stored bytes
    # actually scale with the multiplier.
    cold_mult = int(os.environ.get("SPARK_GRAFT_COLD_MULT", "64"))
    dup = F.explode(F.array(*[F.lit(i) for i in range(cold_mult)])).alias("dup")

    def intermediate_large():
        base = intermediate().select("*", dup)
        payload = F.concat(
            *[
                F.sha2(
                    F.concat_ws(
                        "-",
                        F.hash("out_text").cast("string"),
                        F.col("dup").cast("string"),
                        F.lit(str(i)),
                    ),
                    256,
                )
                for i in range(4)
            ]
        )
        return base.withColumn("payload", payload)

    cold: dict[str, list[float]] = {"memory": [], "disk": []}
    advised_files = advised_bytes = 0
    for rep in range(reps):
        for tier in ("memory", "disk"):
            df = intermediate_large()
            mgr.add(key_of[tier], df, tier=tier)
            df.count()
            if tier == "disk":
                nf, nb = _drop_block_page_cache()
                advised_files, advised_bytes = max(advised_files, nf), max(
                    advised_bytes, nb
                )
            cold[tier].append(consume(mgr.fetch(key_of[tier])))
            mgr.evict(key_of[tier])
    mem_c, dsk_c = min(cold["memory"]), min(cold["disk"])
    cold_summary = {
        "metric": "tier_load_ab_cold",
        "stored_replication": cold_mult,
        "memory_fetch_sec": round(mem_c, 3),
        "disk_cold_fetch_sec": round(dsk_c, 3),
        "measured_memory_disk_ratio_cold": round(dsk_c / mem_c, 2)
        if mem_c > 0
        else None,
        "model_memory_disk_ratio": TIERS["memory"][1] / TIERS["disk"][1],
        "advised_block_files": advised_files,
        "advised_block_bytes": advised_bytes,
    }
    print(json.dumps(cold_summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
