"""Past-10× validation of the three 100 TB load-bearing scale claims
(round-9 verdict item 4).

The sf1 gate (10×) proves correctness at scale; the SHAPE claims that
make the dedup surfaces viable at 100 TB are asymptotic and deserve
direct measurement further out:

1. **Star-cap pair bound** (``dedup.capped_block_pairs``): emitted
   pairs per block of size s are exactly C(min(s,K),2) + max(0, s−K) —
   O(K²+B) total, never O(B²). The probe computes that closed form from
   the measured block-size distribution and compares it against the
   ACTUAL emitted pair count, on both the LSH band-bucket path (K=256;
   cross-band ``distinct`` makes the form an upper bound) and the
   n-gram block path (K=64; disjoint blocks make it an exact equality).
2. **LSH pair growth**, split by what drives it: on DUPLICATE-FREE
   growth (the ``distinct`` fixture variant) candidate pairs must grow
   ~linearly in docs — super-linear growth there is a plan defect. On
   near-duplicate growth (the ``neardup`` variant) pairs legitimately
   grow with the square of the real duplicate-cluster size — the claim
   under test is then the K-cap bound above, plus the recorded
   ``pairs_uncapped_form`` showing what an uncapped expansion would
   have produced.
3. **Connected-components round count**: min-label propagation with the
   pointer-doubling shortcut converges in O(log diameter) rounds;
   replication multiplies the number of components, not their diameter,
   so rounds must stay ~flat as data scales.

Fixtures: documents-only replicas of sf0.1 (id offsets; text perturbed
per the variant — see ``build_docs``), content-addressed under
``/tmp/pmr_scale_probe_*`` and reused across runs.

Usage: python tools/scale_probe.py [replicas ...]   # default: 30
Merges one row per replica count into SCALE_PROBE.json (the 1× baseline
row is always measured in the same run). Exits non-zero if any bound
check fails.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE = "/root/testdata/sf0.1"


def build_docs(spark, replicas: int, variant: str) -> str:
    """Documents-only N× replica; two perturbation variants probing two
    different claims:

    - ``neardup`` (the sf1_gate scheme — a per-replica text SUFFIX):
      replicas of one doc remain genuine near-duplicates, so their
      minhash signatures mostly agree and LSH buckets grow ×replicas.
      Pairs here SHOULD grow ~quadratically in cluster size — that is
      the data's true duplicate structure — and the claim under test is
      the K-cap bound, not linearity.
    - ``distinct`` (every WORD salted with the replica id): every
      shingle differs across replicas, so signatures are independent
      and the bucket-size distribution keeps the 1× shape. Pairs here
      must grow ~linearly in docs — any super-linear growth would be a
      PLAN defect (a join blowup), not data structure.
    """
    import hashlib

    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.sources.tables import stat_signature

    tag = hashlib.sha256(
        (
            stat_signature(f"{BASE}/documents.parquet")
            + f"|r{replicas}|{variant}|v2"
        ).encode()
    ).hexdigest()[:12]
    out = f"/tmp/pmr_scale_probe_{replicas}x_{variant}_{tag}"
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    df = spark.read.parquet(f"{BASE}/documents.parquet")
    df = df.withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
    ).withColumn("doc_id", F.col("doc_id") + F.col("__r").cast("long") * 1_000_000)
    if variant == "neardup":
        suffix = F.concat(F.lit(" replica"), F.col("__r"))
        df = df.withColumn(
            "n_chars", F.col("n_chars") + F.length(suffix)
        ).withColumn("text", F.concat(F.col("text"), suffix))
    else:  # distinct: salt EVERY word so no cross-replica shingle survives
        df = df.withColumn(
            "text",
            F.expr(
                "array_join(transform(split(text, ' '), "
                "w -> concat('r', cast(__r as string), w)), ' ')"
            ),
        )
    df = df.drop("__r")
    os.makedirs(out, exist_ok=True)
    df.repartition(max(16, replicas)).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def star_cap_closed_form(blocked, block_cols, k):
    """Σ_blocks C(min(s,K),2) + max(0, s−K), computed relationally from
    the block-size distribution (integer arithmetic — K ≤ 256 keeps
    min(s,K)² far inside int64)."""
    from pyspark.sql import functions as F

    sizes = blocked.groupBy(*block_cols).agg(F.count("*").alias("s"))
    row = sizes.select(
        F.sum(
            F.expr(f"least(s, {k}) * (least(s, {k}) - 1) DIV 2")
            + F.greatest(F.col("s") - k, F.lit(0))
        ).alias("pred"),
        F.sum(F.expr("s * (s - 1) DIV 2")).alias("uncapped"),
        F.count("*").alias("n_blocks"),
        F.max("s").alias("max_block"),
    ).collect()[0]
    return (
        int(row["pred"] or 0),
        int(row["n_blocks"]),
        int(row["max_block"] or 0),
        int(row["uncapped"] or 0),
    )


def probe(spark, sf_dir: str, with_cc: bool = True) -> dict:
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.operators import dedup
    from proactive_map_reduce_spark.queries._base import (
        MINHASH_BANDS,
        MINHASH_N,
        NGRAM_BLOCK_CAP,
    )
    from proactive_map_reduce_spark.sources.tables import load_table

    out: dict = {}
    docs = load_table(spark, sf_dir, "documents")
    out["docs"] = docs.count()

    # --- LSH band-bucket path (K=256, 4 bands: the minhash/clusters path)
    t0 = time.time()
    sigs = dedup.minhash_arrays(docs, MINHASH_N).persist()
    banded = dedup.band_rows(sigs, MINHASH_N, MINHASH_BANDS)
    pred, n_blocks, max_blk, uncapped = star_cap_closed_form(
        banded, ["band_id", "band_hash"], dedup.LSH_MAX_BUCKET
    )
    pairs = dedup.lsh_candidate_pairs(sigs, MINHASH_N, MINHASH_BANDS).persist()
    actual = pairs.count()
    out["lsh"] = {
        "K": dedup.LSH_MAX_BUCKET,
        "buckets": n_blocks,
        "max_bucket": max_blk,
        "pairs_closed_form_upper": pred,  # pre-distinct (cross-band dups)
        "pairs_uncapped_form": uncapped,  # what NO cap would expand to
        "pairs_actual": actual,
        "bound_holds": actual <= pred,
        "sec": round(time.time() - t0, 1),
    }

    # --- connected components over the LSH pairs (round-count claim)
    if with_cc:
        t0 = time.time()
        labels = dedup.connected_components(pairs)
        comp = labels.agg(
            F.countDistinct("cluster_rep").alias("c"), F.count("*").alias("n")
        ).collect()[0]
        out["cc"] = {
            "edges": actual,
            "nodes": int(comp["n"]),
            "components": int(comp["c"]),
            "rounds": dedup.CC_STATS["rounds"],
            "round_secs": dedup.CC_STATS["round_secs"],
            "sec": round(time.time() - t0, 1),
        }
    pairs.unpersist()
    sigs.unpersist()

    # --- n-gram block path (K=64, disjoint (lang, len-bucket) blocks):
    # the closed form is EXACT here (ids unique per block, blocks disjoint
    # → the trailing distinct is a no-op)
    t0 = time.time()
    blocked = docs.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("bigint").alias("blk_bucket"),
    )
    pred, n_blocks, max_blk, uncapped = star_cap_closed_form(
        blocked, ["lang", "blk_bucket"], NGRAM_BLOCK_CAP
    )
    actual = dedup.capped_block_pairs(
        blocked, ["lang", "blk_bucket"], max_block=NGRAM_BLOCK_CAP
    ).count()
    out["ngram"] = {
        "K": NGRAM_BLOCK_CAP,
        "blocks": n_blocks,
        "max_block": max_blk,
        "pairs_closed_form": pred,
        "pairs_uncapped_form": uncapped,
        "pairs_actual": actual,
        "exact_match": actual == pred,
        "sec": round(time.time() - t0, 1),
    }
    return out


def main() -> int:
    replica_counts = [int(a) for a in sys.argv[1:]] or [30]

    from proactive_map_reduce_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    rows: dict[str, dict] = {}
    print("probing 1x baseline", flush=True)
    rows["1x"] = probe(spark, BASE)
    for n in replica_counts:
        for variant in ("neardup", "distinct"):
            print(f"building {n}x {variant} documents fixture", flush=True)
            fx = build_docs(spark, n, variant)
            print(f"probing {n}x {variant} ({fx})", flush=True)
            rows[f"{n}x_{variant}"] = probe(spark, fx)

    base = rows["1x"]
    checks: list[str] = []
    for key, r in rows.items():
        if not r["lsh"]["bound_holds"]:
            checks.append(f"{key}: LSH pairs exceed closed-form bound")
        if not r["ngram"]["exact_match"]:
            checks.append(f"{key}: ngram pairs != closed form")
        scale = r["docs"] / base["docs"]
        if scale > 1:
            growth = r["lsh"]["pairs_actual"] / max(base["lsh"]["pairs_actual"], 1)
            r["lsh"]["growth_vs_docs"] = round(growth / scale, 2)
            g2 = r["ngram"]["pairs_actual"] / max(base["ngram"]["pairs_actual"], 1)
            r["ngram"]["growth_vs_docs"] = round(g2 / scale, 2)
            # linearity is a claim about the PLAN only on duplicate-free
            # growth: the neardup variant legitimately grows pairs with
            # the square of its (real) duplicate-cluster size, bounded
            # by the K-capped closed form checked above.
            if key.endswith("_distinct") and growth > 4 * scale:
                checks.append(
                    f"{key}: LSH pair growth {growth:.0f}× vs docs {scale:.0f}×"
                )
            if "cc" in r and "cc" in base and r["cc"]["rounds"] > base["cc"]["rounds"] + 2:
                checks.append(
                    f"{key}: CC rounds grew {base['cc']['rounds']}→{r['cc']['rounds']}"
                )
    doc = {
        "metric": "scale_probe",
        "started": time.strftime("%F %T"),
        "base": BASE,
        "rows": rows,
        "violations": checks,
        "ok": not checks,
    }
    line = json.dumps(doc)
    print("\n" + line)
    with open(os.path.join(ROOT, "SCALE_PROBE.json"), "w") as f:
        f.write(line + "\n")
    spark.stop()
    return 0 if not checks else 1


if __name__ == "__main__":
    raise SystemExit(main())
