"""One-off full oracle gate at sf1-equivalent scale (round-7 verdict item).

Both r4 deep finds (boundary-rounding drift in displayed decimals,
engine-divergent float round()) were INVISIBLE below sf0.1 — the defect
class grows with group cardinality and value magnitude. This probe is
the cheapest remaining test of that class: a ~6M-row lineitem / ~10M-row
events fixture (sf0.1 replicated 10×, the driver generator's own sf1 row
counts) pushed through the FULL cross-engine gate — same comparator,
zero gate-specific tolerance.

Fixture (``/tmp/pmr_scale_sf1_<tag>``, built once through
``tools/_fixture.py``; tag = hash of base-data signature + this file's
source bytes):

- big tables replicated 10× with per-replica id offsets (so
  join/dedup semantics stay non-degenerate); documents text is
  perturbed per replica (and n_chars kept consistent) so the dedup
  surfaces see near- not all-duplicates;
- events.ts is written as TIMESTAMP_NTZ: the driver fixture stores
  INT64(TIMESTAMP(NANOS)) which DuckDB reads as plain TIMESTAMP and
  Spark converts via the nanosAsLong DIV-1000 path (sources/tables.py) —
  NTZ micros is the same value domain on both engines, so the gate
  compares values, not encodings;
- each big table lands as a DIRECTORY of part files (multi-split layout,
  like tools/split_invariance.py — compare_oracle binds the part glob
  for DuckDB), i.e. the scale probe also runs on cluster-shaped file
  layout rather than one artisanal file per table.

Usage: python tools/sf1_gate.py [query ...]
Writes SF1_GATE.json at the repo root on full runs; exit non-zero on
any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

BASE = "/root/testdata/sf0.1"
REPLICAS = 10
# id column + per-replica stride (strictly above each column's sf0.1 max)
OFFSETS = {
    "documents": ("doc_id", 1_000_000),
    "lineitem": ("l_orderkey", 10_000_000),
    "orders": ("o_orderkey", 10_000_000),
    "events": ("event_id", 10_000_000),
    "embeddings": ("vec_id", 1_000_000),
}
SMALL = ["region", "nation", "customer", "supplier", "part"]


def fixture_path() -> str:
    """Content-addressed fixture dir (ADVICE r7): the tag hashes the
    BASE data's stat signature plus THIS FILE's source bytes, so editing
    REPLICAS / OFFSETS / the perturbation logic (or the base data
    changing between rounds) forces a rebuild instead of silently
    attesting a pass against stale fixture semantics — the same
    invalidation rule adversarial_gate.py and split_invariance.py apply."""
    import hashlib

    from proactive_map_reduce_spark.sources.tables import stat_signature

    with open(os.path.abspath(__file__), "rb") as f:
        code = f.read()
    tag = hashlib.sha256(
        stat_signature(BASE).encode() + hashlib.sha256(code).digest()
    ).hexdigest()[:12]
    return os.path.join("/tmp", f"pmr_scale_sf1_{tag}")


def build() -> str:
    from _fixture import cached_fixture

    return cached_fixture(fixture_path(), _write_fixture)


def _write_fixture(stage: str) -> None:
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.session import get_spark
    from proactive_map_reduce_spark.sources.tables import load_table

    spark = get_spark("sf1-gate-fixture")
    for t in SMALL:
        # byte-identical copy: preserves the generator's exact parquet
        # typing for both engines
        shutil.copyfile(f"{BASE}/{t}.parquet", f"{stage}/{t}.parquet")
    for t, (idc, stride) in OFFSETS.items():
        df = load_table(spark, BASE, t)  # events: nanos → timestamp micros
        df = df.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(REPLICAS - 1)))
        ).withColumn(idc, F.col(idc) + F.col("__r").cast("long") * stride)
        if t == "documents":
            suffix = F.concat(F.lit(" replica"), F.col("__r"))
            df = df.withColumn(
                "n_chars", F.col("n_chars") + F.length(suffix)
            ).withColumn("text", F.concat(F.col("text"), suffix))
        if t == "events":
            # NTZ write: wall-clock-preserving under the UTC session pin,
            # read back by load_table's timestamp_ntz branch; DuckDB sees
            # plain TIMESTAMP exactly like the driver's nanos encoding
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        df.drop("__r").repartition(16).write.mode("overwrite").parquet(
            f"{stage}/{t}.parquet"
        )
    spark.stop()


# Queries excluded from the sf1 run, each with its measured reason.
# Empty since r8: q_dedup_ngram_jaccard — formerly excluded for its
# uncapped blocked self-join (measured 59,218,500 candidate pairs on
# this fixture vs 588,348 at sf0.1) — now routes candidate generation
# through dedup.capped_block_pairs (K=64 star-cap per block), bounding
# it to O(K²+B) pairs per block; the bound is recorded in SCALING.md.
EXCLUDE: dict[str, str] = {}


def regen_readme_longpoles(summary: dict) -> None:
    """Auto-regenerate README's sf1 long-pole table from the freshly
    written artifact (r9 verdict polish item: a hand-maintained table
    goes stale the moment the gate re-runs). The block lives between
    SF1_LONGPOLES markers; the 'dominated by' column is derived
    mechanically from the spark/duck split."""
    import re

    path = os.path.join(ROOT, "README.md")
    with open(path) as f:
        text = f.read()
    rows = ["  | query | total | spark | duck | dominated by |",
            "  |---|---|---|---|---|"]
    for q, t in summary["long_poles_sec"].items():
        sp, du = t.get("spark", 0.0), t.get("duck", 0.0)
        cached = " (cached)" if t.get("duck_cached") else ""
        if du >= 2 * sp:
            dom = f"DuckDB oracle{cached}"
        elif sp >= 2 * du:
            dom = "Spark side (incl. staged replay harness)"
        else:
            dom = "both engines"
        rows.append(f"  | {q} | {t['total']} | {sp} | {du} | {dom} |")
    begin = "<!-- SF1_LONGPOLES:begin"
    end = "<!-- SF1_LONGPOLES:end -->"
    block = (
        f"  {begin} (auto-regenerated by tools/sf1_gate.py from "
        "SF1_GATE.json — do not edit by hand) -->\n"
        + "\n".join(rows)
        + f"\n  {end}"
    )
    new = re.sub(
        r"[ \t]*<!-- SF1_LONGPOLES:begin.*?<!-- SF1_LONGPOLES:end -->",
        block,
        text,
        count=1,
        flags=re.S,
    )
    if new != text:
        with open(path, "w") as f:
            f.write(new)
        print("README sf1 long-pole table regenerated", flush=True)


def main() -> int:
    args = sys.argv[1:]
    partial = bool(args)
    fixture = build()
    from config_invariance import run_probe

    if not partial:
        from proactive_map_reduce_spark.queries import REGISTRY

        args = sorted(n for n in REGISTRY if n not in EXCLUDE)
    # timings=True: the committed artifact carries a per-query seconds
    # map (r9 verdict item) — the r8 long pole (q_stateful_accumulate,
    # 207.6 s) was invisible in the gate total until re-timed by hand.
    # PMR_ORACLE_CACHE=1 (r10 verdict item 3): ~390 s of the gate was
    # three DuckDB oracles re-deriving identical canonical rows every
    # round (clusters recursive CTE 162 s, ROUGE LCS DP 141 s, confirmed
    # near-dups 88 s). The cache is content-addressed by (fixture stat
    # signature, SQL text, DuckDB version) — the Spark side always
    # re-runs and the comparison is unchanged; cache-served rows are
    # flagged per query (duck_cached) in query_secs.
    res = run_probe(
        "sf1", {"PMR_ORACLE_CACHE": "1"}, fixture, extra_args=args,
        timings=True,
    )
    res["sf_dir"] = fixture
    long_poles = sorted(
        res.get("query_secs", {}).items(),
        key=lambda kv: kv[1]["total"],
        reverse=True,
    )[:10]
    summary = {
        "metric": "sf1_gate",
        "started": time.strftime("%F %T"),
        "replicas": REPLICAS,
        "base": BASE,
        "queries_run": len(args),
        "excluded": EXCLUDE,
        "oracle_cache": True,
        "oracles_served_from_cache": sorted(
            q for q, t in res.get("query_secs", {}).items()
            if t.get("duck_cached")
        ),
        "long_poles_sec": {q: t for q, t in long_poles},
        "probe": res,
        "ok": res["rc"] == 0 and res["failures"] == 0,
    }
    line = json.dumps(summary)
    print("\n" + line)
    if not partial:  # partial runs don't overwrite the round artifact
        with open(os.path.join(ROOT, "SF1_GATE.json"), "w") as f:
            f.write(line + "\n")
        regen_readme_longpoles(summary)
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
