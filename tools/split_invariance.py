"""Multi-file / multi-row-group physical-layout invariance probe (r7).

The driver fixtures are SINGLE-file, single-row-group parquet, so Spark
gets one input split per table and DuckDB reads one file stream —
split-boundary behavior (the one physical-layout axis a real cluster
always perturbs: a 100 TB table arrives as ~800k splits) was untested.
README carried this as an explicit caveat; this tool closes it.

Fixture: sf0.001 rewritten with each table as a DIRECTORY of N part
files (round-robin repartition — rows land in arbitrary files, which
row-order invariance already licenses) written with a tiny
``parquet.block.size`` so each file carries several row groups. The
probe then runs the FULL cross-engine gate (``compare_oracle.py`` —
same comparator, zero probe-specific tolerance) with
``SPARK_GRAFT_MAX_PARTITION_BYTES=65536`` so Spark plans row-group-level
splits instead of packing the small files into one partition, and
DuckDB binds the part-file glob. Every query must hash-match exactly as
it does on the single-file fixture.

Fixture cache: content-addressed on the source data signature AND this
file's source bytes (the adversarial_gate r7 rule: patcher edits must
invalidate), under ``pmr_splitfix_*``, built once through
``tools/_fixture.py``.

Usage: python tools/split_invariance.py [--files=N] [query ...]
Writes SPLIT_INVARIANCE.json at the repo root; exit non-zero on any
failure.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

SF_SRC = "/root/testdata/sf0.001"
BLOCK_BYTES = 32 * 1024  # tiny parquet row groups: several per part file
PROBE_ENV = {"SPARK_GRAFT_MAX_PARTITION_BYTES": "65536"}


def build_fixture(n_files: int) -> str:
    from _fixture import cached_fixture

    from proactive_map_reduce_spark.sources.tables import stat_signature

    with open(os.path.abspath(__file__), "rb") as f:
        code = f.read()
    tag = hashlib.sha256(
        stat_signature(SF_SRC).encode()
        + hashlib.sha256(code).digest()
        + str(n_files).encode()
    ).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"pmr_splitfix_{tag}")
    return cached_fixture(out, lambda stage: _write_fixture(stage, n_files))


def _write_fixture(stage: str, n_files: int) -> None:
    from proactive_map_reduce_spark.session import get_spark
    from proactive_map_reduce_spark.sources.tables import TABLES

    spark = get_spark("split-invariance-fixture")
    for t in TABLES:
        df = spark.read.parquet(f"{SF_SRC}/{t}.parquet")
        (
            df.repartition(n_files)
            .write.mode("overwrite")
            .option("parquet.block.size", str(BLOCK_BYTES))
            .parquet(os.path.join(stage, f"{t}.parquet"))
        )
    spark.stop()


def layout_stats(fixture: str) -> dict:
    """Per-table (files, row_groups) — the evidence the fixture really is
    multi-split, not an accident of write-path coalescing."""
    import pyarrow.parquet as pq

    stats = {}
    for d in sorted(glob.glob(os.path.join(fixture, "*.parquet"))):
        parts = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
        stats[os.path.basename(d).removesuffix(".parquet")] = {
            "files": len(parts),
            "row_groups": sum(pq.ParquetFile(p).num_row_groups for p in parts),
        }
    return stats


def main() -> int:
    args = [a for a in sys.argv[1:]]
    n_files = 4
    for a in list(args):
        if a.startswith("--files="):
            n_files = int(a.split("=", 1)[1])
            args.remove(a)
    fixture = build_fixture(n_files)
    stats = layout_stats(fixture)
    print(json.dumps(stats))
    multi = [t for t, s in stats.items() if s["files"] > 1 and s["row_groups"] > s["files"]]
    from config_invariance import run_probe

    res = run_probe("split_layout", PROBE_ENV, fixture, extra_args=args)
    res["sf_dir"] = fixture
    summary = {
        "metric": "split_invariance",
        "started": time.strftime("%F %T"),
        "n_files": n_files,
        "block_bytes": BLOCK_BYTES,
        "layout": stats,
        "tables_multi_file_multi_rowgroup": multi,
        "probe": res,
        # >=3 multi-file+multi-rowgroup tables: lineitem/documents/
        # embeddings always qualify at sf0.001; the tiny dims can't carry
        # several row groups at this scale and that's fine — the gate
        # still reads EVERY table through the 4-file directory path.
        "ok": res["rc"] == 0 and res["failures"] == 0 and len(multi) >= 3,
    }
    line = json.dumps(summary)
    print("\n" + line)
    if not args:  # partial (named-query) runs don't overwrite the artifact
        with open(os.path.join(ROOT, "SPLIT_INVARIANCE.json"), "w") as f:
            f.write(line + "\n")
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
