"""Physical-row-order invariance probe (round-5 evidence tool).

On a real cluster, parquet row order is an ingestion accident — task
scheduling, file splits, and compaction all permute it. Any query whose
VALUES depend on physical order (a LIMIT without a total order, a
window tie broken by arrival, an order-dependent accumulation) is
nondeterministic at 100 TB even if every small-scale gate passes,
because both engines read the same file order there and "agree" on the
accident.

This probe severs that: build a row-order-PERMUTED copy of sf0.001
(same rows, order by md5 of each table's key — any deterministic
permutation works), then

  1. run the full cross-engine gate on the permuted dir
     (``tools/compare_oracle.py <permuted>``), and
  2. run THIS script: every registry query executed by Spark on the
     ORIGINAL dir and on the permuted dir, canonical (order-
     insensitive) results compared for bit-identity.

Round-5 result: 131/131 PASS on both checks — every query's values are
physical-order invariant (the decimal/int64 exact accumulations are
what make the aggregate family hold; rank/limit surfaces carry total
orders).

Usage:
  python - <<'EOF'   # build the permuted fixture (single-file parquets)
  ... see adversarial_gate.build_fixture for the pattern; permute with
  ... df.orderBy(F.md5(F.col(key).cast("string")))
  EOF
  python tools/order_invariance.py /tmp/<permuted_dir>
"""

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from compare_oracle import canon  # noqa: E402

ORIG = "/root/testdata/sf0.001"


def main() -> int:
    shuf = sys.argv[1]

    import __spark_entry__ as entry
    from proactive_map_reduce_spark.session import get_spark

    spark = get_spark("order-invariance")
    qs = entry.queries()
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            a = sorted(tuple(canon(v) for v in r) for r in fn(spark, ORIG).collect())
            b = sorted(tuple(canon(v) for v in r) for r in fn(spark, shuf).collect())
        except Exception as e:  # noqa: BLE001 — report, don't mask
            print(f"FAIL {name}: error {str(e)[:200]}", flush=True)
            failures.append(name)
            continue
        finally:
            spark.catalog.clearCache()
        if a != b:
            diff = (
                next((i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y)
                if len(a) == len(b)
                else None
            )
            print(f"FAIL {name}: rows {len(a)} vs {len(b)} first-diff {diff}", flush=True)
            failures.append(name)
        else:
            print(f"PASS {name}: {len(a)} rows [{time.time()-t0:.1f}s]", flush=True)
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
