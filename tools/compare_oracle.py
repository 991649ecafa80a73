"""Local mirror of the driver's correctness gate.

Runs every query in __spark_entry__.queries() against its oracle_sql() on
a given sf dir, compares row count + (name-sorted) columns + order-
insensitive values, and prints a verdict per query.

Oracle-result cache (``PMR_ORACLE_CACHE=1``, r10 — the sf1 gate's wall
was ~390 s of three DuckDB oracles re-deriving identical answers every
round): when enabled, a DuckDB result that took longer than
``PMR_ORACLE_CACHE_MIN_SEC`` (default 20 s) is stored CANONICALIZED
(name-sorted columns, canon()-stringified sorted rows) under the
persistent ``/tmp/pmr_scale_oraclecache`` dir, content-addressed
by (sf-dir stat signature, oracle SQL text, DuckDB version) — any data
or SQL change invalidates. A hit serves the cached canonical rows; the
Spark side ALWAYS re-runs and the full comparison still happens, so the
gate's verdict is as strong as before — only the oracle re-derivation
is amortized. Cached hits are marked with a ``c`` suffix on the duck
seconds in the PASS line and counted in the summary; the reported duck
seconds are the entry's ORIGINAL derivation time (ADVICE r10: printing
the cache-read time dropped oracle-dominated queries from every
ranking built on the PASS lines).

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gzip
import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, "/root/repo")

_CACHE_DIR = "/tmp/pmr_scale_oraclecache"
_CACHE_ON = os.environ.get("PMR_ORACLE_CACHE", "") == "1"
_CACHE_MIN_SEC = float(os.environ.get("PMR_ORACLE_CACHE_MIN_SEC", "20"))
#: Cache-format version (ADVICE r10): cached entries hold CANONICALIZED
#: rows, so the key must also pin the canonicalization contract — bump
#: this whenever canon()'s float rounding / list encoding or the
#: name-sorted column layout changes, or stale entries would be served
#: in the old format and produce spurious FAILs (or mask real ones).
_CACHE_FORMAT = "canon-v1:f6-namesorted"


def _cache_path(sf_sig: str, sql: str, duck_version: str) -> str:
    key = hashlib.sha256(
        f"{_CACHE_FORMAT}|{sf_sig}|{duck_version}|{sql}".encode()
    ).hexdigest()[:24]
    return os.path.join(_CACHE_DIR, f"{key}.json.gz")


def _cache_get(path: str):
    try:
        with gzip.open(path, "rt") as f:
            doc = json.load(f)
        # entries carry the ORIGINAL derivation seconds (ADVICE r10:
        # reporting the cache-read time instead silently dropped the
        # oracle-dominated queries from the long-pole ranking); a
        # pre-r11 entry without it is treated as a miss and re-derived
        return doc["cols"], [tuple(r) for r in doc["rows"]], float(doc["sec"])
    except Exception:
        return None


def _cache_put(path: str, cols, rows, derive_sec: float) -> None:
    try:
        os.makedirs(_CACHE_DIR, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        with gzip.open(tmp, "wt") as f:
            json.dump(
                {
                    "cols": cols,
                    "rows": [list(r) for r in rows],
                    "sec": round(derive_sec, 3),
                },
                f,
            )
        os.replace(tmp, path)
    except Exception:
        pass  # cache is an optimization; never fail the gate over it


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # accept space- and/or comma-separated names; reject unknown ones so a
    # typo can't produce a vacuous "0 failures"
    only = {n for arg in sys.argv[2:] for n in arg.split(",") if n}
    from proactive_map_reduce_spark.queries import REGISTRY as _REG

    unknown = only - set(_REG)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}")
        return 2

    import duckdb

    import __spark_entry__ as entry
    from proactive_map_reduce_spark.session import get_spark
    from proactive_map_reduce_spark.sources.tables import TABLES, duck_tune

    spark = get_spark("oracle-compare")
    con = duckdb.connect()
    duck_tune(con)  # bounded pool + disk spill next to the 16g JVM (r8)
    for t in TABLES:
        # guard like bench.py: DuckDB binds views at CREATE time, so one
        # missing table parquet would abort the whole gate before any
        # query ran (queries on the missing table then FAIL individually)
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # multi-file table (the split-invariance fixture): Spark reads
            # the directory natively; DuckDB needs the part-file glob
            # (which also skips Spark's _SUCCESS marker)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entry.queries(), entry.oracle_sql()
    from proactive_map_reduce_spark.sources.tables import stat_signature

    sf_sig = stat_signature(sf_dir) if _CACHE_ON else ""
    failures = []
    cached_hits = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sorted(
                tuple(canon(r[c]) for c in scols) for r in sdf.collect()
            )
            t_spark = time.time() - t0
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            # dedup/curation queries persist plan intermediates for
            # within-query reuse; drop them so a 127-query sweep doesn't
            # accumulate a session's worth of cached corpus derivatives
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"rows {name}: {len(srows)} rows (no oracle — rows-only) [{time.time()-t0:.1f}s]")
            continue
        t1 = time.time()
        cpath = (
            _cache_path(sf_sig, oracles[name], duckdb.__version__)
            if _CACHE_ON
            else None
        )
        hit = _cache_get(cpath) if cpath else None
        if hit is not None:
            # t_duck = the entry's ORIGINAL derivation seconds, so the
            # PASS line (and every ranking built from it) reflects the
            # true oracle cost; the 'c' suffix still marks the hit
            dcols, drows, t_duck = hit
            cached_hits += 1
        else:
            try:
                res = con.execute(oracles[name])
                dcols_raw = [d[0] for d in res.description]
                drows_raw = res.fetchall()
                t_duck = time.time() - t1
            except Exception as e:
                print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
                failures.append(name)
                continue
            order = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
            dcols = [dcols_raw[i] for i in order]
            drows = sorted(tuple(canon(r[i]) for i in order) for r in drows_raw)
            if cpath and t_duck > _CACHE_MIN_SEC:
                _cache_put(cpath, dcols, drows, t_duck)
        if scols != dcols:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            failures.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failures.append(name)
            continue
        if srows != drows:
            bad = next(i for i, (a, b) in enumerate(zip(srows, drows)) if a != b)
            print(f"FAIL {name}: value mismatch at sorted row {bad}:")
            print(f"  spark: {srows[bad]}")
            print(f"  duck : {drows[bad]}")
            failures.append(name)
            continue
        print(
            f"PASS {name}: {len(srows)} rows [{time.time()-t0:.1f}s"
            f" spark={t_spark:.1f} duck={t_duck:.1f}"
            f"{'c' if hit is not None else ''}]"
        )

    print(
        f"\n{len(failures)} failures"
        + (f": {failures}" if failures else "")
        + (f" ({cached_hits} cached oracles)" if cached_hits else "")
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
