"""DuckDB co-tenancy helpers (sources/tables.duck_tune / duck_views).

These run beside a 16 GiB Spark JVM in every gate/bench process; the
helpers bound DuckDB's buffer pool and bind fixture views for BOTH
single-file and directory-per-table parquet layouts (ADVICE r8: the
floor profiler lacked the directory branch and silently lost its DuckDB
baselines on the sf1 fixture; a flat 48GB default RAISED the limit on
small-RAM hosts instead of bounding it).
"""

from __future__ import annotations

import os

import duckdb

from proactive_map_reduce_spark.sources.tables import duck_tune, duck_views

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _limit_bytes(con) -> int:
    # memory_limit renders like '44.7 GiB'
    txt = con.execute("SELECT current_setting('memory_limit')").fetchone()[0]
    val, unit = txt.split()
    mult = {"KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}[unit]
    return int(float(val) * mult)


def test_duck_tune_default_never_exceeds_ram_fraction(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DUCK_MEM", raising=False)
    con = duckdb.connect()
    duck_tune(con)
    got = _limit_bytes(con)
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert got <= 48 * 2**30 * 1.01
    # the point of the clamp: on ANY host the default stays a bound,
    # never a raise past DuckDB's own 80%-of-RAM default
    assert got <= ram * 0.41
    con.close()


def test_duck_tune_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DUCK_MEM", "2GB")
    con = duckdb.connect()
    duck_tune(con)
    assert abs(_limit_bytes(con) - 2 * 10**9) / 2e9 < 0.1  # 2GB ≈ 1.86GiB
    con.close()


def test_duck_views_binds_single_file_and_directory_layout(spark, tmp_path):
    """One registration loop must handle both layouts: the driver's
    single-file tables and the sf1 fixture's directory-of-part-files
    tables (where the glob also skips Spark's _SUCCESS marker)."""
    single = str(tmp_path / "single")
    os.makedirs(single)
    spark.range(5).selectExpr("id as r_regionkey").coalesce(1).write.parquet(
        str(tmp_path / "stage")
    )
    part = next(
        f
        for f in os.listdir(tmp_path / "stage")
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    os.rename(tmp_path / "stage" / part, os.path.join(single, "region.parquet"))

    multi = str(tmp_path / "multi")
    os.makedirs(multi)
    spark.range(7).selectExpr("id as n_nationkey").repartition(3).write.parquet(
        os.path.join(multi, "nation.parquet")
    )

    con = duckdb.connect()
    # absent tables (every fixture table but the one written) are
    # skipped, not errors
    duck_views(con, single)
    assert con.execute("SELECT count(*) FROM region").fetchone()[0] == 5
    duck_views(con, multi)
    assert con.execute("SELECT count(*) FROM nation").fetchone()[0] == 7
    con.close()


def test_oracle_result_cache_roundtrip(tmp_path, monkeypatch):
    """The compare harness's content-addressed oracle cache (r10): a put
    followed by a get returns the canonical (cols, rows) with rows as
    TUPLES (the comparator compares against tuples — a list would
    never equal them) plus the ORIGINAL derivation seconds (ADVICE r10:
    a hit must report the true oracle cost, not the cache-read time),
    distinct keys never collide for different SQL, a pre-r11 entry
    without the seconds field degrades to a miss, and a corrupt cache
    file degrades to a miss, never an exception."""
    import gzip
    import json
    import sys

    sys.path.insert(0, TOOLS)
    import compare_oracle as co

    monkeypatch.setattr(co, "_CACHE_DIR", str(tmp_path / "cache"))
    p1 = co._cache_path("sig-a", "SELECT 1", "1.0.0")
    p2 = co._cache_path("sig-a", "SELECT 2", "1.0.0")
    assert p1 != p2
    cols = ["a", "b"]
    rows = [("'x'", "1.000000"), ("'y'", "nan")]
    co._cache_put(p1, cols, rows, 42.5)
    got = co._cache_get(p1)
    assert got == (cols, rows, 42.5)
    assert all(isinstance(r, tuple) for r in got[1])
    assert co._cache_get(p2) is None  # miss: different SQL
    # legacy (pre-r11) entry without the derivation seconds: a miss
    with gzip.open(p2, "wt") as f:
        json.dump({"cols": cols, "rows": [list(r) for r in rows]}, f)
    assert co._cache_get(p2) is None
    with open(p1, "wb") as f:
        f.write(b"not gzip")
    assert co._cache_get(p1) is None  # corrupt file = miss, not crash


def test_oracle_cache_key_salted_by_format_version(tmp_path, monkeypatch):
    """ADVICE r10: the cache stores CANONICALIZED rows, so the key must
    pin the canonicalization contract — bumping _CACHE_FORMAT must remap
    every key (old entries become unreachable, not served stale)."""
    import sys

    sys.path.insert(0, TOOLS)
    import compare_oracle as co

    monkeypatch.setattr(co, "_CACHE_DIR", str(tmp_path / "cache"))
    p_now = co._cache_path("sig-a", "SELECT 1", "1.0.0")
    monkeypatch.setattr(co, "_CACHE_FORMAT", "canon-v2:test")
    assert co._cache_path("sig-a", "SELECT 1", "1.0.0") != p_now
