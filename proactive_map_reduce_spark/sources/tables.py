"""Fixture-table loaders (SURVEY §2.1 S1-S3).

The reference reads whole-file text documents (`test_proactive.py:45-48`),
sibling ground-truth files keyed by the same index (`:371-372`) and JSON
array datasets (`pipeline_70b_samsum.py:353-356`). The engine's sources are
columnar parquet tables (schemas in TESTDATA.md/FIXTURES.md) read through
`spark.read.parquet` so Catalyst gets pushdown/pruning for free.

Scale note: at 100 TB these reads become multi-file partitioned scans; the
loaders keep the scan declarative (no collect, no driver-side file loops)
so partition pruning and `maxPartitionBytes` splitting apply unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Timestamp columns whose parquet physical type has varied across fixture
# generations: INT64(TIMESTAMP(NANOS)) (read as long nanos under
# spark.sql.legacy.parquet.nanosAsLong) or TIMESTAMP(MICROS, isAdjustedToUTC
# =false) (read as timestamp_ntz). Both are normalized to a session-zone
# TIMESTAMP so downstream unix_micros()/window() calls see one type; the
# engine session pins spark.sql.session.timeZone=UTC, making the ntz cast
# value-preserving and equal to what DuckDB's reader sees.
_NANO_TS_COLS = {"events": ["ts"]}


def stat_signature(path: str) -> str:
    """Content fingerprint of a parquet file OR directory: per-file
    (name, mtime_ns, size). Cache keys derived from source data use THIS
    (never a single stat of the top-level path — a directory's own
    mtime/size does not change when a part file is rewritten in place),
    so a regenerated fixture always invalidates, never serves stale."""
    import os

    if os.path.isfile(path):
        st = os.stat(path)
        return f"{st.st_mtime_ns}:{st.st_size}"
    parts = []
    for b, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            st = os.stat(os.path.join(b, f))
            parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    return "|".join(parts)


def _ensure_nanos_conf(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLS.get(name, []):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            # integer DIV, not double division: nanos ~1e18 exceed double's
            # exact-integer range, so (col/1000).cast(long) can be ±1 µs off
            # DuckDB's exact ns→µs truncation.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
        elif dtype == "timestamp_ntz":
            # UTC session zone → wall-clock-preserving, matches DuckDB.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan has fewer splits than half
    the cores.

    The local fixtures are single-file/single-row-group parquet, so Spark
    gets ONE input split and every pre-shuffle operator (explode, md5,
    regex) runs on one core. Real 100 TB inputs arrive as thousands of
    splits, making this a no-op there (getNumPartitions >= cores) — the
    repartition exists so CPU-heavy fan-out operators saturate the machine
    regardless of input file layout. Only explode/hash-heavy document
    pipelines call this; plain columnar scans (lineitem aggregations) skip
    it because the extra exchange costs more than it saves.
    """
    try:
        from ..session import default_parallelism

        target = default_parallelism()
        if df.rdd.getNumPartitions() < max(1, target // 2):
            return df.repartition(target)
    except Exception:
        pass
    return df


def duck_tune(con) -> None:
    """Bound DuckDB's buffer pool when it co-tenants with a Spark JVM.

    DuckDB's default memory_limit is 80% of PHYSICAL RAM; in the gate
    process it shares an address space with a 16 GiB JVM (plus python
    workers), and a large materialized CTE early in a 132-query sweep
    raises the pool high-water that glibc never returns to the OS —
    measured r8: sporadic "Out of Memory Error: failed to allocate
    16 KB" on LATER queries after the clusters oracle ran at sf1. A
    bounded limit makes DuckDB SPILL to its temp dir instead of racing
    the JVM for the machine."""
    import os as _os

    # Default: min(48GB, 40% of physical RAM). 48GB is sized for the
    # 125 GiB gate host — big enough that the heaviest oracle (the
    # materialized LSH pipeline feeding the recursive clusters CTE at
    # sf1) stays in memory (measured 49 s vs 272 s spilling at 24GB),
    # small enough that pool + JVM + workers never race the machine. On
    # smaller hosts a flat 48GB would RAISE DuckDB's own 80%-of-RAM
    # default — the opposite of bounding (ADVICE r8) — so clamp to a
    # fraction of detected RAM; SPARK_GRAFT_DUCK_MEM stays the override.
    lim = _os.environ.get("SPARK_GRAFT_DUCK_MEM")
    if lim is None:
        try:
            ram = _os.sysconf("SC_PHYS_PAGES") * _os.sysconf("SC_PAGE_SIZE")
            lim = f"{min(48, max(1, int(ram * 0.4 / 2**30)))}GB"
        except (ValueError, OSError):
            lim = "48GB"
    tmp = _os.path.join(_os.environ.get("TMPDIR", "/tmp"), "pmr_duck_spill")
    _os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET memory_limit='{lim}'")
    con.execute(f"SET temp_directory='{tmp}'")


def duck_views(con, sf_dir: str) -> None:
    """Register each fixture table present in ``sf_dir`` as a DuckDB view
    over its parquet.

    ONE registration loop for every tool that opens DuckDB next to the
    JVM (bench.py, tools/profile_floor.py, tools/bench_sf1.py via
    bench) — a table may be a single file (driver fixtures) or a
    DIRECTORY of part files (the sf1 scale fixture, split-invariance
    replicas); the directory form needs the part glob, which also skips
    Spark's _SUCCESS marker. profile_floor previously lacked the isdir
    branch and silently lost its DuckDB baselines on directory fixtures
    (ADVICE r8)."""
    import os as _os

    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if _os.path.isdir(p):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif _os.path.exists(p):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
