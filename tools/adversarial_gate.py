"""Adversarial VALUE gates: dirty-data fixtures + the full oracle compare.

The degenerate-input sweeps (``empty_sweep.py``) prove every query
*survives* empty / nulled / extreme data; these gates prove the two
engines still AGREE on the values it produces. The distinction found
real bugs the execution sweeps structurally cannot see:

extreme mode (default):
  * float-sum accumulation-order divergence only surfaces when a
    1e12-magnitude value lands in a compared group (four rollup/window
    queries diverged in their last printed decimal),
  * ``count()``-driven execution prunes unreferenced projections, so an
    ANSI overflow in a displayed column passes the execution sweep and
    crashes the value gate (q_resample_ffill's exact-mean numerator),
  * byte-vs-char length semantics only split on multibyte text
    (q_multimodal_features' payload_len), and embedded newlines only
    break a CSV round-trip when the text actually contains them.

--nulls mode (the 20%-nulled-content fixture):
  * NULL-comparison coercions: a sentinel ``!=`` filter silently
    dropped NULL-event_type rows from the streaming window while the
    batch form grouped them; DuckDB's ``least(NULL, 512)`` ignores the
    null and "resized" a missing asset; CASE fall-throughs turned
    unknown languages into a confident 'fr' and unknown scores into
    0.0. Nine queries diverged; each now has an explicit, mirrored
    null contract (quarantine-with-NULLs or documented drop).

--unicode mode (the multilingual/normalization fixture):
  * NFC vs NFD, ZWJ emoji, spaceless CJK, RTL + directional marks,
    ZWSP/NBSP/ideographic whitespace, astral-plane codepoints and
    case-mapping edges through documents.text and customer.c_name —
    the byte-vs-char find (octet_length, r5) showed the corpus ops
    were ASCII-biased; tokenize/split/case/dedup seams split exactly
    on these classes when Java, RE2 and Python disagree.

--skew mode (the hot-key / mass-duplicate fixture):
  * one user owns 50% of events, one text 33% of the corpus, one
    embedding 33% of the vectors — giant groups, mega-buckets, and
    mass EXACT ties on every rank/top-k surface; any tie broken by
    arrival accident instead of a total order diverges here.

--gauntlet mode (all four dirty patchers composed):
  * skew -> unicode -> extreme patches layered on the same tables, then
    the 20% null-content gate on top — the INTERACTIONS none of the
    single-axis gates can see (a null landing in a hot group, unicode
    text inside the duplicate mega-cluster, a 1e12 value in a skewed
    window). Later patchers win on overlapping residues; the union of
    dirt is the point.

--empty mode (zero-row tables, exact schemas):
  * grouping-set semantics: SQL-standard ROLLUP/CUBE emit the ()
    grand-total row over an empty relation where Spark's Expand-based
    implementation yields none — two oracles diverged by that one row
    (now mirrored with ``HAVING count(*) > 0``, a no-op on any
    non-empty input).

Shape: materialize the patched sf0.001 fixture as single-FILE parquets
(DuckDB's view binding reads plain files, exactly like the driver's sf
dirs), then run ``tools/compare_oracle.py`` over it — same comparator,
same canonicalization, zero gate-specific tolerance.

Fixtures are content-addressed on the source dir's stat signature and
cached under ``pmr_advfix_*`` / ``pmr_nullfix_*`` / … through
``tools/_fixture.py``, which removes a mode's superseded fingerprints
after each build.

Usage: python tools/adversarial_gate.py
       [--nulls|--empty|--unicode|--skew|--gauntlet] [query ...]
Exit: compare_oracle's exit code (non-zero on any failure).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

SF_SRC = "/root/testdata/sf0.001"


def build_fixture(mode: str) -> str:
    """Materialize (or reuse) the patched fixture as one parquet FILE per
    table; returns the fixture dir."""
    from _fixture import cached_fixture

    from proactive_map_reduce_spark.sources.tables import stat_signature

    # The tag covers BOTH the source data (stat signature) and the
    # patcher CODE (source bytes of this file + empty_sweep.py, where
    # _patch_* / NULLABLE_CONTENT / the gauntlet composition live):
    # editing a patcher must invalidate its cached fixture, or a
    # "131/131" gate pass would attest to a stale fixture.
    import empty_sweep as _es

    code = b""
    for mod_file in (os.path.abspath(__file__), _es.__file__):
        with open(mod_file, "rb") as f:
            code += f.read()
    tag = hashlib.sha256(
        stat_signature(SF_SRC).encode() + hashlib.sha256(code).digest()
    ).hexdigest()[:12]
    prefix = {
        "extreme": "pmr_advfix",
        "nulls": "pmr_nullfix",
        "empty": "pmr_emptyfix",
        "unicode": "pmr_unifix",
        "skew": "pmr_skewfix",
        "gauntlet": "pmr_gauntfix",
    }[mode]
    out = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    return cached_fixture(out, lambda stage: _write_fixture(stage, mode))


def _write_fixture(stage: str, mode: str) -> None:
    from empty_sweep import NULLABLE_CONTENT, _patch_extreme, _patch_skew, _patch_unicode
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.session import get_spark
    from proactive_map_reduce_spark.sources.tables import TABLES

    spark = get_spark("adversarial-gate-fixture")
    for t in TABLES:
        df = spark.read.parquet(f"{SF_SRC}/{t}.parquet")
        if mode == "nulls":
            key = df.columns[0]  # first column is the table's id/key
            gate = F.col(key).cast("bigint") % 5 == 0
            for c in NULLABLE_CONTENT.get(t, []):
                if c in df.columns:
                    df = df.withColumn(
                        c, F.when(gate, F.lit(None)).otherwise(F.col(c))
                    )
        elif mode == "empty":
            df = df.limit(0)
        elif mode == "unicode":
            df = _patch_unicode(df, t)
        elif mode == "skew":
            df = _patch_skew(df, t)
        elif mode == "gauntlet":
            df = _patch_extreme(_patch_unicode(_patch_skew(df, t), t), t)
            key = df.columns[0]
            gate = F.col(key).cast("bigint") % 5 == 0
            for c in NULLABLE_CONTENT.get(t, []):
                if c in df.columns:
                    df = df.withColumn(
                        c, F.when(gate, F.lit(None)).otherwise(F.col(c))
                    )
        else:
            df = _patch_extreme(df, t)
        part_dir = os.path.join(stage, f"_{t}")
        df.coalesce(1).write.mode("overwrite").parquet(part_dir)
        part = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stage, f"{t}.parquet"))
        shutil.rmtree(part_dir)
    spark.stop()


def main() -> int:
    args = sys.argv[1:]
    mode = "extreme"
    if "--nulls" in args:
        mode = "nulls"
    if "--empty" in args:
        mode = "empty"
    if "--unicode" in args:
        mode = "unicode"
    if "--skew" in args:
        mode = "skew"
    if "--gauntlet" in args:
        mode = "gauntlet"
    args = [
        a
        for a in args
        if a not in ("--nulls", "--empty", "--unicode", "--skew", "--gauntlet")
    ]
    fixture = build_fixture(mode)
    cmd = [sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"), fixture]
    cmd += args
    return subprocess.call(cmd, cwd=ROOT)


if __name__ == "__main__":
    raise SystemExit(main())
