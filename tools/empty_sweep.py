"""Degenerate-input robustness sweep: every registered query on EMPTY
tables (default) or on tables with NULLed-out content columns (--nulls).

Empty mode: a fixture dir whose ten tables carry the exact sf0.001
schemas but zero rows — a 100 TB pipeline hits empty inputs constantly
(a partition-pruned day with no data, a filter that eliminates a
source, a new tenant).

Nulls mode: the sf0.001 rows with every CONTENT column (text, lang,
source, event_type, value, names/types/segments…) nulled on a
deterministic 20% of rows (id % 5 == 0) — dirty-data tolerance. Keys
and timestamps stay non-null (null keys/event-times are a different
contract: dropped/invalid rows, not degraded content).

Every query must compile, execute and return its schema rather than
crash in plan build, model-state collection or UDF paths.

Extreme mode (--extreme): the sf0.001 rows with a deterministic subset
patched to the adversarial values 100 TB of real data always contains —
multilingual/emoji/control-char text, a ~90k-char mega-document,
whitespace-only and punctuation-only documents, 1e12 and NEGATIVE event
values (out of the display helpers' documented half-up domain — must
truncate, never throw), epoch-0 and far-future nano timestamps, a
zero embedding vector, a 1e30 component and a NaN component. Derived
columns (n_chars) are re-derived so patched rows stay self-consistent.
Every query must still execute and return its schema; VALUES are not
checked (the oracle gate owns values on well-formed data).

Unicode mode (--unicode): the sf0.001 rows with documents.text /
customer.c_name patched to the multilingual divergence classes real
corpora contain — NFC vs NFD of the same visual text, ZWJ-emoji and
modifier sequences, spaceless CJK, RTL with directional marks, exotic
whitespace/format controls (ZWSP/NBSP/ideographic/thin space), astral
plane codepoints, and case-mapping edge cases (İ/ß/ǅ/ﬁ). Values are
gated by tools/adversarial_gate.py --unicode.

Usage: python tools/empty_sweep.py [--nulls|--extreme|--unicode|--skew] [query ...]
Prints one line per query; exits non-zero on any failure.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_SCHEMA_SRC = "/root/testdata/sf0.001"

# content columns nulled in --nulls mode, per table (keys/ts stay)
NULLABLE_CONTENT = {
    "documents": ["text", "lang", "source"],
    "events": ["event_type", "value"],
    "customer": ["c_mktsegment", "c_name"],
    "orders": ["o_orderpriority"],
    "part": ["p_type", "p_name"],
    "supplier": ["s_name"],
    "nation": [],
    "region": [],
    "lineitem": [],  # measures feed exact-unit sums; null measures are
    # a data-contract violation there, not degraded content
    "embeddings": [],
}


_MEGA_TEXT = ("lorem ipsum dolor sit amet consectetur " * 2500).strip()
_WEIRD_TEXT = "héllo wörld 😀 日本語 текст vtab\ttab\nline two  double  space"

# --unicode fixture strings: one per divergence class real multilingual
# corpora contain. Raw codepoints are the contract — the engine must
# treat NFC and NFD as the distinct byte strings they are (no implicit
# normalization), and every length/token/case seam must agree with the
# oracle on non-ASCII, astral-plane and format-control input.
_UNI_STRINGS = [
    # NFC vs NFD of the SAME visual text (\u00e9 vs e+combining U+0301):
    # distinct bytes -> distinct sha256/minhash/group keys in BOTH engines
    "caf\u00e9 r\u00e9sum\u00e9 na\u00efve touch\u00e9. and more words here",
    "cafe\u0301 re\u0301sume\u0301 nai\u0308ve touche\u0301. and more words here",
    # emoji: ZWJ family (7 codepoints, 1 grapheme), skin-tone modifier,
    # regional-indicator pair — codepoint-length vs grapheme-length seams
    "family \U0001f469\u200d\U0001f469\u200d\U0001f467\u200d\U0001f466 thumbs \U0001f44d\U0001f3fd flag \U0001f1ef\U0001f1f5 end.",
    # CJK with no ASCII spaces + ideographic full stops: whitespace
    # tokenizers must yield whole-run tokens identically
    "\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8\u3067\u3059\u3002\u4e2d\u6587\u6587\u672c\u3002\ud55c\uad6d\uc5b4 \ud14d\uc2a4\ud2b8.",
    # RTL Arabic + Hebrew with embedded LTR digits and an RLM mark
    "\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645 abc 123 \u05e2\u05d1\u05e8\u05d9\u05ea\u200f end.",
    # exotic whitespace/format controls: ZWSP, NBSP, ideographic space,
    # thin space — Java/RE2/Python \\s classes differ exactly here
    "zero\u200bwidth non\u00a0break ideo\u3000space thin\u2009space tab.",
    # astral plane: math alphanumerics + CJK ext-B (surrogate pairs in
    # UTF-16 engines; codepoint counts must still agree)
    "math \U0001d518\U0001d52b\U0001d526\U0001d520\U0001d52c\U0001d521\U0001d522 ext \U00020000\U00020001 done.",
    # case-mapping edge set: dotted capital I, sharp s, titlecase digraph,
    # ligature — lower()/upper() must agree across engines
    "\u0130stanbul STRASSE stra\u00dfe \u01c5ungla \ufb01ligree WORDS.",
]


_SKEW_DUP_TEXT = (
    "the quick brown fox jumps over the lazy dog and runs far away today"
)


def _patch_skew(df, table):
    """Hot-key / mass-duplicate value injection (--skew fixture).

    Skew is THE 100 TB hazard: one user owning half the events (a bot,
    a load tester), one boilerplate text stamped on a third of the
    corpus (a crawler error page), one embedding shared by a third of
    the vectors (a default-init model output). Every windowed/sessional
    aggregate then runs one giant group, every dedup path one giant
    bucket, and every top-k a mass of EXACT score ties — the surfaces
    where a missing total order or an uncapped pair expansion silently
    diverges or blows up. Values must still match the oracle exactly."""
    from pyspark.sql import functions as F

    if table == "events":
        # 50% of events collapse onto user 0: sessionization, windows,
        # interarrival, anomaly z-scores and stream-stream joins all see
        # one hot key carrying half the table
        return df.withColumn(
            "user_id",
            F.when(F.col("event_id") % 2 == 0, F.lit(0).cast("long")).otherwise(
                F.col("user_id")
            ),
        )
    if table == "documents":
        # a third of the corpus is the SAME text: exact dedup collapses
        # one giant group, minhash/LSH one mega-bucket, sentence dedup
        # mass first-occurrence ties
        txt = F.when(
            F.col("doc_id") % 3 == 0, F.lit(_SKEW_DUP_TEXT)
        ).otherwise(F.col("text"))
        return df.withColumn("text", txt).withColumn(
            "n_chars", F.length("text").cast("bigint")
        )
    if table == "embeddings":
        # a third of the vectors are IDENTICAL: cosine scores tie exactly,
        # so every top-k / threshold surface must break ties on a total
        # order, and centroid/quantize paths see a degenerate mass point
        shared = F.expr(
            "transform(embedding, (x, i) -> cast(sin(cast(i as double) + 1.0d) as float))"
        )
        return df.withColumn(
            "embedding",
            F.when(F.col("vec_id") % 3 == 0, shared).otherwise(F.col("embedding")),
        )
    return df


def _patch_unicode(df, table):
    """Multilingual/normalization value injection (--unicode fixture).

    Scope: documents.text (the surface every tokenize/split/case/dedup
    seam reads; n_chars re-derived so stored lengths stay consistent)
    and customer.c_name (unicode through joins and display). Keys, ids
    and numeric columns untouched — this fixture isolates TEXT handling."""
    from pyspark.sql import functions as F

    if table == "documents":
        key = F.col("doc_id")
        txt = F.col("text")
        # residues 1,3,5,…,15 of doc_id % 19 → ~42% of docs carry one of
        # the eight strings; the rest keep canonical text so mixed-input
        # paths (joins, groupBys over lang) still see both populations
        for i, s in enumerate(_UNI_STRINGS):
            txt = F.when(key % 19 == 2 * i + 1, F.lit(s)).otherwise(txt)
        return df.withColumn("text", txt).withColumn(
            "n_chars", F.length("text").cast("bigint")
        )
    if table == "customer":
        key = F.col("c_custkey")
        name = (
            F.when(key % 11 == 3, F.lit(_UNI_STRINGS[1]))  # the NFD form
            .when(key % 11 == 7, F.lit("\u5ba2\u6237 \U0001f600 \u00dcn\u00efcode"))
            .otherwise(F.col("c_name"))
        )
        return df.withColumn("c_name", name)
    return df



def _patch_extreme(df, table):
    """Adversarial value injection per table (deterministic key gates)."""
    from pyspark.sql import functions as F

    if table == "documents":
        key = F.col("doc_id")
        txt = (
            F.when(key == 7, F.lit(_MEGA_TEXT))
            .when(key % 21 == 0, F.lit(_WEIRD_TEXT))
            .when(key % 21 == 14, F.lit("   "))       # whitespace-only
            .when(key % 21 == 17, F.lit("!!!???..."))  # punctuation-only
            .otherwise(F.col("text"))
        )
        return df.withColumn("text", txt).withColumn(
            "n_chars", F.length("text").cast("bigint")
        )
    if table == "events":
        key = F.col("event_id")
        val = (
            F.when(key % 13 == 0, F.lit(1.0e12))
            .when(key % 17 == 0, F.lit(-5.25))  # out of half-up domain:
            .otherwise(F.col("value"))          # must truncate, not throw
        )
        # ts is an int64 nanos column in this fixture: epoch 0 and a
        # far-future value exercise the DIV-1000 conversion boundaries
        ts = (
            F.when(key % 19 == 0, F.lit(0).cast("long"))
            .when(key % 23 == 0, F.lit(2**62).cast("long"))
            .otherwise(F.col("ts"))
        )
        out = df.withColumn("value", val)
        return out.withColumn("ts", ts) if dict(df.dtypes).get("ts") == "bigint" else out
    if table == "embeddings":
        key = F.col("vec_id")
        rest = F.expr("slice(embedding, 2, size(embedding) - 1)")
        zero = F.expr("transform(embedding, x -> cast(0.0 as float))")
        emb = (
            F.when(key == 3, zero)  # zero vector: cosine guard path
            .when(
                key == 5,  # one huge component: norms stay finite-double
                F.concat(F.array(F.lit(1.0e30).cast("float")), rest),
            )
            .when(
                key == 9,  # a NaN component: must not crash any plan
                F.concat(F.array(F.lit(float("nan")).cast("float")), rest),
            )
            .otherwise(F.col("embedding"))
        )
        return df.withColumn("embedding", emb)
    if table == "customer":
        return df.withColumn(
            "c_name",
            F.when(F.col("c_custkey") % 11 == 0, F.lit("客户 😀 Ünïcode")).otherwise(
                F.col("c_name")
            ),
        )
    return df


def main() -> int:
    flags = {"--nulls", "--extreme", "--unicode", "--skew"}
    args = [a for a in sys.argv[1:] if a not in flags]
    nulls_mode = "--nulls" in sys.argv[1:]
    extreme_mode = "--extreme" in sys.argv[1:]
    unicode_mode = "--unicode" in sys.argv[1:]
    skew_mode = "--skew" in sys.argv[1:]
    # reject unknown names (same rule as compare_oracle.py): a typo must
    # not produce a vacuous exit-0 "0 failures" sweep
    from proactive_map_reduce_spark.queries import REGISTRY as _REG

    unknown = {a for arg in args for a in arg.split(",") if a} - set(_REG)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}")
        return 2
    only = {n for arg in args for n in arg.split(",") if n}

    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from proactive_map_reduce_spark.session import get_spark
    from proactive_map_reduce_spark.sources.tables import TABLES

    spark = get_spark("empty-sweep")
    mode = (
        "nulls_sf_"
        if nulls_mode
        else "extreme_sf_"
        if extreme_mode
        else "unicode_sf_"
        if unicode_mode
        else "skew_sf_"
        if skew_mode
        else "empty_sf_"
    )
    tmp = tempfile.mkdtemp(prefix=mode)
    for t in TABLES:
        df = spark.read.parquet(f"{SF_SCHEMA_SRC}/{t}.parquet")
        if extreme_mode:
            df = _patch_extreme(df, t)
        elif unicode_mode:
            df = _patch_unicode(df, t)
        elif skew_mode:
            df = _patch_skew(df, t)
        elif nulls_mode:
            key = df.columns[0]  # first column is the table's id/key
            gate = F.col(key).cast("bigint") % 5 == 0
            for c in NULLABLE_CONTENT.get(t, []):
                if c in df.columns:
                    df = df.withColumn(
                        c, F.when(gate, F.lit(None)).otherwise(F.col(c))
                    )
        else:
            df = df.limit(0)
        df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/{t}.parquet")

    qs = entry.queries()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            out = fn(spark, tmp)
            # collect(), NOT count(): count() lets Catalyst prune every
            # unreferenced projection, so an ANSI overflow in a displayed
            # column sails through the sweep and only crashes when the
            # values are actually produced (tools/adversarial_gate.py
            # caught q_resample_ffill exactly that way). Outputs at the
            # sf0.001 schema scale are driver-safe to materialize.
            n = len(out.collect())
            _ = out.schema  # schema must be derivable too
            print(f"PASS {name}: {n} rows")
        except Exception as exc:  # noqa: BLE001 — report, don't mask
            msg = str(exc).split("\n")[0][:200]
            failures.append((name, msg))
            print(f"FAIL {name}: {msg}")
        finally:
            spark.catalog.clearCache()  # drop per-query persisted stages
    print(f"\n{len(failures)} failures / {len(qs) if not only else len(only)} queries")
    for name, msg in failures:
        print(f"  {name}: {msg}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
