"""Adversarial-domain regression tests (tools/adversarial_gate.py finds).

The extreme EXECUTION sweep proves queries survive adversarial data;
these tests pin the VALUE-level behaviors the adversarial gate fixed:
exact decimal accumulation at mixed magnitudes, NaN quarantines, int64
clamps, CSV round-trip fidelity for pathological text, and the LCS
scoring cap. Each test would have failed before the round-5 hardening.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from proactive_map_reduce_spark.functions.numeric import (
    decimal_sum,
    decimal_sum_sql,
)
from proactive_map_reduce_spark.functions.scoring import (
    LCS_MAX_TOKENS,
    _lcs_len,
    rouge_l,
)


# --- decimal_sum: cross-engine exactness at any magnitude mix ---------


MIXED = [1.0e12, -5.25, 0.1, 0.2, 0.3, 1.005, 2.675, 123.456789, 7.77777]


def test_decimal_sum_matches_duckdb_on_mixed_magnitudes(spark):
    """A raw double sum of MIXED is accumulation-order-dependent (the
    1e12 element absorbs low bits); the decimal sum must land both
    engines on the IDENTICAL double, including the half-up tie rows."""
    df = spark.createDataFrame([(v,) for v in MIXED], "v double")
    got = df.agg(decimal_sum(F.col("v")).alias("s")).collect()[0].s
    want = duckdb.sql(
        "SELECT " + decimal_sum_sql("v") + " FROM (VALUES "
        + ",".join(f"({v!r})" for v in MIXED) + ") t(v)"
    ).fetchone()[0]
    assert got == want  # exact double equality, not approx


def test_decimal_sum_half_up_ties_cross_engine(spark):
    # 1.005 quantizes to decimal 1.005000 exactly; round(·, 2) is a TRUE
    # tie that both engines must break half-up (float round() would see
    # 1.00499999… and never reach the boundary)
    df = spark.createDataFrame([(1.005,), (-1.005,)], "v double")
    rows = df.groupBy("v").agg(decimal_sum(F.col("v")).alias("s")).collect()
    got = {r.v: r.s for r in rows}
    assert got[1.005] == 1.01 and got[-1.005] == -1.01
    duck = dict(
        duckdb.sql(
            "SELECT v, " + decimal_sum_sql("v")
            + " FROM (VALUES (1.005::DOUBLE), (-1.005::DOUBLE)) t(v) GROUP BY v"
        ).fetchall()
    )
    assert got == duck


def test_decimal_sum_display_bound_case(spark):
    """The q_incremental_rollup regression: a ~4e12 sum displayed at
    2 dp must convert decimal→double identically (at 6 dp the scaled
    integer exceeds 2^53 and DuckDB's conversion double-rounds)."""
    vals = [1.0e12] * 4 + [2184.93]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(decimal_sum(F.col("v")).alias("s")).collect()[0].s
    want = duckdb.sql(
        "SELECT " + decimal_sum_sql("v") + " FROM (VALUES "
        + ",".join(f"({v!r})" for v in vals) + ") t(v)"
    ).fetchone()[0]
    assert got == want == 4000000002184.93


# --- NaN quarantine: quantization and centroids -----------------------


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")


def test_quantize_nan_vector_quarantined_not_crashed(spark, tmp_path):
    """A NaN component must yield NULL metadata for that row (ANSI
    round(NaN)::int raises — the pre-fix behavior), leaving clean rows
    untouched."""
    from proactive_map_reduce_spark.queries.similarity import q_quantize_embeddings
    from proactive_map_reduce_spark.operators import similarity as sim_ops

    dim = sim_ops.EMBED_DIM
    clean = [float(i % 7) / 7.0 for i in range(dim)]
    poison = [float("nan")] + clean[1:]
    _emb_df(
        spark, [(1, 0, clean), (2, 0, poison)]
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r.vec_id: r for r in q_quantize_embeddings(spark, str(tmp_path)).collect()}
    assert out[2].scale is None and out[2].q_max is None and out[2].max_abs_err is None
    assert out[1].scale is not None and out[1].q_max is not None


def test_centroids_exclude_nan_and_clamp_huge(spark, tmp_path):
    """NaN vectors are excluded from the centroid; a 1e30 component
    clamps at ±1e6 on the double side (fixed_units of the raw value
    would overflow the bigint sum under ANSI)."""
    from proactive_map_reduce_spark.queries.similarity import q_embedding_centroids
    from proactive_map_reduce_spark.operators import similarity as sim_ops

    dim = sim_ops.EMBED_DIM
    ones = [1.0] * dim
    huge = [1.0e30] + [1.0] * (dim - 1)
    nanv = [float("nan")] * dim
    _emb_df(
        spark, [(1, 0, ones), (2, 0, huge), (3, 0, nanv)]
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    row = q_embedding_centroids(spark, str(tmp_path)).collect()[0]
    assert row.n_vectors == 2  # NaN vector quarantined
    # centroid_0 = mean(1.0, clamp(1e30)=1e6) = 500000.5 exactly
    assert row.centroid_0 == pytest.approx(500000.5, abs=0.0)


# --- resample_ffill: hourly-mean numerator stays inside int64 ---------


def test_resample_ffill_survives_huge_value(spark, tmp_path):
    """A 1e12 event value is 1e14 cents; the exact-mean numerator
    (×2·10⁶) would overflow int64 and raise under ANSI without the ±1e8
    cents clamp. The clamped mean caps deterministically."""
    import datetime as dt

    from proactive_map_reduce_spark.queries.relational import q_resample_ffill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, 10, "click", t0, 1.0e12),
        (2, 10, "click", t0 + dt.timedelta(hours=2), 4.0),
    ]
    spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = {r.hour_ts: r for r in q_resample_ffill(spark, str(tmp_path)).collect()}
    assert len(out) == 3  # 2-hour grid + both endpoints
    # clamped mean: 1e8 cents / 100 = 1e6
    assert max(r.value_ffill for r in out.values()) == pytest.approx(1e6)


# --- CSV round-trip fidelity ------------------------------------------


def test_csv_roundtrip_pathological_text(spark, tmp_path):
    """Embedded newlines, quotes, emoji, and whitespace-only fields must
    survive the write→read pair exactly (RFC 4180: escape='\"' +
    multiLine read; writer whitespace-trim off)."""
    docs = [
        (1, "en", 'line one\nline "two"'),
        (2, "de", "   "),
        (3, "ja", "héllo 日本語 😀,comma\ttab"),
        (4, "en", "plain"),
    ]
    spark.createDataFrame(docs, "doc_id bigint, lang string, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    from proactive_map_reduce_spark.queries.reference_ops import q_scan_csv_roundtrip

    got = sorted(
        (r.doc_id, r.lang, r.text)
        for r in q_scan_csv_roundtrip(spark, str(tmp_path)).collect()
    )
    assert got == sorted(docs)


# --- LCS scoring cap ---------------------------------------------------


def test_lcs_cap_bounds_cost_and_is_identity_below():
    a = ["w%d" % i for i in range(50)]
    assert _lcs_len(a[:LCS_MAX_TOKENS], a[:LCS_MAX_TOKENS]) == 50  # identity
    big = "tok " * (3 * LCS_MAX_TOKENS)
    # capped self-similarity is exactly 1.0 and completes quickly (an
    # uncapped 6144² DP is ~38M cells; capped is 2048² once)
    assert rouge_l(big, big) == 1.0


def test_running_metric_decimal_prefix_exact(spark):
    """One huge value early in the prefix must not smear later running
    totals: decimal accumulation keeps every prefix display exact."""
    from proactive_map_reduce_spark.operators.reduce import running_metric

    rows = [(1, 1, 1.0e12), (1, 2, 0.01), (1, 3, 0.02)]
    df = spark.createDataFrame(rows, "user_id bigint, event_id bigint, value double")
    out = {
        r.event_id: r.running_sum
        for r in running_metric(df).collect()
    }
    assert out[2] == 1000000000000.01 and out[3] == 1000000000000.03


# --- null-content contracts (the --nulls value gate class) -------------


def test_lang_id_null_text_is_null_not_arbitrary(spark):
    """Pre-fix, NULL text made every marker count NULL and the struct
    sort's winner was an ordering artifact — Spark said 'de', DuckDB's
    CASE fell through to 'fr'. Unknown text has unknown language."""
    from proactive_map_reduce_spark.operators.textstats import lang_id

    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, None)], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in lang_id(df).collect()}
    assert out[1].pred_lang == "en" and out[1].marker_hits == 3
    assert out[2].pred_lang is None and out[2].marker_hits is None


def test_stream_sentinel_filter_keeps_null_event_type(spark):
    """The windowed stream must equal the batch form on NULL event_type
    rows: a plain != sentinel filter drops them (NULL != x is NULL) —
    the null-safe predicate keeps the NULL group."""
    import datetime as dt

    from proactive_map_reduce_spark.streaming.proactive import (
        windowed_counts_with_watermark,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 30)
    rows = [
        (1, 1, "click", t0, 1.0),
        (2, 1, None, t0 + dt.timedelta(minutes=1), 2.0),
        (3, 2, "view", t0 + dt.timedelta(minutes=2), 3.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"
    )
    out = windowed_counts_with_watermark(spark, ev).collect()
    types = {r.event_type for r in out}
    assert None in types  # the NULL group survives the sentinel filter
    assert "click" in types and "view" in types
    assert sum(r.n_events for r in out) == 3  # nothing dropped


def test_pii_redact_null_text_all_null(spark, tmp_path):
    """Null text → every derived field NULL (the pre-fix mix claimed
    '0 emails found' about text nobody saw)."""
    from proactive_map_reduce_spark.queries.curation import q_pii_redact

    docs = [(4, "en", "mail user.name@example.com now"), (5, "en", None)]
    spark.createDataFrame(docs, "doc_id bigint, lang string, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in q_pii_redact(spark, str(tmp_path)).collect()}
    # doc 4 (doc_id % 4 == 0) carries its own email PLUS the injected one
    assert out[4].n_emails == 2 and out[4].no_email_left == 1
    assert all(
        getattr(out[5], c) is None
        for c in ("n_emails", "n_phones", "n_ips", "clean_len", "no_email_left")
    )


# --- empty-input contracts (the --empty value gate class) --------------


def test_rollup_empty_input_no_grand_total_row(spark, tmp_path):
    """SQL-standard grouping sets emit the () grand-total row over an
    empty relation; Spark's Expand-based rollup yields none. The oracle
    mirrors Spark via HAVING count(*) > 0 — this pins the engine side
    (and the mirror's no-op-on-nonempty property is pinned by the
    canonical gate)."""
    import duckdb as _duck

    from proactive_map_reduce_spark.queries.relational import q_rollup_multi

    spark.createDataFrame(
        [], "event_id bigint, user_id bigint, event_type string, ts timestamp, value double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    assert q_rollup_multi(spark, str(tmp_path)).count() == 0
    # and the standard really does differ — the mirror exists for a reason
    std = _duck.sql(
        "SELECT count(*) FROM (SELECT 1 FROM (SELECT 1 AS a WHERE false) GROUP BY ROLLUP(a))"
    ).fetchone()[0]
    assert std == 1


# --- unicode/normalization contracts (the --unicode value gate class) ---


def test_normalize_question_full_casing_matches_python_reference(spark):
    """Unicode FULL casing: Python .lower() (the reference semantics,
    test_proactive.py:35-39) maps U+0130 'İ' to 'i'+U+0307 (two
    codepoints); Spark's lower() agrees; DuckDB's simple 1:1 mapping
    yields plain 'i'. The oracle pre-expands the one multi-char
    full-lowercase mapping so the engines agree (r6 unicode gate find)."""
    from proactive_map_reduce_spark.functions.text import normalize_question

    assert "İstanbul"[0].lower() == "i̇"  # the Python reference fact
    row = (
        spark.createDataFrame([("İstanbul STRASSE?",)], "q string")
        .select(normalize_question(F.col("q")).alias("question"))
        .collect()[0]
    )
    assert row.question == "i̇stanbul STRASSE?"
    duck = duckdb.sql(
        "SELECT lower(replace(substr(q, 1, 1), 'İ', 'i̇')) || substr(q, 2) AS question"
        " FROM (SELECT 'İstanbul STRASSE?' AS q)"
    ).fetchone()[0]
    assert duck == row.question


def test_unicode_strings_are_distinct_codepoint_sequences():
    """The --unicode fixture's NFC and NFD variants must be different
    byte strings (the no-implicit-normalization contract both engines
    share): same visual text, distinct sha256/group keys."""
    import os
    import sys
    import unicodedata

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from empty_sweep import _UNI_STRINGS

    nfc, nfd = _UNI_STRINGS[0], _UNI_STRINGS[1]
    assert nfc != nfd
    assert unicodedata.normalize("NFC", nfd) == nfc
    # astral-plane string survives a parquet-free round trip at the
    # codepoint level Python, Spark and DuckDB all count
    assert len(_UNI_STRINGS[6].encode("utf-16-le")) > 2 * len(_UNI_STRINGS[6])
