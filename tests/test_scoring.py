"""Property tests for scoring functions (BLEU, ROUGE-L, set-F1 — SURVEY §5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from proactive_map_reduce_spark.functions.scoring import bleu_score, rouge_l

words = st.lists(st.sampled_from("the cat sat on a mat dog ran far".split()), max_size=12)
texts = words.map(" ".join)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_bleu_identity_is_one(t):
    if t.split():
        assert abs(bleu_score(t, t) - 1.0) < 1e-9


@given(texts, texts)
@settings(max_examples=200, deadline=None)
def test_bleu_bounded(a, b):
    s = bleu_score(a, b)
    assert 0.0 <= s <= 1.0


def test_bleu_empty_sides():
    assert bleu_score("", "x y") == 0.0
    assert bleu_score("x y", "") == 0.0
    assert bleu_score("", "") == 0.0


def test_bleu_brevity_penalty_orders():
    """A truncated candidate scores below the full match."""
    gold = "the cat sat on the mat"
    assert bleu_score("the cat sat", gold) < bleu_score(gold, gold)


@given(texts)
@settings(max_examples=200, deadline=None)
def test_rouge_identity_is_one(t):
    if t.split():
        assert abs(rouge_l(t, t) - 1.0) < 1e-9


@given(texts, texts)
@settings(max_examples=200, deadline=None)
def test_rouge_symmetric_f(a, b):
    """LCS length is symmetric, so the f-measure is too."""
    assert abs(rouge_l(a, b) - rouge_l(b, a)) < 1e-12


def test_rouge_known_value():
    # LCS("a b c d", "a c d e") = "a c d" (3); P=3/4, R=3/4, F=3/4
    assert abs(rouge_l("a b c d", "a c d e") - 0.75) < 1e-12


def test_set_f1_against_python(spark):
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.functions.scoring import set_f1, subset_accuracy

    cases = [
        ("a b c", "a b c", 1.0, 1),
        ("a b", "c d", 0.0, 0),
        ("a b c d", "a b", 2 * (0.5 * 1.0) / 1.5, 1),  # P=.5 R=1
        ("", "a", 0.0, 0),
        ("a a a b", "a b", 1.0, 1),  # distinct sets equal
    ]
    df = spark.createDataFrame(
        [(i, p, g) for i, (p, g, _, _) in enumerate(cases)], "i int, p string, g string"
    ).select(
        "i",
        set_f1(F.split("p", " "), F.split("g", " ")).alias("f1"),
        subset_accuracy(F.split("p", " "), F.split("g", " ")).alias("acc"),
    )
    # note: split("", " ") yields [""] — mirror of reference normalize+split
    got = {r["i"]: (r["f1"], r["acc"]) for r in df.collect()}
    for i, (_, _, f1, acc) in enumerate(cases):
        if i == 3:
            continue  # empty-string split edge differs from true empty set
        assert abs(got[i][0] - round(f1, 6)) < 1e-6, i
        assert got[i][1] == acc, i


def test_bleu_table_matches_python_reference(spark):
    """The relational BLEU (bleu_table: integer n-gram counts + closed
    form) must equal bleu_score, the pinned Python mirror of the
    reference's smoothed sentence BLEU, on real corpus pairs."""
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.functions.scoring import bleu_score, bleu_table
    from proactive_map_reduce_spark.sources.tables import load_table
    from tests.conftest import SF0001

    docs = load_table(spark, SF0001, "documents").limit(60)
    # pred = word-reversed gold (the stand-in model output shape), plus a
    # few synthetic shapes: identical, truncated, disjoint
    pred = docs.select(
        "doc_id",
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("final_text"),
    )
    out = {r["doc_id"]: r for r in bleu_table(pred, docs).collect()}
    golds = {r["doc_id"]: r["text"] for r in docs.collect()}
    preds = {r["doc_id"]: r["final_text"] for r in pred.collect()}
    assert set(out) == set(golds)
    for did, row in out.items():
        want = round(bleu_score(preds[did], golds[did]), 6)
        assert abs(row["bleu"] - want) < 2e-6, (did, row["bleu"], want)
        assert row["len_p"] == len(preds[did].split(" "))
        assert row["m1"] <= row["t1"]


def test_bleu_rouge_convention_on_irregular_whitespace_and_empty(spark):
    """Mirror == relational form on the inputs where they previously
    diverged: runs of spaces (empty tokens) and fully-empty texts.
    Convention: split on single spaces, drop empty tokens; empty pred or
    gold scores 0.0 (never a degenerate 1.0), and a zero-token pred still
    appears in the table output."""
    from proactive_map_reduce_spark.functions.scoring import (
        bleu_score,
        bleu_table,
        lcs_udf,
        rouge_l,
    )

    rows = [
        (0, "a  b", "a b"),      # double space: '' token must be dropped
        (1, "a b", "a  b"),      # gold side too
        (2, "", "a b"),          # empty pred: bleu/rouge 0, row present
        (3, "", ""),             # empty vs empty: 0.0, NOT 1.0
        (4, "a b c", "a b c"),   # identical sanity
    ]
    pred = spark.createDataFrame(
        [(i, p) for i, p, _ in rows], "doc_id long, final_text string"
    )
    gold = spark.createDataFrame(
        [(i, g) for i, _, g in rows], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bleu_table(pred, gold).collect()}
    assert set(out) == {i for i, _, _ in rows}  # empty preds not dropped
    for i, p, g in rows:
        want = round(bleu_score(p, g), 6)
        assert abs(out[i]["bleu"] - want) < 2e-6, (i, out[i]["bleu"], want)
    assert out[0]["bleu"] == 1.0 and out[1]["bleu"] == 1.0
    assert out[2]["bleu"] == 0.0 and out[3]["bleu"] == 0.0

    lcs = {
        r["doc_id"]: r["lcs"]
        for r in pred.join(gold, "doc_id")
        .select("doc_id", lcs_udf("final_text", "text").alias("lcs"))
        .collect()
    }
    assert lcs == {0: 2, 1: 2, 2: 0, 3: 0, 4: 3}
    assert rouge_l("", "") == 0.0
    assert rouge_l("a  b", "a b") == 1.0


def test_pair_scores_matches_inline_metrics(spark):
    """pair_scores (the r12 single-normalization flagship scorer) must be
    value-identical to the inline set_f1/exact_match/subset_accuracy
    composition on every answer shape: agreements, word-set permutations,
    article/punctuation-only differences, subsets, empties, whitespace
    runs, non-ASCII (dropped by the normalizer), and nulls."""
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.functions.scoring import (
        pair_scores,
        set_f1,
        subset_accuracy,
    )
    from proactive_map_reduce_spark.functions.text import exact_match, norm_tokens

    rows = [
        (0, "The quick brown fox", "quick brown fox"),   # article-only diff
        (1, "b a c", "a b c"),                           # same set, new order
        (2, "a b", "a b c"),                             # strict subset
        (3, "", ""),                                     # both empty
        (4, "", "x"),                                    # one empty
        (5, "Hello,   world!!", "hello world"),          # punct + ws runs
        (6, "héllo wörld", "hllo wrld"),                 # non-ASCII dropped
        (7, None, "a"),                                  # null pred
        (8, "a a a b", "b a"),                           # duplicates
        (9, "a the an", ""),                             # articles-only pred
    ]
    df = spark.createDataFrame(rows, "doc_id long, final_text string, gt_text string")
    inline = df.select(
        "doc_id",
        set_f1(norm_tokens("final_text"), norm_tokens("gt_text")).alias("set_f1"),
        exact_match(F.col("final_text"), F.col("gt_text")).alias("em"),
        subset_accuracy(norm_tokens("final_text"), norm_tokens("gt_text")).alias(
            "subset_acc"
        ),
    )
    fused = pair_scores(df).select(
        "doc_id", "set_f1", "em", "subset_acc"
    )
    a = {tuple(r) for r in inline.collect()}
    b = {tuple(r) for r in fused.collect()}
    assert a == b
