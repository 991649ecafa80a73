"""Scoring functions (SURVEY §2.6 A5-A7, §2.9 F6-F7).

Set/multiset scores are pure built-in array algebra (oracle-checkable).
BLEU and ROUGE-L each exist in TWO forms: the hash-checked forms used by
the registry queries (relational integer n-gram counts via
explode+window for BLEU, the integer ``lcs_udf`` for ROUGE-L — every
value verified against a DuckDB oracle), and pure-Python references
(the reference uses NLTK ``sentence_bleu`` with chencherry smoothing and
Google's ``rouge_scorer`` — re-implemented as small deterministic
functions, no external deps) that the property tests cross-check the
query forms against. ``bleu_udf`` serves the Python BLEU to
``ProactivePipeline.score``.

Reference parallels:
- token-counter multiset F1: pipeline_70b_samsum.py:83-97 (Counter & Counter).
- set F1: test_proactive.py:110-128; subset accuracy: :130-139.
- BLEU: test_proactive.py:374-376 (smoothed sentence BLEU, max order 4).
- ROUGE-L f-measure: pipeline_70b_samsum.py:77-81.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import zipcache
from .numeric import round_ratio


# --- built-in array algebra (SQL-checkable) ---------------------------------


def set_f1(pred_words: Column, gold_words: Column) -> Column:
    """A6: F1 over distinct word sets, with the reference's no-answer
    rule (test_proactive.py:115-117): if EITHER side has zero tokens,
    F1 is 1 when they agree (both empty) and 0 otherwise."""
    p = F.array_distinct(pred_words)
    g = F.array_distinct(gold_words)
    inter = F.size(F.array_intersect(p, g))
    both_empty = ((F.size(p) == 0) & (F.size(g) == 0)).cast("double")
    # F1 = 2pr/(p+r) = 2·|∩|/(|p|+|g|): the exact integer ratio, rounded
    # half-up in exact int64 (functions/numeric.py) — float round(x, 6)
    # splits across engines on 7-decimal-exact quotients like 2i/128.
    return (
        F.when((F.size(p) == 0) | (F.size(g) == 0), both_empty)
        .when(inter == 0, F.lit(0.0))
        .otherwise(round_ratio(2 * inter, F.size(p) + F.size(g)))
    )


def pair_scores(df, f1_col: str = "set_f1", em_col: str = "em"):
    """All three answer metrics of the (``final_text``, ``gt_text``)
    pair — ``set_f1`` + exact match + ``subset_acc`` — with each side
    NORMALIZED ONCE (r12 flagship shave).

    Composing ``set_f1(norm_tokens(x), norm_tokens(y))`` + exact_match
    + subset_accuracy inline re-evaluates the 3-regex normalization
    chain per metric per side over the FULL document text — measured
    ~27% of q_flagship's wall at sf0.1. Layering the normalized string
    and its distinct-token set as intermediate projection columns pins
    single evaluation: Catalyst's project collapsing refuses to inline
    a non-cheap expression referenced more than once, so the regex
    chain runs once per side and every metric reads the result. Values
    are bit-identical to the inline composition (the same no-answer
    rules and exact-int64 rounding; pinned by the flagship oracle and
    tests/test_scoring.py::test_pair_scores_matches_inline_metrics).
    """
    from .text import normalize_text

    nf, ng, tf, tg = "__norm_pred", "__norm_gold", "__toks_pred", "__toks_gold"
    ni = "__n_inter"

    def toks(c: Column) -> Column:
        # empty normalization → ZERO tokens (the reference's no-answer),
        # same contract as text.norm_tokens
        return F.when(
            F.length(c) == 0, F.array().cast("array<string>")
        ).otherwise(F.split(c, " "))

    df = (
        df.withColumn(nf, normalize_text(F.col("final_text")))
        .withColumn(ng, normalize_text(F.col("gt_text")))
        .withColumn(tf, F.array_distinct(toks(F.col(nf))))
        .withColumn(tg, F.array_distinct(toks(F.col(ng))))
    )
    p, g = F.col(tf), F.col(tg)
    # intersect size layered like the norms (r14): inlined, the f1 CASE
    # references it twice (zero-test + ratio) and array_intersect builds
    # its lookup set per evaluation — the pin halves that per-row work.
    df = df.withColumn(ni, F.size(F.array_intersect(p, g)))
    either_empty = (F.size(p) == 0) | (F.size(g) == 0)
    both_empty = (F.size(p) == 0) & (F.size(g) == 0)
    inter = F.col(ni)
    f1 = (
        F.when(either_empty, both_empty.cast("double"))
        .when(inter == 0, F.lit(0.0))
        .otherwise(round_ratio(2 * inter, F.size(p) + F.size(g)))
    )
    sub = F.when(either_empty, both_empty.cast("int")).otherwise(
        (F.size(F.array_except(g, p)) == 0).cast("int")
    )
    return (
        df.withColumn(f1_col, f1)
        .withColumn(em_col, (F.col(nf) == F.col(ng)).cast("int"))
        .withColumn("subset_acc", sub)
        .drop(nf, ng, tf, tg, ni)
    )


def subset_accuracy(pred_words: Column, gold_words: Column) -> Column:
    """A7: 1 iff gold word set ⊆ pred word set, with the reference's
    no-answer rule (test_proactive.py:135-137): an empty side scores 1
    only when BOTH are empty (plain ⊆ would grant an empty gold a free
    1 against any pred)."""
    p = F.array_distinct(pred_words)
    g = F.array_distinct(gold_words)
    both_empty = ((F.size(p) == 0) & (F.size(g) == 0)).cast("int")
    return (
        F.when((F.size(p) == 0) | (F.size(g) == 0), both_empty)
        .otherwise((F.size(F.array_except(g, p)) == 0).cast("int"))
    )


# --- pandas UDFs (rows-checked; property-tested in tests/) ------------------


def _ngrams(tokens: list[str], n: int) -> Counter:
    return Counter(tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1))


def _tokens(s: str) -> list[str]:
    """The engine-wide token convention: split on single spaces, drop
    empty tokens. Equals str.split() on space-separated text (every
    fixture and the reference's pre-tokenized corpora) while matching
    bleu_table/_ngram_counts' F.split + w != '' filter EXACTLY on runs
    of spaces — so the pure-Python mirrors and the relational forms are
    pinned equal on all inputs, not just single-spaced ones."""
    return [t for t in s.split(" ") if t] if s else []


#: BLEU's highest n-gram order (the reference's sentence_bleu default).
BLEU_MAX_ORDER = 4


def bleu_score(pred: str, gold: str) -> float:
    """Smoothed sentence BLEU over whitespace tokens (reference:
    nltk sentence_bleu + chencherry method7, test_proactive.py:374-376).
    Here: add-1 smoothing on orders with zero matches (method-1 style),
    deterministic and dependency-free."""
    p_toks, g_toks = _tokens(pred), _tokens(gold)
    if not p_toks or not g_toks:
        return 0.0
    # cap order at candidate length so short identical texts score 1.0
    max_order = min(BLEU_MAX_ORDER, len(p_toks))
    log_sum = 0.0
    for n in range(1, max_order + 1):
        p_ng, g_ng = _ngrams(p_toks, n), _ngrams(g_toks, n)
        total = max(sum(p_ng.values()), 0)
        if total == 0:
            return 0.0
        overlap = sum(min(c, g_ng[t]) for t, c in p_ng.items())
        if overlap == 0:
            prec = 1.0 / (2 * total)  # smoothing for zero-match orders
        else:
            prec = overlap / total
        log_sum += math.log(prec)
    geo_mean = math.exp(log_sum / max_order)
    bp = 1.0 if len(p_toks) > len(g_toks) else math.exp(1 - len(g_toks) / len(p_toks))
    return bp * geo_mean


# ROUGE-L scoring window: LCS is O(n·m) with no subquadratic shortcut,
# so an uncapped scorer lets ONE pathological document own the stage —
# a single 15k-token doc is ~2.3e8 DP cells in the Python UDF and a
# ~2.3e8-row recursive CTE in the oracle (observed: the adversarial
# mega-doc stalled both for tens of minutes). Scoring the first
# LCS_MAX_TOKENS tokens of each side is the truncate-before-score
# convention the reference pipeline itself applies to model inputs
# (P5 middle-drop truncation); 2048 is 20× the largest canonical
# document (100 tokens, measured tri-scale), so canonical values are
# untouched, and the worst per-doc cost is bounded at 2048² ≈ 4e6
# cells regardless of corpus content. Mirrored in the q_rouge oracle.
LCS_MAX_TOKENS = 2048


def _lcs_len(a: list[str], b: list[str]) -> int:
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0]
        for j, y in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if x == y else max(prev[j], cur[-1]))
        prev = cur
    return prev[-1]


def rouge_l(pred: str, gold: str) -> float:
    """ROUGE-L f-measure over whitespace tokens (pipeline_70b_samsum.py:77-81),
    scored over the first LCS_MAX_TOKENS tokens of each side (see the
    cap's rationale below — identity for canonical-length inputs)."""
    p, g = _tokens(pred)[:LCS_MAX_TOKENS], _tokens(gold)[:LCS_MAX_TOKENS]
    if not p or not g:
        return 0.0
    lcs = _lcs_len(p, g)
    if lcs == 0:
        return 0.0
    prec, rec = lcs / len(p), lcs / len(g)
    return 2 * prec * rec / (prec + rec)


@F.pandas_udf(T.DoubleType())
def bleu_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    zipcache.install()
    return pd.Series([round(bleu_score(p or "", g or ""), 6) for p, g in zip(pred, gold)])


# --- relational BLEU (hash-checkable: integer n-gram counts + closed-form) --


def _ngram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, n, g, c): per-document n-gram multiset counts for
    n = 1..BLEU_MAX_ORDER, via posexplode + window-lead (whole-stage
    codegen; one exchange on doc_id serves the window and the count
    aggregation)."""
    toks = df.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w")
    ).filter(F.col("w") != "")  # drop empty tokens (runs of spaces / empty
    # text) BEFORE the lead window, so n-grams span the surviving tokens —
    # the same list str.split() produces (see _tokens)
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = toks.select(
        "doc_id",
        "w",
        *[F.lead("w", i).over(win).alias(f"w{i}") for i in range(1, BLEU_MAX_ORDER)],
    )
    structs = [F.struct(F.lit(1).alias("n"), F.col("w").alias("g"))]
    for n in range(2, BLEU_MAX_ORDER + 1):
        parts = [F.col("w")] + [F.col(f"w{i}") for i in range(1, n)]
        structs.append(
            F.struct(
                F.lit(n).alias("n"),
                F.when(
                    F.col(f"w{n - 1}").isNotNull(), F.concat_ws(" ", *parts)
                ).alias("g"),
            )
        )
    grams = (
        leads.select("doc_id", F.explode(F.array(*structs)).alias("kg"))
        .select("doc_id", F.col("kg.n").alias("n"), F.col("kg.g").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    return grams.groupBy("doc_id", "n", "g").agg(F.count("*").alias("c"))


def bleu_table(pred_df: DataFrame, gold_df: DataFrame) -> DataFrame:
    """Smoothed sentence BLEU of pred_df.final_text against
    gold_df.text as a relational plan: integer clipped-match
    and total counts per order (exact, hash-checkable cross-engine) plus
    the BLEU float computed from those integers in closed form
    (geo-mean of precisions × brevity penalty — exp/ln built-ins only).

    Same formula as ``bleu_score`` (reference: nltk sentence_bleu with
    chencherry smoothing, test_proactive.py:374-376): order capped at the
    candidate length, 1/(2·total) smoothing for zero-match orders.

    Scale shape: both sides are explode+lead gram counts (one exchange
    each keyed by doc_id); the clipped-overlap join keys on
    (doc_id, n, gram) — fully distributed, no per-row quadratic UDF.
    """
    p = _ngram_counts(pred_df.select("doc_id", "final_text"), "final_text")
    g = (
        _ngram_counts(gold_df.select("doc_id", "text"), "text")
        .withColumnRenamed("c", "cg")
    )
    per_n = (
        p.join(g, ["doc_id", "n", "g"], "left")
        .groupBy("doc_id", "n")
        .agg(
            F.sum(F.least(F.col("c"), F.coalesce(F.col("cg"), F.lit(0)))).alias("m"),
            F.sum("c").alias("t"),
        )
    )
    piv = per_n.groupBy("doc_id").agg(
        *[
            F.coalesce(F.max(F.when(F.col("n") == n, F.col(src))), F.lit(0))
            .cast("bigint")
            .alias(f"{src}{n}")
            for n in range(1, BLEU_MAX_ORDER + 1)
            for src in ("m", "t")
        ]
    )
    lens = gold_df.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("bigint")
        .alias("len_g"),
    )
    # left-join from the GOLD doc list: a pred with zero tokens produces
    # no gram rows at all, and must still appear in the output (bleu 0.0,
    # the mirror bleu_score's answer) rather than vanish. The gold side
    # is the cheap base — a table scan — whereas basing on pred_df would
    # re-derive the whole upstream pred pipeline (the model stage) a
    # second time in the static plan. Output contract: one row per gold
    # doc; preds without a gold doc are dropped (inner semantics, as
    # before).
    staged = (
        lens.join(piv, "doc_id", "left")
        .select(
            "doc_id",
            "len_g",
            *[
                F.coalesce(F.col(f"{src}{n}"), F.lit(0)).cast("bigint").alias(f"{src}{n}")
                for n in range(1, BLEU_MAX_ORDER + 1)
                for src in ("m", "t")
            ],
        )
        .withColumn("len_p", F.col("t1"))
    )
    max_order = F.least(F.lit(BLEU_MAX_ORDER), F.col("len_p"))

    def log_prec(n: int) -> Column:
        m, t = F.col(f"m{n}"), F.col(f"t{n}")
        return F.log(
            F.when(m == 0, 1.0 / (2.0 * t)).otherwise(m / t.cast("double"))
        )

    log_sum = sum(
        (
            F.when(max_order >= n, log_prec(n)).otherwise(F.lit(0.0))
            for n in range(1, BLEU_MAX_ORDER + 1)
        ),
        F.lit(0.0),
    )
    bp = F.when(F.col("len_p") > F.col("len_g"), F.lit(1.0)).otherwise(
        F.exp(1.0 - F.col("len_g") / F.col("len_p").cast("double"))
    )
    return staged.select(
        "doc_id",
        "len_p",
        "len_g",
        *[F.col(f"{src}{n}") for n in range(1, BLEU_MAX_ORDER + 1) for src in ("m", "t")],
        F.round(
            # empty pred or gold scores 0.0 (bleu_score's guard) — also
            # keeps the bp/log divisions off the len_p = 0 path
            F.when(
                (F.col("len_p") == 0) | (F.col("len_g") == 0), F.lit(0.0)
            ).otherwise(bp * F.exp(log_sum / max_order)),
            6,
        ).alias("bleu"),
    )


@F.pandas_udf(T.LongType())
def lcs_udf(pred: pd.Series, gold: pd.Series) -> pd.Series:
    """Integer LCS length over the first LCS_MAX_TOKENS whitespace tokens
    of each side — the exact, hashable core of (capped) ROUGE-L. The
    f-measure is derived from this integer with IEEE-exact +,*,/ in the
    SQL layer on BOTH engines, so the whole ROUGE query hash-checks
    (the oracle computes the same integer via a recursive-CTE row DP
    over identically capped token lists)."""
    zipcache.install()
    return pd.Series(
        [
            _lcs_len(
                _tokens(p or "")[:LCS_MAX_TOKENS],
                _tokens(g or "")[:LCS_MAX_TOKENS],
            )
            for p, g in zip(pred, gold)
        ]
    )
