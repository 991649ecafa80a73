"""Text analysis operators for corpus curation (north-star extras).

Language-ID (marker-word heuristic), quality scoring (length / stopword /
repetition features), token counting, and document fingerprinting — each a
pure built-in column pipeline (JVM-side, whole-stage codegen), designed to
run as a single narrow projection over the scan at 100 TB (no shuffle at
all except the optional per-language aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.numeric import round_ratio
from ..functions.text import normalize_text

# marker stopwords per language (deterministic heuristic, not a model)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "les", "et", "que"],
    "de": ["der", "die", "das", "und", "ist"],
}

STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "it", "for"]

#: Words that drop a document in ``blocklist_filter`` (curation blocklist).
BLOCKLIST = ["error", "slow"]


def _count_in(ws: Column, vocab: list[str]) -> Column:
    return F.size(F.filter(ws, lambda w: w.isin(vocab)))


def lang_id(df: DataFrame) -> DataFrame:
    """Marker-word language ID: argmax of per-language marker counts.

    Deterministic tie-break: higher count wins, then language code order —
    expressed as a sorted struct array (no UDF).
    """
    ws = F.split(F.lower(F.col("text")), " ")
    scores = F.array(
        *[
            F.struct(
                (-_count_in(ws, markers)).alias("neg_score"), F.lit(code).alias("code")
            )
            for code, markers in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_sort(scores).getItem(0)
    # null-text quarantine: with no text every marker count is NULL and
    # the struct sort's winner is an ordering artifact — the engines
    # "agreed" on different arbitrary codes (nulls value gate find). An
    # unknown document has an unknown language: NULL out, row kept.
    null_text = F.col("text").isNull()
    return df.withColumn(
        "pred_lang", F.when(null_text, F.lit(None)).otherwise(best["code"])
    ).withColumn(
        "marker_hits",
        F.when(null_text, F.lit(None)).otherwise((-best["neg_score"]).cast("bigint")),
    )


def quality_features(df: DataFrame, keep_cols: tuple = ("doc_id",)) -> DataFrame:
    """Quality-scoring features + composite score in [0, 1].

    Features mirror standard corpus filters: document length, mean word
    length, stopword ratio, distinct-word (repetition) ratio.

    `keep_cols` lets a composed pipeline keep e.g. (doc_id, lang, text)
    alongside the features so the gate can filter in the SAME narrow
    projection — no self-join of two scans on doc_id.
    """
    ws = F.split(F.col("text"), " ")
    n_words = F.size(ws)
    n_chars = F.length(F.col("text")) - (n_words - 1)
    n_stop = _count_in(ws, STOPWORDS)
    n_distinct = F.size(F.array_distinct(ws))
    # composite = 0.4·min(n,100)/100 + 0.3·stop/n + 0.3·distinct/n, as the
    # exact integer ratio (4·min(n,100)·n + 300·stop + 300·distinct)/1000n.
    # All four display columns round via exact int64 half-up
    # (functions/numeric.py) — float round(x, 6) is engine-divergent on
    # 7-decimal-exact quotients like 27484/64000 (sf0.1 deep-gate find).
    nw = n_words.cast("bigint")  # bigint arithmetic: no int32 overflow on long docs
    score_num = (
        4 * F.least(nw, F.lit(100)) * nw
        + 300 * n_stop.cast("bigint")
        + 300 * n_distinct.cast("bigint")
    )
    return df.select(
        *keep_cols,
        nw.alias("n_words"),
        round_ratio(n_chars, n_words).alias("avg_word_len"),
        round_ratio(n_stop, n_words).alias("stopword_ratio"),
        round_ratio(n_distinct, n_words).alias("distinct_ratio"),
        round_ratio(score_num, 1000 * nw).alias("quality_score"),
    )


def token_stats(df: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish subword estimate
    (ceil(chars/4) — the standard bytes-per-token heuristic)."""
    ws = F.split(F.col("text"), " ")
    return df.select(
        "doc_id",
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        F.ceil(F.length(F.col("text")) / 4.0).cast("bigint").alias("n_bpe_est"),
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Within-document repetition filters (Gopher-style quality signals):
    fraction of bigrams taken by the single most frequent bigram, and
    fraction of trigrams that occur more than once.

    Shape: posexplode words → window-lead n-grams → two stacked count
    aggregations — the whole-stage-codegen path that beat interpreted
    array HOFs ~2-3× for minhash shingling (operators/dedup.py), applied
    to gram frequencies. ONE exchange total: the word window partitions
    by doc_id, and both downstream groupBys key on doc_id supersets, so
    HashPartitioning(doc_id) already satisfies their required
    distributions — Catalyst inserts no further shuffle.

    Null grams (the ≤2 trailing positions per doc where lead() runs off
    the end) are kept through the per-gram count and excluded in the
    per-doc rollup: that guarantees every document — including one-word
    docs with no bigrams at all — survives to the output with zeroed
    signals, without a restore-join against the doc list.
    """
    words = df.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = words.select(
        "doc_id",
        F.col("w"),
        F.lead("w", 1).over(win).alias("w1"),
        F.lead("w", 2).over(win).alias("w2"),
    )
    grams = leads.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(2).alias("k"),
                    F.when(
                        F.col("w1").isNotNull(),
                        F.concat_ws(" ", F.col("w"), F.col("w1")),
                    ).alias("g"),
                ),
                F.struct(
                    F.lit(3).alias("k"),
                    F.when(
                        F.col("w2").isNotNull(),
                        F.concat_ws(" ", F.col("w"), F.col("w1"), F.col("w2")),
                    ).alias("g"),
                ),
            )
        ).alias("kg"),
    ).select("doc_id", F.col("kg.k").alias("k"), F.col("kg.g").alias("g"))
    per_gram = grams.groupBy("doc_id", "k", "g").agg(F.count("*").alias("c"))
    valid = F.col("g").isNotNull()
    per_doc = per_gram.groupBy("doc_id").agg(
        F.coalesce(F.sum(F.when((F.col("k") == 2) & valid, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("n_bigrams"),
        F.max(F.when((F.col("k") == 2) & valid, F.col("c"))).alias("top2"),
        F.coalesce(F.sum(F.when((F.col("k") == 3) & valid, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("n_trigrams"),
        F.coalesce(
            F.sum(F.when((F.col("k") == 3) & valid & (F.col("c") > 1), F.col("c"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dup3"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "n_trigrams",
        # exact-int half-up rounds (functions/numeric.py)
        F.when(
            F.col("n_bigrams") > 0, round_ratio(F.col("top2"), F.col("n_bigrams"))
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(
            F.col("n_trigrams") > 0, round_ratio(F.col("dup3"), F.col("n_trigrams"))
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )


def blocklist_filter(df: DataFrame) -> DataFrame:
    """Blocklist filtering (the safety/PII gate of a curation pipeline):
    keep only documents containing NO ``BLOCKLIST`` word.

    Array-local `exists` over the word array — a pure narrow filter
    fused into the scan (no explode, no join, zero shuffles), which is
    the 100 TB-correct shape: the alternative anti-join against an
    exploded word table would shuffle the whole corpus to remove a few
    rows. The blocklist is a literal in the plan (broadcast-free).
    """
    ws = F.split(F.col("text"), " ")
    hit = F.exists(ws, lambda w: w.isin(BLOCKLIST))
    return df.filter(~hit).select(
        "doc_id", "lang", F.size(ws).cast("bigint").alias("n_words")
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprinting: full-content hash + winnowing-style minimum
    over rolling word 5-gram hashes (robust to local edits)."""
    ws = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ws) - 5, F.lit(0))),
        lambda i: F.array_join(F.slice(ws, i + 1, 5), " "),
    )
    gram_hashes = F.transform(grams, lambda g: portable_hash64(g))
    return df.select(
        "doc_id",
        F.md5(normalize_text(F.col("text"))).alias("content_md5"),
        F.array_min(gram_hashes).alias("winnow_min"),
        F.array_max(gram_hashes).alias("winnow_max"),
    )
