"""Term-weighting / retrieval ranking over the document corpus.

TF-IDF and BM25 — the lexical-retrieval layer a training-data pipeline
uses for corpus search, near-query mining, and quality-weighted sampling.
Both are pure DataFrame compositions (explode -> grouped counts -> joins),
no UDFs, so every score is DuckDB-oracle-checkable.

Scale shape (the part that matters at 100 TB):
- term statistics are ONE shuffle keyed by (doc_id, term) then one keyed
  by term; document-frequency and corpus-size scalars are 1-row / small
  aggregates joined back via broadcast, never a window over the whole
  corpus (a `count(*) OVER ()` would serialize everything through one
  partition);
- BM25 filters the exploded words to the query vocabulary BEFORE the
  first shuffle, so the exchanged volume is proportional to query-term
  hits, not corpus size.

Reference parity: the reference has no retrieval layer (its scoring is
BLEU/F1 vs gold text — test_proactive.py:374-377); these are engine
capabilities beyond the reference, same substrate as A5's token-count
join (pipeline_70b_samsum.py:83-97).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

K1 = 1.2
B = 0.75

#: The fixed retrieval query ``bm25_search`` ranks documents against.
BM25_QUERY_TERMS = ["join", "hash", "stream"]


def term_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — one row per distinct space-split term of
    ``text`` per document.

    Empty tokens (runs of spaces, empty documents) are dropped — the
    engine-wide retrieval/scoring token convention (functions/scoring
    does the same): '' is not a term, must never earn an idf, and must
    not skew document length."""
    ws = F.split(F.col("text"), " ")
    words = docs.select("doc_id", F.explode(ws).alias("term")).filter(
        F.col("term") != ""
    )
    return words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF.

    idf = ln((N + 1) / (df + 1)) + 1 (sklearn-style smoothing: never
    negative, never divides by zero). Deterministic tie-break on the
    rank: (round(score, 6) DESC, term ASC) — the rounded key is what
    both engines order by, so ulp-level ln() differences cannot flip
    ranks.

    Document frequency comes from a count window OVER the term partition
    of the (doc, term) aggregate, NOT a second aggregate joined back:
    Catalyst cannot reuse an exchange across different keys, so the
    join form re-explodes the whole corpus — at 100 TB the explode is
    the dominant cost and must run exactly once. Corpus size N is a
    separate footer-only count scan (no explode), broadcast in.
    """
    tc = term_counts(docs)
    wt = Window.partitionBy("term")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tc.withColumn("df_t", F.count("*").over(wt))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df_t") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df_t").cast("bigint").alias("df_t"),
            "tfidf",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def bm25_search(docs: DataFrame, top_n: int = 10) -> DataFrame:
    """BM25 ranking of documents against the ``BM25_QUERY_TERMS`` query.

    score(d) = sum over q of idf(q) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with the classic Robertson idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

    The explode is filtered to the query vocabulary before any shuffle —
    at 100 TB the exchange carries only query-term hits. Doc length and
    avgdl ride along as broadcast joins.
    """
    ws = F.split(F.col("text"), " ")
    # dl counts NON-EMPTY tokens (the engine-wide token convention); the
    # HOF filter is interpreted but runs once per doc on a narrow
    # projection, not in the per-term hot path
    lengths = docs.select(
        "doc_id", F.size(F.filter(ws, lambda x: x != F.lit(""))).alias("dl")
    )
    stats = lengths.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = (
        docs.select("doc_id", F.explode(ws).alias("term"))
        .filter(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = hits.groupBy("term").agg(F.count("*").alias("df_t"))
    scored = (
        hits.join(F.broadcast(df_t), "term")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1
                + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (K1 + 1)
            / (
                F.col("tf")
                + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("bm25"),
        F.count("*").alias("n_terms_hit"),
    )
    return (
        per_doc.orderBy(F.col("bm25").desc(), F.col("doc_id"))
        .limit(top_n)
        .select("doc_id", "bm25", F.col("n_terms_hit").cast("bigint").alias("n_terms_hit"))
    )
