"""TF-IDF / BM25 ranking and curation-gate semantics vs pure-Python
mirrors on a hand-built corpus."""

from __future__ import annotations

import math
from collections import Counter


CORPUS = [
    (0, "spark runs fast and spark scales out"),
    (1, "duckdb runs in process and runs fast"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "spark and duckdb both execute sql"),
]


def _tf(text):
    return Counter(text.split(" "))


def test_tfidf_matches_python_mirror(spark):
    from proactive_map_reduce_spark.operators.ranking import tfidf_top_terms

    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = tfidf_top_terms(df).collect()

    n_docs = len(CORPUS)
    dfreq = Counter()
    for _, text in CORPUS:
        dfreq.update(set(text.split(" ")))
    for r in got:
        text = dict(CORPUS)[r["doc_id"]]
        tf = _tf(text)[r["term"]]
        idf = math.log((n_docs + 1) / (dfreq[r["term"]] + 1)) + 1
        assert r["tf"] == tf
        assert r["df_t"] == dfreq[r["term"]]
        assert abs(r["tfidf"] - round(tf * idf, 6)) < 1e-9
    # exactly 3 per doc, ranks 1..3, rank 1 has max score in its doc
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        assert sorted(x["rnk"] for x in rows) == [1, 2, 3]
        top = max(rows, key=lambda x: (x["tfidf"], ))
        assert next(x for x in rows if x["rnk"] == 1)["tfidf"] == top["tfidf"]


def test_bm25_ranks_term_dense_docs_first(spark, monkeypatch):
    from proactive_map_reduce_spark.operators import ranking

    monkeypatch.setattr(ranking, "BM25_QUERY_TERMS", ["spark", "duckdb"])
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    got = ranking.bm25_search(df, top_n=10).collect()
    ids = [r["doc_id"] for r in got]
    # doc 2 has no query term: absent; doc 3 hits both terms once
    assert 2 not in ids
    assert set(ids) == {0, 1, 3}
    assert got[0]["doc_id"] == 3  # two distinct rarer terms beat repeats
    assert got[0]["n_terms_hit"] == 2
    # scores strictly ordered (tie would order by doc_id)
    scores = [r["bm25"] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_blocklist_filter_drops_hits(spark, monkeypatch):
    from proactive_map_reduce_spark.operators import textstats

    monkeypatch.setattr(textstats, "BLOCKLIST", ["bad"])

    rows = [
        (0, "en", "clean text here"),
        (1, "en", "contains bad word"),
        (2, "fr", "badge is not bad"),   # substring 'bad' inside 'badge' must NOT hit
        (3, "de", "all clear"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    kept = sorted(r["doc_id"] for r in textstats.blocklist_filter(df).collect())
    assert kept == [0, 3]


def test_sentence_dedup_first_occurrence_wins(spark):
    from proactive_map_reduce_spark.operators.dedup import sentence_dedup

    rows = [
        (0, "Alpha beta. Gamma delta. Unique zero."),
        (1, "Alpha beta. Fresh one here."),        # first sentence dup of doc 0
        (2, "Gamma delta. Gamma delta. New tail."),  # within- and cross-doc dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in sentence_dedup(df).collect()}
    assert got[0]["n_sents"] == 3 and got[0]["n_kept"] == 3  # all first
    assert got[1]["n_sents"] == 2 and got[1]["n_kept"] == 1
    assert got[2]["n_sents"] == 3 and got[2]["n_kept"] == 1
    assert abs(got[2]["keep_frac"] - round(1 / 3, 6)) < 1e-9


def test_hybrid_search_shape_and_ordering(spark):
    from proactive_map_reduce_spark.queries import REGISTRY
    from tests.conftest import SF0001

    got = REGISTRY["q_hybrid_search"](spark, SF0001).collect()
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]
    sims = [r["cos_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)
    assert all(r["bm25"] > 0 for r in got)  # candidates come from BM25 hits
