"""Skew-mitigation equivalence, top-k edge cases, and text-corpus round-trip."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from proactive_map_reduce_spark.operators import similarity as sim
from proactive_map_reduce_spark.operators import skew
from proactive_map_reduce_spark.sources import text_corpus
from tests.conftest import SF0001


def test_salted_agg_equals_plain_groupby(spark, monkeypatch):
    monkeypatch.setattr(skew, "N_SALTS", 4)
    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        "event_id long, event_type string, value_dec double",
    )
    got = {
        r["event_type"]: (round(r["sum_value"], 6), r["n_rows"])
        for r in skew.salted_agg(df).collect()
    }
    want = {
        r["event_type"]: (round(r["s"], 6), r["c"])
        for r in df.groupBy("event_type")
        .agg(F.sum("value_dec").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    assert got == want


def test_salted_join_equals_plain_join(spark, monkeypatch):
    monkeypatch.setattr(skew, "N_SALTS", 4)
    fact = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(500)],
        "l_orderkey long, l_suppkey int, v double",
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(5)], "s_suppkey int, name string"
    )
    salted = skew.salted_join(fact, dim)
    plain = fact.join(dim, fact.l_suppkey == dim.s_suppkey)
    assert salted.count() == plain.count() == 500
    g = {
        r["name"]: round(r["s"], 6)
        for r in salted.groupBy("name").agg(F.sum("v").alias("s")).collect()
    }
    p = {
        r["name"]: round(r["s"], 6)
        for r in plain.groupBy("name").agg(F.sum("v").alias("s")).collect()
    }
    assert g == p


def test_salt_is_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    a = [r[0] for r in df.select(skew.salt_column("id")).collect()]
    b = [r[0] for r in df.select(skew.salt_column("id")).collect()]
    assert a == b
    assert all(0 <= s < skew.N_SALTS for s in a)
    assert len(set(a)) > 1  # actually spreads


def test_text_corpus_roundtrip(spark):
    docs = spark.createDataFrame(
        [(7, "hello world"), (42, "second doc text")], "doc_id long, text string"
    )
    root = tempfile.mkdtemp(prefix="pmr_corpus_test_")
    try:
        text_corpus.write_text_corpus(docs, root)
        back = {
            r["doc_id"]: r["text"]
            for r in text_corpus.read_text_corpus(spark, root).collect()
        }
        assert back == {7: "hello world", 42: "second doc text"}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_asof_join_semantics(spark):
    from proactive_map_reduce_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 200), (2, 5, 300)], "user_id int, ts int, lv int"
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 15, "b"), (1, 25, "c"), (3, 1, "z")],
        "user_id int, ts int, rv string",
    )
    out = {r["lv"]: r["r_rv"] for r in asof_join(left, right).collect()}
    assert out[100] == "a"   # equality counts (<=)
    assert out[200] == "b"   # latest at-or-before 20
    assert out[300] is None  # no right row for key 2


def test_sketch_stats_accuracy(spark):
    """KMV distinct within 5% of exact; histogram quartiles bracket exact median."""
    from pyspark.sql import functions as F

    import proactive_map_reduce_spark.queries as Q

    sketch = {r["lang"]: r for r in Q.q_sketch_stats(spark, SF0001).collect()}
    exact = {r["lang"]: r for r in Q.q_corpus_stats(spark, SF0001).collect()}
    for lang, e in exact.items():
        s = sketch[lang]
        rel = abs(s["approx_distinct_words"] - e["n_distinct_words"]) / e["n_distinct_words"]
        assert rel < 0.05, (lang, rel)
        assert s["p25"] <= e["median_chars"] <= s["p75"]


def _canon_rows(cols, rows):
    """tools/compare_oracle.py's comparison form: name-sorted columns,
    canon()-stringified values (floats at 6 decimals, NaN as 'nan'),
    sorted rows."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from compare_oracle import canon

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        tuple(canon(r[i]) for i in order) for r in rows
    )


def _duck_similarity_topk(emb_path):
    import duckdb

    from proactive_map_reduce_spark.oracles import ORACLES

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{emb_path}'")
    res = con.execute(ORACLES["q_similarity_topk"])
    return _canon_rows([d[0] for d in res.description], res.fetchall())


def test_brute_force_param_equals_broadcast(spark):
    """The literal-query brute-force top-k equals the q_similarity_topk
    DuckDB oracle on the sf0.001 embeddings, compared the way
    tools/compare_oracle.py compares them (same rounding, same
    tie-breaks)."""
    path = f"{SF0001}/embeddings.parquet"
    emb = spark.read.parquet(path)
    got = sim.brute_force_topk(emb)
    spark_side = _canon_rows(got.columns, [tuple(r) for r in got.collect()])
    assert spark_side == _duck_similarity_topk(path)
    assert len(spark_side[1]) == 40


def test_brute_force_topk_nonfinite_query_components(spark, tmp_path):
    """NaN and ±Infinity query components ride into the plan as SQL
    double casts and flow through the query: the rows equal the DuckDB
    oracle's, and the non-finite queries score NaN cosines."""
    dim = sim.EMBED_DIM
    base = [1.0] * dim
    queries = [
        base,
        [float("nan")] + base[1:],
        [float("inf")] + base[1:],
        base[:-1] + [float("-inf")],
        base,
    ]
    rows = [(i, 0, v) for i, v in enumerate(queries)]
    rows += [
        (i, 0, [float((i * 7 + d) % 11) - 5.0 for d in range(dim)])
        for i in range(len(queries), 14)
    ]
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).write.parquet(path)
    got = sim.brute_force_topk(spark.read.parquet(path))
    out = [tuple(r) for r in got.collect()]
    assert _canon_rows(got.columns, out) == _duck_similarity_topk(f"{path}/*.parquet")
    for q in (1, 2, 3):
        cos = [r[2] for r in out if r[0] == q]
        assert len(cos) == 5 and all(c != c for c in cos), (q, cos)  # NaN


def test_brute_force_topk_null_query_component_names_vec_id(spark, monkeypatch):
    """A NULL component in a query vector has no literal spelling and no
    cosine: the operator raises ValueError naming the query's vec_id."""
    import pytest

    monkeypatch.setattr(sim, "EMBED_DIM", 4)
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, None, 0.0, 0.0]), (9, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match=r"vec_id=1\b"):
        sim.brute_force_topk(emb)


def test_kmv_distinct_operator_branches(spark):
    """kmv_distinct: groups under k = SKETCH_KMV_K (1024) answer EXACTLY;
    groups over k estimate within KMV's expected error (~1/sqrt(k))."""
    from proactive_map_reduce_spark.functions.hashing import portable_hash64
    from proactive_map_reduce_spark.operators import sketch as sk

    rows = [("small", f"s{i}") for i in range(10)]
    rows += [("big", f"b{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "lang string, v string").repartition(8)
    hashed = df.select("lang", portable_hash64("v").alias("h")).distinct()
    got = {
        r["lang"]: r["approx_distinct_words"]
        for r in sk.kmv_distinct(hashed).collect()
    }
    assert 10 < sk.SKETCH_KMV_K < 5000
    assert got["small"] == 10  # exact branch
    assert abs(got["big"] - 5000) / 5000 < 0.25  # estimate branch


def test_histogram_quantiles_operator(spark):
    """histogram_quantiles brackets the true quartiles of a uniform
    integer column within one bin width."""
    from proactive_map_reduce_spark.operators import sketch as sk

    df = spark.createDataFrame(
        [("g", i) for i in range(1000)], "lang string, n_chars long"
    ).repartition(4)
    out = sk.histogram_quantiles(df).collect()[0]
    binw = 1000 / sk.SKETCH_BINS + 1  # lower-bound semantics: up to one (integer) bin below
    assert abs(out["p25"] - 250) <= binw
    assert abs(out["p50"] - 500) <= binw
    assert abs(out["p75"] - 750) <= binw


def test_topk_empty_corpus_returns_typed_empty(spark, monkeypatch):
    """Both top-k paths must return a well-formed empty result (not crash)
    on an empty or fully-filtered embedding input."""
    monkeypatch.setattr(sim, "EMBED_DIM", 4)
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    bf = sim.brute_force_topk(empty)
    assert bf.count() == 0
    assert [f.name for f in bf.schema.fields] == [
        "query_id", "neighbor_id", "cos_sim", "rank"
    ]
    lsh = sim.lsh_topk(empty)
    assert lsh.count() == 0
    assert [f.name for f in lsh.schema.fields] == [
        "query_id", "neighbor_id", "cos_sim", "rank"
    ]


def test_salted_join_keeps_null_salt_source_rows(spark):
    """A NULL salt source (``l_orderkey``) must not drop fact rows: the
    salted join claims equivalence to the plain inner join (crc32(NULL)
    is NULL; a NULL salt fails the equi-condition silently)."""
    from proactive_map_reduce_spark.operators import skew

    fact = spark.createDataFrame(
        [(1, None, 10.0), (1, 5, 20.0), (2, 7, 30.0)],
        "l_suppkey long, l_orderkey int, v double",
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "s_suppkey long, name string")
    got = skew.salted_join(fact, dim).collect()
    plain = fact.join(dim, fact["l_suppkey"] == dim["s_suppkey"]).collect()
    assert len(got) == len(plain) == 3


def test_brute_force_topk_empty_corpus_embed_dim(spark):
    """A zero-row corpus at the registry's ``EMBED_DIM``: the
    operator returns its documented well-formed empty result."""
    from proactive_map_reduce_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.brute_force_topk(empty)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "cos_sim", "rank"}


def test_quantize_zero_vector_no_divide_by_zero(spark):
    """An all-zero embedding (padding row, failed encode) has scale 0;
    quantization must yield q=0/err=0, not an ANSI DIVIDE_BY_ZERO."""
    import duckdb
    import pandas as pd

    from proactive_map_reduce_spark.oracles import ORACLES
    from proactive_map_reduce_spark.operators.similarity import EMBED_DIM
    from proactive_map_reduce_spark.queries import REGISTRY
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="qzv_")
    try:
        rows = [
            (0, 0, [0.0] * EMBED_DIM),
            (1, 1, [0.5] + [0.0] * (EMBED_DIM - 1)),
        ]
        spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<float>"
        ).write.parquet(os.path.join(tmp, "embeddings.parquet"))
        got = {
            r["vec_id"]: (r["scale"], r["q_max"], r["q_min"], r["max_abs_err"])
            for r in REGISTRY["q_quantize_embeddings"](spark, tmp).collect()
        }
        assert got[0] == (0.0, 0, 0, 0.0)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{os.path.join(tmp, 'embeddings.parquet')}/*.parquet'"
        )
        want = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.execute(ORACLES["q_quantize_embeddings"]).fetchall()
        }
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
