"""Dedup-suite behavior tests: near-dup recall, determinism, LSH bounds."""

from __future__ import annotations

from unittest import mock

from pyspark.sql import functions as F

from proactive_map_reduce_spark.operators import dedup


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # 1-word edit → high jaccard
    far = "completely different content about spark query engines and shuffles"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], "doc_id int, text string"
    )


def test_exact_dedup_groups_identical_docs(spark):
    out = dedup.exact_dedup(_corpus(spark)).collect()
    by_rep = {r["rep_id"]: r["n_dups"] for r in out}
    assert by_rep[0] == 2  # docs 0 and 1 identical
    assert by_rep[2] == 1 and by_rep[3] == 1


def test_minhash_signature_deterministic_and_identical_for_dups(spark):
    sig = dedup.minhash_arrays(_corpus(spark)).collect()
    rows = {r["doc_id"]: tuple(r[f"mh_{j}"] for j in range(16)) for r in sig}
    assert rows[0] == rows[1]  # identical docs → identical signatures
    # near-dup shares most minhashes; far doc shares almost none
    share_near = sum(a == b for a, b in zip(rows[0], rows[2]))
    share_far = sum(a == b for a, b in zip(rows[0], rows[3]))
    assert share_near > share_far
    assert share_near >= 8


def test_lsh_finds_near_dups_not_far_pairs(spark):
    sig = dedup.minhash_arrays(_corpus(spark))
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidate_pairs(sig).collect()
    }
    assert (0, 1) in pairs
    assert not any(3 in p for p in pairs)


def test_jaccard_exact_values(spark):
    sh = dedup.shingle_arrays(_corpus(spark))
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "doc_a int, doc_b int"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(sh, pairs).collect()
    }
    assert got[(0, 1)] == 1.0
    assert got[(0, 3)] == 0.0
    # the 1-word edit replaces the last of 12 3-grams: 11 shared, 13 in
    # the union
    assert got[(0, 2)] == round(11 / 13, 6)


def _py_grams(text: str, n: int) -> set[str]:
    """The shingle rule in plain Python: every full n-gram of the
    space-split text, plus one partial gram for texts shorter than n."""
    ws = text.split(" ")
    return {" ".join(ws[i : i + n]) for i in range(max(len(ws) - n, 0) + 1)}


def test_shingle_rows_matches_shingle_arrays(spark):
    """shingle_arrays yields exactly the distinct n-gram set of the
    plain-Python shingle rule, on normal, short, empty, unicode and null
    text."""
    docs = _mixed_corpus(spark)
    for n in (3, 5):
        got = {
            r["doc_id"]: r["shingles"]
            for r in dedup.shingle_arrays(docs, n=n).collect()
        }
        want = {
            i: _py_grams(t, n) for i, t in docs.collect() if t is not None
        }
        assert {i: set(g) for i, g in got.items()} == want, n
        assert all(len(g) == len(set(g)) for g in got.values())  # distinct


def test_simhash_close_for_near_dups(spark):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_corpus(spark)).collect()}
    assert out[0] == out[1]

    def hamming(x, y):
        return bin(x ^ y).count("1")

    assert hamming(out[0], out[2]) < hamming(out[0], out[3])


def test_connected_components_chains_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 1)], "doc_a long, doc_b long"
    )
    out = {
        r["doc_id"]: r["cluster_rep"]
        for r in dedup.connected_components(pairs).collect()
    }
    # chain 9-1-2-3 collapses to rep 1; island 5-6 to rep 5
    assert out == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_lsh_mega_bucket_capped_star_expansion(spark):
    """Adversarial near-dup boilerplate cluster: 12k docs share every band
    signature (one 12k-member bucket per band). Unbounded i<j expansion
    would emit ~288M pair structs in one task; the cap must bound it to
    C(K,2) representative pairs + (B-K) star links, stay deterministic,
    and keep the cluster connected."""
    k = dedup.LSH_MAX_BUCKET
    n_docs = 12_000
    sig = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        *[F.lit(7).alias(f"mh_{j}") for j in range(16)],
    )
    pairs = dedup.lsh_candidate_pairs(sig)
    n_pairs = pairs.count()
    assert n_pairs == k * (k - 1) // 2 + (n_docs - k)

    # star links: every overflow member pairs with the bucket min (doc 0)
    star = pairs.filter(F.col("doc_b") >= k)
    assert star.filter(F.col("doc_a") != 0).count() == 0
    assert star.count() == n_docs - k

    # cluster connectivity survives the cap: connected_components over the
    # operator's ACTUAL capped output (not a fabricated edge list) must
    # put all 12k docs in one component with rep = min id
    comp = dedup.connected_components(pairs).collect()
    assert len(comp) == n_docs
    assert {r["cluster_rep"] for r in comp} == {0}


def test_lsh_pairs_tolerate_duplicate_doc_ids(spark):
    """Duplicate doc_id rows in sig_df (e.g. a unioned signature table)
    must not emit self-pairs — doc_a < doc_b is the output contract."""
    one = spark.range(6).select(
        F.col("id").alias("doc_id"),
        *[F.lit(5).alias(f"mh_{j}") for j in range(16)],
    )
    doubled = one.unionByName(one)
    pairs = dedup.lsh_candidate_pairs(doubled).collect()
    assert all(r["doc_a"] < r["doc_b"] for r in pairs)
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {
        (a, b) for a in range(6) for b in range(6) if a < b
    }


def test_lsh_cap_noop_for_small_buckets(spark, monkeypatch):
    """Buckets at exactly K members still get full i<j expansion —
    the cap changes nothing until a bucket EXCEEDS LSH_MAX_BUCKET."""
    k = 8
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", k)
    sig = spark.range(k).select(
        F.col("id").alias("doc_id"),
        *[F.lit(3).alias(f"mh_{j}") for j in range(16)],
    )
    pairs = dedup.lsh_candidate_pairs(sig)
    assert pairs.count() == k * (k - 1) // 2


def test_signature_agreement_counts_and_guard(spark):
    """n_sig_match counts exactly the shared MinHash components, and the
    >= 8 confirmation gate drops low-estimate candidates before any
    shingle-set work."""
    rows = []
    # doc 0 baseline; doc 1 identical; doc 2 shares first 8; doc 3 none
    rows.append(tuple([0] + [100 + j for j in range(16)]))
    rows.append(tuple([1] + [100 + j for j in range(16)]))
    rows.append(tuple([2] + [100 + j for j in range(8)] + [900 + j for j in range(8)]))
    rows.append(tuple([3] + [700 + j for j in range(16)]))
    sig = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"mh_{j} long" for j in range(16))
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_sig_match"]
        for r in dedup.signature_agreement(pairs, sig).collect()
    }
    assert got == {(0, 1): 16, (0, 2): 8, (0, 3): 0}
    kept = dedup.signature_agreement(pairs, sig).filter("n_sig_match >= 8")
    assert {(r["doc_a"], r["doc_b"]) for r in kept.collect()} == {(0, 1), (0, 2)}


def _sig_df(spark, rows):
    """(doc_id, 16-tuple signature) rows → a signature DataFrame."""
    schema = "doc_id long, " + ", ".join(f"mh_{j} long" for j in range(16))
    return spark.createDataFrame(
        [(i, *sig) for i, sig in rows], schema
    )


def test_incremental_lsh_matches_semantics(spark):
    """New-batch-vs-catalog dedup: full agreement matches, sub-threshold
    band collisions are rejected, new-new pairs are never counted."""
    A = tuple(range(16))
    B = tuple(range(100, 116))
    # shares band 0 (components 0-3) with A but nothing else: candidate
    # via the band join, then rejected at 4/16 agreement
    half = tuple(list(A[:4]) + list(range(200, 212)))
    C = tuple(range(300, 316))
    catalog = _sig_df(spark, [(1, A), (2, A), (3, B)])
    new = _sig_df(spark, [(10, A), (11, C), (12, half), (13, A)])
    out = {
        r["new_id"]: (r["dup_of"], r["n_matches"])
        for r in dedup.incremental_lsh_matches(new, catalog).collect()
    }
    # 10 and 13 both match catalog docs 1 and 2 — NOT each other (the
    # asymmetric join never pairs two new docs)
    assert out == {10: (1, 2), 13: (1, 2)}


def test_incremental_lsh_catalog_bucket_cap(spark, monkeypatch):
    """A boilerplate catalog bucket is capped at its LSH_MAX_BUCKET
    smallest ids: matches count only the representatives,
    deterministically."""
    monkeypatch.setattr(dedup, "LSH_MAX_BUCKET", 3)
    A = tuple(range(16))
    catalog = _sig_df(spark, [(i, A) for i in range(1, 11)])
    new = _sig_df(spark, [(100, A)])
    out = dedup.incremental_lsh_matches(new, catalog).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["new_id"], r["dup_of"], r["n_matches"]) == (100, 1, 3)


def test_topk_importance_matches_reference_selection(spark):
    """Pin the reference's exact selection (modeling_llama.py:860-866):
    k = max(int(n*ratio)-1, 0) TRUNCATED then clamped to n-last_len, and
    the top-k pool scores only diff[:-last_len] — a high-scoring tail
    position never displaces a non-tail candidate."""
    from proactive_map_reduce_spark.operators import topk as topk_ops

    def reference_select(scores, ratio, last_len):
        n = len(scores)
        k = max(int(n * ratio) - 1, 0)
        k = min(n - last_len, k)
        pool = scores[:-last_len]
        order = sorted(range(len(pool)), key=lambda i: (-pool[i], i))[:k]
        return {("topk", i) for i in order} | {
            ("tail", i) for i in range(n - last_len, n)
        }

    cases = [
        # n=5, ratio=0.3: int(1.5)-1 = 0 -> NO topk rows (round() gave 1)
        ([9.0, 1.0, 8.0, 2.0, 3.0], 0.3, 2),
        # high-scoring tail: pos 8,9 hold the max scores; reference still
        # picks the best NON-tail positions
        ([1, 2, 3, 4, 5, 6, 7, 8, 99, 98], 0.3, 2),
        ([5.0, 5.0, 5.0, 1.0], 0.5, 1),   # score ties -> index tiebreak
        ([1.0, 2.0], 0.9, 2),             # all-tail group
    ]
    for scores, ratio, last_len in cases:
        df = spark.createDataFrame(
            [(1, i, float(s)) for i, s in enumerate(scores)],
            "user_id int, pos int, value double",
        )
        with mock.patch.object(topk_ops, "TOPK_RATIO", ratio), mock.patch.object(
            topk_ops, "TOPK_LAST", last_len
        ):
            out = topk_ops.topk_importance(df)
        got = {(r["selected"], r["pos"]) for r in out.collect()}
        assert got == reference_select(scores, ratio, last_len), (scores, got)


def test_exact_dedup_null_content_is_not_a_duplicate(spark):
    """NULL content is unknown, not identical: each null-payload doc gets
    its own singleton cluster instead of all nulls collapsing into one
    sha2(NULL) group (whose keep-representative step would silently drop
    docs never compared)."""
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    out = {r["content_key"]: (r["rep_id"], r["n_dups"]) for r in dedup.exact_dedup(df).collect()}
    assert len(out) == 3  # one real cluster + two null singletons
    assert ("__null__:3" in out) and out["__null__:3"] == (3, 1)
    assert ("__null__:4" in out) and out["__null__:4"] == (4, 1)
    real = [v for k, v in out.items() if not k.startswith("__null__:")]
    assert real == [(1, 2)]


def test_sentence_dedup_cr_text_matches_oracle(spark):
    """Cross-engine regression for the lost-carriage-return whitespace
    class: sentence split and sentence-key normalize must agree on
    CR-bearing text (a hand-inlined oracle copy once dropped the \\r
    byte; the oracle now interpolates the shared _WS_CHARS class)."""
    import duckdb
    import pandas as pd

    from proactive_map_reduce_spark.oracles import ORACLES

    rows = [
        (1, "one two.\r\nthree four."),
        (2, "alpha beta.\tgamma delta. one two.\r\nthree four."),
        (3, "no terminator here"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_sents"], r["n_kept"], r["keep_frac"])
        for r in dedup.sentence_dedup(sdf).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(ORACLES["q_sentence_dedup"]).fetchall()
    }
    assert got == want
    assert got[1][0] == 2  # CR+LF after '.' IS a sentence boundary
    # doc 2 keeps its two unique sentences; 'one two.' / 'three four.'
    # are dropped as corpus-order duplicates of doc 1's
    assert got[2] == (4, 2, 0.5)


def test_oracle_whitespace_classes_carry_cr():
    """Every whitespace character class in the curation oracles must
    contain the \\r byte (structural pin against a re-inlined copy)."""
    import re

    from proactive_map_reduce_spark.oracles import ORACLES

    for q in ("q_sentence_dedup", "q_curation_pipeline", "q_html_strip"):
        classes = re.findall(r"\[[^]]*\t[^]]*\]", ORACLES[q])
        assert classes, q
        assert all("\r" in c for c in classes), (q, classes)


def test_connected_components_long_path_converges_logarithmically(spark, monkeypatch):
    """r8 pointer-doubling rewrite: a 120-node PATH graph (diameter 119)
    must fully converge well under the old O(diameter) round bound —
    CC_MAX_ITER=12 ≈ log2(120)+margin rounds. The fixpoint is unchanged:
    every node labeled with the component min."""
    import warnings

    from pyspark.sql import functions as F

    monkeypatch.setattr(dedup, "CC_MAX_ITER", 12)
    edges = [(i, i + 1) for i in range(119)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # non-convergence warns → fail loudly
        got = {
            (r["doc_id"], r["cluster_rep"])
            for r in dedup.connected_components(pairs).collect()
        }
    assert got == {(i, 0) for i in range(120)}


def test_connected_components_releases_round_storage(spark, monkeypatch):
    """Each CC round localCheckpoints its labels; without an explicit
    unpersist the blocks of EVERY round linger until driver GC notices,
    growing executor storage linearly in rounds (ADVICE r8). After a
    multi-round run, at most the FINAL round's checkpoint may remain
    persisted — prior rounds must have been released eagerly."""
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    edges = [(i, i + 1) for i in range(119)]  # path graph → several rounds
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    monkeypatch.setattr(dedup, "CC_MAX_ITER", 12)
    dedup.connected_components(pairs).collect()
    assert dedup.CC_STATS["rounds"] >= 3  # the loop actually iterated
    after = len(sc._jsc.sc().getRDDStorageInfo())
    # allowance: the final round's checkpoint (+ the initial one if the
    # loop exited on round 1) — NOT one block per round
    assert after - before <= 2, (before, after, dedup.CC_STATS)


# --- r13 array-HOF builder equivalence ---------------------------------------


def _mixed_corpus(spark):
    """Edge-heavy fixture: normal docs, short docs (1/2/3 words), empty
    string, null text, unicode — the cases where the array and the
    explode shingle paths could diverge."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the bank"),
        (1, "the quick brown fox jumps over the lazy dog near the bank"),
        (2, "one"),
        (3, "two words"),
        (4, "three word doc"),
        (5, ""),
        (6, None),
        (7, "naïve café Ünïcode 分词 test words here"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_minhash_arrays_matches_window_form(spark):
    """minhash_arrays must agree row-for-row with the q_minhash_signatures
    DuckDB oracle on the edge corpus — signatures exactly, and the
    ``with_sets`` payload as the oracle's distinct hashed-shingle SETS
    (array order is unspecified; every consumer is order-insensitive)."""
    import duckdb
    import pandas as pd

    from proactive_map_reduce_spark.oracles import ORACLES
    from proactive_map_reduce_spark.oracles._base import _HS, _SHINGLES

    docs = _mixed_corpus(spark)
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(docs.collect(), columns=["doc_id", "text"])
    )
    want_sig = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            "SELECT doc_id, "
            + ", ".join(f"mh_{j}" for j in range(16))
            + f" FROM ({ORACLES['q_minhash_signatures']})"
        ).fetchall()
    }
    want_sets = {
        r[0]: frozenset(r[1])
        for r in con.execute(
            f"WITH {_SHINGLES}, {_HS} SELECT doc_id, list(h0) FROM hs GROUP BY doc_id"
        ).fetchall()
    }
    got = {
        r["doc_id"]: (
            tuple(r[f"mh_{j}"] for j in range(16)),
            frozenset(r["shingles"]),
        )
        for r in dedup.minhash_arrays(docs, with_sets=True).collect()
    }
    assert {i: g[0] for i, g in got.items()} == want_sig
    assert {i: g[1] for i, g in got.items()} == want_sets
    assert 6 not in got  # null text emits no signature row


def test_simhash_hof_matches_explode_reference(spark):
    """The r13 zero-shuffle simhash (array folds) must equal the explode +
    groupBy reference it replaced, including dropping null-text docs."""
    from proactive_map_reduce_spark.functions.hashing import portable_hash64

    docs = _mixed_corpus(spark)
    bits = 32
    words = docs.select(
        F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).alias("word")
    ).select("doc_id", portable_hash64("word").alias("h"))
    aggs = [F.count("*").cast("bigint").alias("n")] + [
        F.sum(F.shiftright(F.col("h"), b) % 2).alias(f"ones_{b}")
        for b in range(bits)
    ]
    per_doc = words.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(bits):
        bal = 2 * F.col(f"ones_{b}") - F.col("n")
        term = F.when(bal >= 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    ref = {
        r["doc_id"]: r["simhash"]
        for r in per_doc.select("doc_id", sim.cast("bigint").alias("simhash")).collect()
    }
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert got == ref
    assert 6 not in got


# --- r14 barrier / null-precondition pins -------------------------------------


def test_shingle_arrays_drops_null_text(spark):
    """r14 (ADVICE): shingle_arrays filters null text itself — a null
    document must emit NO row (not a bogus shingles=[null] row callers
    had to remember to pre-filter)."""
    docs = _mixed_corpus(spark)
    rows = {r["doc_id"]: r["shingles"] for r in dedup.shingle_arrays(docs).collect()}
    assert 6 not in rows
    assert all(None not in sh for sh in rows.values())
    # short docs keep their one partial gram; empty string keeps ['']
    assert rows[2] == ["one"]
    assert rows[5] == [""]


def test_decontaminate_arrays_matches_window_form(spark):
    """The array-HOF decontamination recipe (per-doc distinct hashed-gram
    arrays, exploded through gen_barrier) must equal a plain-Python
    rollup over the shingle rule's gram sets on the edge corpus (dup docs
    → shared grams, short docs → partial grams, empty/null text,
    unicode)."""
    from proactive_map_reduce_spark.functions.hashing import portable_hash64
    from proactive_map_reduce_spark.operators.chunking import gen_barrier

    docs = _mixed_corpus(spark)
    n = 3  # 3-grams: the fixture docs are short; same recipe as n=5
    is_bench = F.col("doc_id") % 2 == 0

    grams = (
        dedup.shingle_arrays(docs, n=n)
        .select(
            "doc_id",
            F.array_distinct(
                F.transform("shingles", lambda s: portable_hash64(s))
            ).alias("__gs"),
        )
        .select("doc_id", F.explode(gen_barrier(F.col("__gs"), "bigint")).alias("g"))
    )
    train = grams.filter(~is_bench)
    bench = grams.filter(is_bench).select(F.col("doc_id").alias("bench_id"), "g")
    got = {
        r["doc_id"]: (r["n_contaminated_grams"], r["n_bench_docs_hit"])
        for r in train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").cast("bigint").alias("n_contaminated_grams"),
            F.countDistinct("bench_id").cast("bigint").alias("n_bench_docs_hit"),
        )
        .collect()
    }

    py = {i: _py_grams(t, n) for i, t in docs.collect() if t is not None}
    bench_sets = [g for i, g in py.items() if i % 2 == 0]
    want = {}
    for i, g in py.items():
        hit = {x for x in g if any(x in b for b in bench_sets)}
        if i % 2 and hit:
            want[i] = (len(hit), sum(1 for b in bench_sets if g & b))
    assert got == want and got  # non-empty: dup docs guarantee collisions
