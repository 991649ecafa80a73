"""Property tests for the closed-form chunking semantics (SURVEY §2.3).

Each closed-form Column expression is checked against a pure-Python mirror
of the reference's imperative loop, over an exhaustive grid of sizes —
one Spark job per operator, not one per example. Operators read their
sizes from module constants; a test that needs another size patches the
constant.
"""

from __future__ import annotations

from unittest import mock

from pyspark.sql import functions as F

from proactive_map_reduce_spark.operators import chunking


# --- pure-Python mirrors of the reference loops -----------------------------


def ref_equal_partition(n: int, num_steps: int) -> list[int]:
    """test_proactive.py:192-199: ps = n // num_steps, slices i*ps:(i+1)*ps,
    last chunk takes the remainder. Returns chunk id per position."""
    ps = n // num_steps
    out = []
    for pos in range(n):
        if ps == 0:
            out.append(num_steps - 1)
        else:
            out.append(min(pos // ps, num_steps - 1))
    return out


def ref_rechunk(n: int, chunk_len: int, tail_frac: float = 0.3) -> list[int]:
    """test_proactive.py:152-165: fixed windows; tail < tail_frac*chunk_len
    merges into the previous chunk (when more than one chunk exists)."""
    ids = [pos // chunk_len for pos in range(n)]
    if not ids:
        return ids
    n_chunks = ids[-1] + 1
    tail = n - (n_chunks - 1) * chunk_len
    if n_chunks > 1 and tail < tail_frac * chunk_len:
        ids = [min(i, n_chunks - 2) for i in ids]
    return ids


def ref_middle_drop(lens: list[int], budget: int) -> list[int]:
    """pipeline_70b_samsum.py:155-157 fixpoint; surviving original indices."""
    idx = list(range(len(lens)))
    lens = list(lens)
    while lens and sum(lens) > budget:
        m = len(lens) // 2
        del lens[m]
        del idx[m]
    return idx


# --- exhaustive-grid comparisons against the closed forms -------------------


def test_equal_partition_closed_form_matches_reference(spark):
    num_steps = chunking.NUM_STEPS
    rows = [(n, pos) for n in range(0, 61) for pos in range(n)]
    df = spark.createDataFrame(rows, "n int, pos int").withColumn(
        "cid", chunking.equal_partition_chunk_id(F.col("pos"), F.col("n"))
    )
    got = {(r["n"], r["pos"]): r["cid"] for r in df.collect()}
    for n in range(1, 61):
        want = ref_equal_partition(n, num_steps)
        for pos in range(n):
            assert got[(n, pos)] == want[pos], (n, pos)


def test_equal_partition_covers_all_and_contiguous(spark):
    """Every position lands in exactly one chunk; ids are non-decreasing."""
    for n in range(1, 40):
        ids = ref_equal_partition(n, 4)
        assert len(ids) == n
        assert ids == sorted(ids)
        assert ids[-1] == 3 or n < 4


def test_rechunk_closed_form_matches_reference(spark, monkeypatch):
    chunk_len = 7
    monkeypatch.setattr(chunking, "CHUNK_LEN", chunk_len)
    rows = [(n, pos) for n in range(0, 61) for pos in range(n)]
    df = spark.createDataFrame(rows, "n int, pos int").withColumn(
        "cid", chunking.rechunk_chunk_id(F.col("pos"), F.col("n"))
    )
    got = {(r["n"], r["pos"]): r["cid"] for r in df.collect()}
    for n in range(1, 61):
        want = ref_rechunk(n, chunk_len)
        for pos in range(n):
            assert got[(n, pos)] == want[pos], (n, pos)


def test_rechunk_tail_merge_invariant():
    """After merging, the final chunk is never shorter than tail_frac*len
    unless the document itself is a single short chunk."""
    chunk_len, tail_frac = 10, 0.3
    for n in range(1, 200):
        ids = ref_rechunk(n, chunk_len, tail_frac)
        sizes = {}
        for i in ids:
            sizes[i] = sizes.get(i, 0) + 1
        last = sizes[max(sizes)]
        if len(sizes) > 1:
            assert last >= tail_frac * chunk_len
        # concatenation preserved: sizes sum to n
        assert sum(sizes.values()) == n


def test_middle_drop_matches_reference_udf(spark):
    cases = [
        [5, 5, 5, 5, 5],
        [10, 20, 30, 40],
        [100],
        [1] * 50,
        [60, 1, 1],
        [],
    ]
    budget = 30
    rows = [(i, lens) for i, lens in enumerate(cases)]
    df = spark.createDataFrame(rows, "case_id int, lens array<int>").select(
        "case_id",
        chunking._middle_drop_surviving(F.col("lens"), F.lit(budget)).alias("surv"),
    )
    got = {r["case_id"]: r["surv"] for r in df.collect()}
    for i, lens in enumerate(cases):
        assert got[i] == ref_middle_drop(lens, budget), lens


def test_middle_drop_preserves_head_and_tail():
    """Budget truncation keeps the first and last chunks longest (the point
    of middle-drop: preserve head & tail context)."""
    for lens in ([5] * 20, [3, 9, 1, 7, 2, 8, 4]):
        surv = ref_middle_drop(list(lens), 15)
        if surv:
            assert surv[0] == 0
            assert surv[-1] == len(lens) - 1 or len(surv) == 1


def test_partition_equal_reassembles_to_original(spark):
    """concat of chunk_text in chunk order == original text."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k"), (2, "x y z"), (3, "solo")],
        "doc_id int, text string",
    )
    chunks = chunking.partition_equal_arrays(docs, 4)
    joined = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("rebuilt")
        )
        .join(docs, "doc_id")
    )
    for r in joined.collect():
        assert r["rebuilt"] == r["text"], r["doc_id"]


def test_positional_shift_is_exclusive_prefix_sum(spark):
    df = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 20), (1, 2, 5), (2, 0, 7)],
        "doc_id int, chunk_id int, n_tokens long",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r["shift"]
        for r in chunking.positional_shift(df).collect()
    }
    assert got == {(1, 0): 0, (1, 1): 10, (1, 2): 30, (2, 0): 0}


def test_partition_equal_arrays_matches_grouped_form(spark):
    """C1 rows equal the reference's equal-partition rule
    (test_proactive.py:192-199) written inline: partition_size =
    n // num_steps, chunk i is words[i*ps:(i+1)*ps], the LAST chunk takes
    the remainder, and empty chunks are not emitted."""
    lengths = [1, 3, 4, 5, 9, 17, 40]
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(lengths)],
        "doc_id long, text string",
    )
    num_steps = 4
    want = {}
    for i, n in enumerate(lengths):
        ws = [f"w{j}" for j in range(n)]
        ps = n // num_steps
        for c in range(num_steps):
            part = ws[c * ps :] if c == num_steps - 1 else ws[c * ps : (c + 1) * ps]
            if part:
                want[(i, c)] = (" ".join(part), len(part))
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_words"])
        for r in chunking.partition_equal_arrays(docs, num_steps).collect()
    }
    assert got == want


def test_ratio_schedule_from_target_matches_reference_loop(spark):
    """C4 reference parameterization (test_proactive.py:141-147): the
    increment is derived from (low, num_doc, target ratio) by the
    engine's ``derived_increment``. The ramp the C4 queries build from it
    must be bit-equal (up to the engine-wide 6-dp display round) to the
    reference loop re-derived here in pure Python."""
    from pyspark.sql import functions as F

    def reference_split_ratio(low, num_doc, ratio):
        out, increment = [], (2 * ratio - low) / num_doc
        for i in range(num_doc):
            out.append(min(low + i * increment, 1.0))
        return out

    for low, n, target in ((0.1, 4, 0.45), (0.2, 6, 0.6), (0.0, 3, 0.9), (0.3, 5, 0.8)):
        with mock.patch.multiple(
            chunking, RATIO_TLOW=low, NUM_STEPS=n, RATIO_TARGET=target
        ):
            inc = chunking.derived_increment()
        rows = spark.range(n).select(
            "id",
            F.round(
                F.least(F.lit(low) + F.col("id") * F.lit(inc), F.lit(1.0)), 6
            ).alias("r"),
        )
        got = [r["r"] for r in sorted(rows.collect())]
        exp = [round(v, 6) for v in reference_split_ratio(low, n, target)]
        assert got == exp, (low, n, target)


def test_rechunk_short_doc_is_single_chunk(spark, monkeypatch):
    """Deliberate deviation from the reference (test_proactive.py:152-165
    raises IndexError when the whole input is shorter than
    0.3*chunk_len): a short document is its own single chunk."""
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.operators import chunking

    monkeypatch.setattr(chunking, "CHUNK_LEN", 100)
    docs = spark.createDataFrame([(1, "just two")], ["doc_id", "text"])
    out = chunking.rechunk_fixed(chunking.split_words(docs)).collect()
    assert [(r["doc_id"], r["chunk_id"], r["n_tokens"]) for r in out] == [(1, 0, 2)]


def test_prefix_scan_refeed_exact_strings(spark):
    """R2 v2 (test_proactive_2.py:231): stage n input = chunks 0..n +
    outputs 0..n-1; stage 0 gets no trailing separator."""
    from proactive_map_reduce_spark.operators import reduce as red

    chunks = spark.createDataFrame(
        [(1, 0, "a b"), (1, 1, "c"), (2, 0, "x")],
        ["doc_id", "chunk_id", "chunk_text"],
    )
    mapped = spark.createDataFrame(
        [(1, 0, "b a"), (1, 1, "c"), (2, 0, "x")],
        ["doc_id", "chunk_id", "out_text"],
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r["stage_input"]
        for r in red.prefix_scan_refeed(chunks, mapped).collect()
    }
    assert got == {
        (1, 0): "a b",            # no prior output, no separator
        (1, 1): "a b c b a",      # chunks 0..1 + output of stage 0
        (2, 0): "x",
    }
