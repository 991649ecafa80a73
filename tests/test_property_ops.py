"""Randomized model-based tests for the custom join/selection operators.

Each operator is compared against a direct pure-Python brute-force model
on hypothesis-generated inputs. The fixed-fixture oracle gate proves
cross-engine agreement on realistic data; these prove the OPERATOR
CONTRACT itself on the adversarial shapes fixtures rarely contain —
duplicate timestamps, exact window boundaries, keys with one empty
side, tail-vs-k collisions. One Spark job covers many random groups per
example (per-example Spark overhead dominates, so examples are few and
wide rather than many and narrow). An operator that reads a module
constant (the join window, the top-k ratio, the sketch sizes) gets the
drawn value patched into that constant for the call.
"""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from proactive_map_reduce_spark.operators.asof import asof_join
from proactive_map_reduce_spark.operators import rangejoin
from proactive_map_reduce_spark.operators import topk as topk_ops

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, ts) event rows: few keys, tight ts range → plenty of duplicate
# timestamps and boundary collisions
_rows = st.lists(
    st.tuples(
        st.integers(0, 3),          # key
        st.integers(0, 20),         # ts (micros)
        st.integers(0, 1_000_000),  # payload
    ),
    min_size=0,
    max_size=40,
)

_EV_SCHEMA = StructType(
    [
        StructField("user_id", IntegerType(), False),
        StructField("ts", LongType(), False),
        StructField("v", LongType(), False),
    ]
)


@SLOW
@given(left=_rows, right=_rows)
def test_asof_join_matches_bruteforce(spark, left, right):
    """Backward as-of: for each left row, the right row with the max
    (ts, payload) among same-key rows with ts <= left ts (the payload
    tie-break mirrors the operator's documented struct ordering)."""
    ldf = spark.createDataFrame([(k, t, v) for k, t, v in left], _EV_SCHEMA)
    rdf = spark.createDataFrame([(k, t, v) for k, t, v in right], _EV_SCHEMA)
    got = sorted(
        (r["user_id"], r["ts"], r["v"], r["r_v"])
        for r in asof_join(ldf, rdf)
        .select("user_id", "ts", "v", "r_v")
        .collect()
    )
    exp = []
    for k, t, v in left:
        cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
        exp.append((k, t, v, max(cands)[1] if cands else None))
    assert got == sorted(exp)


@SLOW
@given(left=_rows, right=_rows, w=st.integers(1, 7))
def test_interval_join_matches_bruteforce(spark, left, right, w):
    """Inner interval join: every same-key pair with |lt - rt| <= W,
    inclusive at both boundaries, no duplicates from bucket overlap."""
    ldf = spark.createDataFrame(
        [(k, t, v) for k, t, v in left], _EV_SCHEMA
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    rdf = spark.createDataFrame(
        [(k, t, v) for k, t, v in right], _EV_SCHEMA
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    with mock.patch.object(rangejoin, "WITHIN_US", w):
        out = rangejoin.interval_join(ldf, rdf)
    got = sorted(
        (
            r["user_id"],
            r["ts"].timestamp() * 1_000_000,
            r["v"],
            r["r_ts"].timestamp() * 1_000_000,
            r["r_v"],
        )
        for r in out.select("user_id", "ts", "v", "r_ts", "r_v").collect()
    )
    got = sorted((k, round(lt), lv, round(rt), rv) for k, lt, lv, rt, rv in got)
    exp = sorted(
        (k, lt, lv, rt, rv)
        for k, lt, lv in left
        for rk, rt, rv in right
        if rk == k and abs(lt - rt) <= w
    )
    assert got == exp


# topk groups: (group, [score per position]); position is the list index
_groups = st.dictionaries(
    st.integers(0, 4),
    st.lists(st.integers(0, 9), min_size=1, max_size=12),
    min_size=1,
    max_size=5,
)


@SLOW
@given(
    groups=_groups,
    ratio=st.sampled_from([0.0, 0.1, 0.3, 0.5, 0.9, 1.0]),
    last_len=st.integers(0, 4),
)
def test_topk_importance_matches_bruteforce(spark, groups, ratio, last_len):
    """Reference selection rule (modeling_llama.py:860-869): always keep
    the last `last_len` positions; additionally keep the top
    k = clamp(int(ratio*n) - 1, 0, n - last_len) NON-TAIL positions by
    (score desc, position asc). Small integer scores force ties."""
    rows = [
        (g, pos, float(s))
        for g, scores in groups.items()
        for pos, s in enumerate(scores)
    ]
    df = spark.createDataFrame(rows, ["user_id", "pos", "value"])
    with mock.patch.object(topk_ops, "TOPK_RATIO", ratio), mock.patch.object(
        topk_ops, "TOPK_LAST", last_len
    ):
        out = topk_ops.topk_importance(df)
    got = sorted((r["user_id"], r["pos"], r["selected"]) for r in out.collect())

    exp = []
    for g, scores in groups.items():
        n = len(scores)
        k = max(int(ratio * n) - 1, 0)
        k = min(n - last_len, k)
        tail_start = n - last_len
        nontail = sorted(
            (p for p in range(n) if p < tail_start),
            key=lambda p: (-scores[p], p),
        )
        exp.extend((g, p, "topk") for p in nontail[:k])
        exp.extend((g, p, "tail") for p in range(max(tail_start, 0), n))
    assert got == sorted(exp)


def test_asof_join_all_left_before_right(spark):
    """Every left row precedes every right row → all matches null."""
    ldf = spark.createDataFrame([(1, 1, 10), (1, 2, 20)], _EV_SCHEMA)
    rdf = spark.createDataFrame([(1, 5, 99)], _EV_SCHEMA)
    rows = asof_join(ldf, rdf).select("r_v").collect()
    assert [r["r_v"] for r in rows] == [None, None]


def test_interval_join_exact_boundary_inclusive(spark):
    """|lt - rt| == W must match (the bucket-edge case the exact filter
    re-admits after expansion)."""
    mk = lambda rows: spark.createDataFrame(rows, _EV_SCHEMA).withColumn(
        "ts", F.timestamp_micros(F.col("ts"))
    )
    with mock.patch.object(rangejoin, "WITHIN_US", 7):
        out = rangejoin.interval_join(mk([(1, 10, 1)]), mk([(1, 3, 2), (1, 17, 3)]))
    assert sorted(r["r_v"] for r in out.collect()) == [2, 3]


@SLOW
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2**32 - 1)),
        min_size=0,
        max_size=60,
        unique=True,
    ),
    k=st.sampled_from([1, 4, 16]),
)
def test_kmv_exact_branch_and_partition_independence(spark, rows, k):
    """kmv_distinct's two contracts on arbitrary distinct (group, hash)
    sets: (a) a group with fewer than k distinct hashes answers EXACTLY;
    (b) the answer is identical at 1 and 7 physical partitions (the
    two-level min-k must be a pure locality optimization)."""
    from proactive_map_reduce_spark.operators import sketch as sk

    if not rows:
        return
    df = spark.createDataFrame(rows, ["lang", "h"]).dropDuplicates(["lang", "h"])
    got = {}
    with mock.patch.object(sk, "SKETCH_KMV_K", k):
        for parts in (1, 7):
            got[parts] = {
                r["lang"]: r["approx_distinct_words"]
                for r in sk.kmv_distinct(df.repartition(parts)).collect()
            }
    assert got[1] == got[7]
    from collections import defaultdict

    exact = defaultdict(set)
    for g, h in rows:
        exact[g].add(h)
    for g, hs in exact.items():
        if len(hs) < k:
            assert got[1][g] == len(hs), (g, k)


@SLOW
@given(
    rows=st.lists(st.integers(0, 500), min_size=1, max_size=50),
    bins=st.sampled_from([4, 16, 64]),
)
def test_histogram_quantiles_bracket_and_convention(spark, rows, bins):
    """histogram_quantiles on one group: each reported pXX is the LOWER
    BOUND of the bin where the cumulative count first covers p·n under
    the pinned crossing convention (prev_cum < p·n), recomputed here in
    pure Python over the same equi-width integer bins."""
    from proactive_map_reduce_spark.operators import sketch as sk

    df = spark.createDataFrame([(1, v) for v in rows], ["lang", "n_chars"])
    with mock.patch.object(sk, "SKETCH_BINS", bins):
        out = sk.histogram_quantiles(df).collect()[0]

    lo, hi, n = min(rows), max(rows), len(rows)
    width = hi - lo + 1
    counts = {}
    for v in rows:
        b = (v - lo) * bins // width
        counts[b] = counts.get(b, 0) + 1
    for p, col in ((0.25, "p25"), (0.50, "p50"), (0.75, "p75")):
        cum = 0
        hit = None
        for b in sorted(counts):
            if cum < p * n:
                hit = b
            cum += counts[b]
        # smallest value whose bin is `hit`: lo + ceil(hit*width/bins)
        exp = lo + -((-hit * width) // bins)
        assert out[col] == exp, (p, rows, bins)


# interarrival events: few users, tight microsecond range → duplicate
# timestamps, events exactly on slice boundaries, empty slices between
# consecutive events
_ia_rows = st.lists(
    st.tuples(
        st.integers(0, 3),    # user_id
        st.integers(0, 100),  # ts micros
    ),
    min_size=0,
    max_size=40,
)


@SLOW
@given(rows=_ia_rows)
def test_interarrival_chunked_slice_width_invariance(spark, rows):
    """The chunked interarrival decomposition must equal a pure-Python
    fold over each user's (ts, event_id)-ordered history at EVERY slice
    width: 1 µs (every event its own slice — all gaps cross boundaries,
    the per-slice table is as big as the input), awkward mid widths (7,
    13 µs: boundaries land mid-burst), and one wider than the whole data
    range (a single slice — degenerates to the plain single-window
    plan). Slice width is a parallelism knob; any width-dependence in
    the values is a decomposition bug."""
    import datetime as dt

    from pyspark.sql.types import StructField, StructType, TimestampType

    from proactive_map_reduce_spark.queries.relational import interarrival_chunked

    base = dt.datetime(2024, 1, 1)
    data = [
        (i + 1, base + dt.timedelta(microseconds=t), u)
        for i, (u, t) in enumerate(rows)
    ]
    schema = StructType(
        [
            StructField("event_id", LongType(), False),
            StructField("ts", TimestampType(), False),
            StructField("user_id", LongType(), False),
        ]
    )
    df = spark.createDataFrame(data, schema)

    # pure-Python model: per user, gaps over the (ts, event_id) order
    epoch = dt.datetime(1970, 1, 1)
    per_user: dict[int, list[tuple[int, int]]] = {}
    for eid, ts, u in data:
        us = round((ts - epoch).total_seconds() * 1e6)
        per_user.setdefault(u, []).append((us, eid))
    expect = {}
    for u, evs in per_user.items():
        evs.sort()
        gaps = [b[0] - a[0] for a, b in zip(evs, evs[1:])]
        if not gaps:
            continue
        expect[u] = (
            len(gaps),
            # same IEEE op sequence as both engines' mean
            sum(gaps) / len(gaps) / 1e6,
            max(gaps),
            sum(1 for g in gaps if g < 60_000_000),
        )

    for width in (1, 7, 13, 10**9):
        got = {
            r.user_id: (r.n_gaps, r.mean_gap_s, r.max_gap_us, r.n_bursts)
            for r in interarrival_chunked(df, slice_us=width).collect()
        }
        assert got == expect, f"slice_us={width}"


# --- r9: the JVM refeed fold vs the Python reference fold ---------------

_fold_rows = st.lists(
    st.tuples(
        st.integers(0, 3),                    # doc_id
        st.integers(0, 3),                    # batch_id
        st.integers(0, 7),                    # chunk_id
        st.one_of(                            # out_text incl. the traps:
            st.none(),                        # None → coalesce('')
            st.just(""),                      # empty → counts 0 words
            st.just("a  b"),                  # double space → empty token
            st.text(
                alphabet="ab é☃ ", min_size=0, max_size=12
            ),                                # unicode + spaces
        ),
    ),
    min_size=0,
    max_size=24,
)


@SLOW
@given(rows=_fold_rows)
def test_refeed_fold_expression_matches_python_fold(spark, rows):
    """streaming/proactive._REFEED_FOLD (the JVM aggregate() the batched
    refeed runner folds with) must reproduce the per-key _refeed state
    function's arithmetic EXACTLY for arbitrary inputs: md5-chain over
    utf-8, word counts that drop empty tokens, None→'' coalescing, and
    (batch_id, chunk_id) fold order. Any divergence changes every later
    chain hash, so one surviving example is a complete witness."""
    import hashlib

    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.streaming.proactive import _REFEED_FOLD

    df = spark.createDataFrame(
        rows, "doc_id long, batch_id int, chunk_id int, out_text string"
    )
    got = sorted(
        map(
            tuple,
            df.groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("batch_id", "chunk_id", "out_text"))
                ).alias("xs")
            )
            .select("doc_id", F.explode(F.expr(_REFEED_FOLD)).alias("e"))
            .select(
                "doc_id", "e.chunk_id", "e.acc_words_before", "e.chain",
                "e.batch_id",
            )
            .collect(),
        )
    )
    expect = []
    state: dict = {}
    for d, b, c, t in sorted(rows, key=lambda r: (r[0], r[1], r[2], r[3] or "")):
        acc, chain = state.get(d, (0, ""))
        chain = hashlib.md5((chain + (t or "")).encode("utf-8")).hexdigest()[:8]
        expect.append((d, c, acc, chain, b))
        state[d] = (acc + len([w for w in (t or "").split(" ") if w]), chain)
    assert got == sorted(expect)


@SLOW
@given(rows=_fold_rows, cut=st.integers(0, 3))
def test_seeded_refeed_fold_composes_with_zero_seed_fold(spark, rows, cut):
    """The r10 compacted runner folds each micro-batch on top of the
    PERSISTED per-doc (chain, acc_words) seed instead of re-folding full
    history. That is sound iff sequential-fold composition holds:
    fold(suffix, seed=fold_state(prefix)) must emit exactly the suffix
    of fold(whole, zero seed) — for every split point, including empty
    prefixes/suffixes and the None/''/double-space/unicode traps."""
    from proactive_map_reduce_spark.streaming.proactive import (
        _REFEED_FOLD,
        _refeed_fold,
    )

    df = spark.createDataFrame(
        rows, "doc_id long, batch_id int, chunk_id int, out_text string"
    )

    def _xs(frame):
        return frame.groupBy("doc_id").agg(
            F.sort_array(
                F.collect_list(F.struct("batch_id", "chunk_id", "out_text"))
            ).alias("xs")
        )

    def _ems(frame, fold_sql):
        return sorted(
            map(
                tuple,
                frame.select("doc_id", F.explode(F.expr(fold_sql)).alias("e"))
                .select(
                    "doc_id", "e.chunk_id", "e.acc_words_before", "e.chain",
                    "e.batch_id",
                )
                .collect(),
            )
        )

    whole = _ems(_xs(df), _REFEED_FOLD)
    want_suffix = sorted(r for r in whole if r[4] > cut)

    # prefix state per doc: the zero-seed fold's final (chain, acc)
    pre = _xs(df.filter(F.col("batch_id") <= cut)).select(
        "doc_id",
        F.expr(_refeed_fold("''", "0", "s -> s")).alias("f"),
    ).select("doc_id", F.col("f.chain").alias("chain"), F.col("f.acc").alias("acc_words"))
    suf = _xs(df.filter(F.col("batch_id") > cut))
    seeded = suf.join(pre, "doc_id", "left_outer")
    got_suffix = _ems(
        seeded,
        _refeed_fold("coalesce(chain, '')", "coalesce(acc_words, 0)"),
    )
    assert got_suffix == want_suffix
