"""Null/empty/degenerate-input robustness for the core operators."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from proactive_map_reduce_spark.operators import chunking, dedup, mapstage
from proactive_map_reduce_spark.operators import reduce as red
from tests.test_chunking import ref_middle_drop


@given(st.lists(st.integers(min_value=0, max_value=100), max_size=30),
       st.integers(min_value=1, max_value=200))
@settings(max_examples=150, deadline=None)
def test_middle_drop_reference_properties(lens, budget):
    surv = ref_middle_drop(lens, budget)
    # survivors are a subsequence of the original indices
    assert surv == sorted(surv)
    kept = sum(lens[i] for i in surv)
    # fixpoint: either within budget, or a single surviving chunk
    # (the loop can't go below one chunk unless everything was deleted)
    assert kept <= budget or len(surv) == 1 or all(x == 0 for x in lens)


def test_empty_documents_flow_through(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a b c d")], "doc_id long, text string"
    )
    # empty text splits to [''] → one 1-word chunk; nothing crashes downstream
    chunks = chunking.partition_equal_arrays(docs, 4)
    assert chunks.count() >= 3
    mapped = mapstage.llm_map(chunks)
    final = red.incremental_concat(mapped)
    assert final.count() == 3


def test_single_word_document_chunking(spark):
    docs = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    chunks = chunking.partition_equal_arrays(docs, 4)
    rows = chunks.collect()
    assert len(rows) == 1
    # ps = 0 → everything in the last chunk (reference loop semantics)
    assert rows[0]["chunk_id"] == 3


def test_null_text_in_map_stage(spark):
    df = spark.createDataFrame(
        [(1, 0, None), (1, 1, "x y")], "doc_id long, chunk_id int, chunk_text string"
    )
    out = {r["chunk_id"]: r["out_text"] for r in mapstage.llm_map(df).collect()}
    assert out[1] == "y x"
    assert out[0] is None  # nulls pass through, not crash


def test_standin_model_keeps_ids_aligned_on_reindexed_batch():
    """A pandas batch with a foreign, shuffled and duplicated index: each
    output row keeps its own row's ids, and the frame gets a fresh index
    instead of carrying the input's."""
    import pandas as pd

    batch = pd.DataFrame(
        {
            "doc_id": [10, 20, 30, 40],
            "chunk_id": [3, 1, 2, 0],
            "chunk_text": ["a b", "c d e", None, "f"],
        },
        index=[7, 3, 7, 0],
    )
    out = mapstage.standin_model(batch)
    assert list(out.index) == [0, 1, 2, 3]
    assert list(zip(out["doc_id"], out["chunk_id"], out["out_text"])) == [
        (10, 3, "b a"),
        (20, 1, "e d c"),
        (30, 2, None),
        (40, 0, "f"),
    ]
    assert list(out["n_out_tokens"]) == [2, 3, 0, 1]


def test_dedup_on_empty_dataframe(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.exact_dedup(empty).count() == 0
    assert dedup.simhash(empty).count() == 0


def test_minhash_single_doc_no_pairs(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    sig = dedup.minhash_arrays(docs, with_sets=True)
    pairs = dedup.lsh_candidate_pairs(sig)
    assert pairs.count() == 0


def test_corrupt_json_lines_quarantined_not_fatal(spark):
    """PERMISSIVE JSON reads must quarantine corrupt lines into
    _corrupt_record and keep every valid row — the behavior a 100 TB
    ingest depends on (one bad line in a billion must not kill the job,
    and must be auditable afterwards)."""
    import tempfile

    path = tempfile.mkdtemp(prefix="pmr_corrupt_") + "/data.jsonl"
    good = ['{"doc_id": %d, "text": "row %d"}' % (i, i) for i in range(10)]
    bad = ['{"doc_id": 100, "text": "unterminated', "not json at all", "{]"]
    with open(path, "w") as f:
        f.write("\n".join(good[:5] + bad[:1] + good[5:] + bad[1:]) + "\n")

    df = spark.read.schema(
        "doc_id bigint, text string, _corrupt_record string"
    ).json(path)
    rows = df.collect()
    valid = [r for r in rows if r["_corrupt_record"] is None]
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(valid) == 10 and len(corrupt) == 3
    assert {r["doc_id"] for r in valid} == set(range(10))
    # FAILFAST is the opposite contract: the same file must raise
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError  # noqa: F401

    with _pytest.raises(Exception):
        spark.read.schema("doc_id bigint, text string").option(
            "mode", "FAILFAST"
        ).json(path).collect()


def test_parquet_schema_evolution_merge(spark):
    """A dataset whose later files gained a column must read cleanly with
    mergeSchema: old rows surface NULL for the new column, new rows keep
    it — the append-only evolution contract of a long-lived 100 TB
    dataset (schema-on-read, no rewrite of history)."""
    import tempfile

    root = tempfile.mkdtemp(prefix="pmr_evolve_") + "/data"
    spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], "doc_id long, text string"
    ).write.parquet(root)
    spark.createDataFrame(
        [(2, "gamma", "en")], "doc_id long, text string, lang string"
    ).write.mode("append").parquet(root)

    df = spark.read.option("mergeSchema", True).parquet(root)
    assert set(df.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[0]["lang"] is None and rows[2]["lang"] == "en"
    # without mergeSchema the read still succeeds on a sampled schema;
    # with an explicit schema the new column is simply projected
    explicit = spark.read.schema("doc_id long, lang string").parquet(root)
    got = {r["doc_id"]: r["lang"] for r in explicit.collect()}
    assert got == {0: None, 1: None, 2: "en"}


def test_ansi_arithmetic_and_try_escape_hatches(spark):
    """Spark 4 runs ANSI mode by default: integer division by zero and
    long overflow RAISE instead of silently returning null/wrapping.
    Pipelines that prefer null-propagation use the try_* family — pin
    both behaviors so an accidental ansi.enabled=false (which would
    silently change query semantics engine-wide) fails here."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.lit(1).alias("one"), F.lit(0).alias("zero"),
        F.lit(9223372036854775807).alias("maxlong"),
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with _pytest.raises(Exception):
        df.select((F.col("one") / F.col("zero")).cast("long")).collect()
    with _pytest.raises(Exception):
        df.select(F.col("maxlong") + 1).collect()
    r = df.select(
        F.try_divide("one", "zero").alias("d"),
        F.try_add("maxlong", F.lit(1)).alias("a"),
    ).first()
    assert r["d"] is None and r["a"] is None


# --- LSH cap property tests: capped output vs a pure-Python reference -------

def _ref_banded_pairs(sigs: dict[int, list[int]], bands=4, rows_per_band=4):
    """Reference full LSH expansion: bucket by the band's raw value tuple
    (equivalent to hashing the concat, minus astronomically-unlikely md5
    collisions), emit all i<j pairs per bucket."""
    pairs = set()
    for b in range(bands):
        buckets: dict[tuple, list[int]] = {}
        for d, mh in sigs.items():
            key = tuple(mh[b * rows_per_band:(b + 1) * rows_per_band])
            buckets.setdefault(key, []).append(d)
        for ids in buckets.values():
            ids = sorted(ids)
            for i in range(len(ids)):
                for j in range(i + 1, len(ids)):
                    pairs.add((ids[i], ids[j]))
    return pairs


def _components(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    out = {}
    for n in nodes:
        out.setdefault(find(n), set()).add(n)
    return {frozenset(v) for v in out.values()}


def _sig_df(spark, sigs):
    rows = [tuple([d] + mh) for d, mh in sigs.items()]
    return spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"mh_{j} long" for j in range(16))
    )


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.lists(st.integers(min_value=0, max_value=2), min_size=16, max_size=16),
        min_size=1,
        max_size=18,
    )
)
@settings(max_examples=12, deadline=None)
def test_lsh_cap_equals_full_expansion_under_cap(spark, hyp_sigs):
    """With max_bucket >= any bucket size, the capped operator's output is
    exactly the reference full banded expansion."""
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(
            _sig_df(spark, hyp_sigs), max_bucket=1000
        ).collect()
    }
    assert got == _ref_banded_pairs(hyp_sigs)


@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=40),
        st.lists(st.integers(min_value=0, max_value=1), min_size=16, max_size=16),
        min_size=2,
        max_size=18,
    ),
    st.integers(min_value=2, max_value=6),
)
@settings(max_examples=12, deadline=None)
def test_lsh_cap_preserves_components(spark, hyp_sigs, max_bucket):
    """Any cap value: the capped pair set yields the SAME connected
    components as full expansion (star links keep clusters whole), and
    every emitted pair is orientation-valid (doc_a < doc_b)."""
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(
            _sig_df(spark, hyp_sigs), max_bucket=max_bucket
        ).collect()
    }
    full = _ref_banded_pairs(hyp_sigs)
    assert all(a < b for a, b in got)
    assert got <= full  # the cap only removes pairs, never invents them
    nodes = set(hyp_sigs)
    assert _components(got, nodes) == _components(full, nodes)


def test_text_corpus_roundtrip_null_and_empty_docs_match_oracle(spark, tmp_path):
    """NULL/empty documents write zero-byte files, which the wholetext
    reader yields NO row for — the oracle mirrors the reader (excludes
    them), not the parquet row. Also exercises the content-fingerprint
    cache key: a regenerated fixture at the same path must not serve a
    stale corpus."""
    import duckdb
    import os

    from proactive_map_reduce_spark.oracles import ORACLES
    from proactive_map_reduce_spark.queries import REGISTRY

    sf = str(tmp_path)
    rows = [(1, "hello world", "en", 11), (2, None, "en", 0), (3, "", "fr", 0)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = sorted(
        tuple(r) for r in REGISTRY["q_scan_text_corpus"](spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf, 'documents.parquet')}/*.parquet'"
    )
    want = sorted(
        tuple(r) for r in con.execute(ORACLES["q_scan_text_corpus"]).fetchall()
    )
    assert got == want == [(1, 11, 2)]
    # regenerate the fixture in place: the round-trip must see NEW content
    con.close()
    spark.createDataFrame(
        [(7, "fresh text", "en", 10)],
        "doc_id long, text string, lang string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got2 = sorted(
        tuple(r) for r in REGISTRY["q_scan_text_corpus"](spark, sf).collect()
    )
    assert got2 == [(7, 10, 2)]


def test_jvm_locale_pinned_under_turkish_env():
    """ADVICE r6 (session.py): Spark's non-ASCII lower()/upper() delegates
    to java.lang.String.toLowerCase(Locale.getDefault()); under a Turkish
    JVM locale 'I'→'ı' and 'İ'→'i' (no combining dot), breaking the İ
    full-casing engine-agreement contract in oracles/reference_ops.py.
    get_spark pins -Duser.language=en -Duser.country=US on the builder;
    this launches a FRESH JVM under a Turkish locale env (the path a
    foreign deployment would take) and asserts both the pinned default
    locale and the casing contract survive."""
    import os
    import subprocess
    import sys

    code = (
        "from proactive_map_reduce_spark.session import get_spark\n"
        "s = get_spark('locale-pin-test')\n"
        "r = s.sql(\"select lower('\\u0130') a, lower('I') b\").collect()[0]\n"
        "loc = s._jvm.java.util.Locale.getDefault().toString()\n"
        "print('LOCALE=' + loc)\n"
        "print('LOWER_IDOT=' + ','.join(hex(ord(c)) for c in r.a))\n"
        "print('LOWER_I=' + ','.join(hex(ord(c)) for c in r.b))\n"
        "s.stop()\n"
    )
    env = dict(os.environ)
    env.update({"LANG": "tr_TR.UTF-8", "LC_ALL": "tr_TR.UTF-8",
                "SPARK_GRAFT_CPUS": "2"})
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=root,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "LOCALE=en_US" in out.stdout
    # full casing: 'İ' → 'i' + COMBINING DOT ABOVE; ASCII 'I' → plain 'i'
    assert "LOWER_IDOT=0x69,0x307" in out.stdout
    assert "LOWER_I=0x69" in out.stdout


def test_interarrival_chunked_equals_plain(spark, tmp_path):
    """The hot-key-parallel chunked interarrival plan must produce the
    IDENTICAL result set as the single-window plain form — including on
    a fixture built to stress every chunking edge: events exactly ON a
    slice boundary, equal-ts ties (ordering falls to event_id; gap 0),
    a user whose consecutive events straddle several EMPTY slices (lag
    must land on the previous non-empty slice), a single-event user (no
    gaps), and a hot user owning most rows."""
    import datetime as dt

    from proactive_map_reduce_spark.queries.relational import (
        q_event_interarrival,
        q_event_interarrival_chunked,
    )

    SLICE_US = 6 * 3600 * 1_000_000
    base = dt.datetime(2024, 1, 1)
    us = lambda n: base + dt.timedelta(microseconds=n)
    rows = []
    eid = 0

    def ev(uid, t):
        nonlocal eid
        eid += 1
        rows.append((eid, t, uid, "t", 1.0, "{}"))

    # hot user 1: many events, some inside one slice, some on exact
    # slice boundaries, a pair of equal-ts ties
    for k in range(50):
        ev(1, us(k * 1_000_000))            # 1 s apart inside slice 0
    ev(1, us(SLICE_US))                      # exactly on the boundary
    ev(1, us(SLICE_US))                      # equal-ts tie (gap 0)
    ev(1, us(SLICE_US + 59_000_000))         # burst-threshold-adjacent
    ev(1, us(SLICE_US + 61_000_000))         # just over 60 s
    # user 2: events straddling three empty slices
    ev(2, us(0))
    ev(2, us(4 * SLICE_US + 7))
    ev(2, us(9 * SLICE_US))
    # user 3: single event → zero gaps → absent from both outputs
    ev(3, us(123))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string"
    )
    sf = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/events.parquet")
    plain = {r.user_id: r.asDict() for r in q_event_interarrival(spark, sf).collect()}
    chunk = {r.user_id: r.asDict() for r in
             q_event_interarrival_chunked(spark, sf).collect()}
    assert plain == chunk
    assert set(plain) == {1, 2}
    assert plain[1]["n_gaps"] == 53
    assert plain[2]["n_gaps"] == 2
    # real fixture too: full-row equality across the two plans
    sf_real = "/root/testdata/sf0.001"
    a = sorted(map(tuple, q_event_interarrival(spark, sf_real).collect()))
    b = sorted(map(tuple, q_event_interarrival_chunked(spark, sf_real).collect()))
    assert a == b


def test_tune_for_input_regimes(spark):
    """session.tune_for_input: interactive inputs (< INTERACTIVE_BYTES)
    get the small-query path (AQE off, partitions sized from bytes,
    floored at 4 and capped at cores); large inputs restore the
    production defaults (AQE on, partitions = cores). Hash-invariance of
    the switch is separately proven by the aqe_off / shuffle7 / local8
    probe rows in CONFIG_INVARIANCE.json."""
    from proactive_map_reduce_spark import session as S

    cores = S.default_parallelism()
    S.tune_for_input(spark, 17 * (1 << 20))  # the sf0.1 fixture scale
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # clamp(bytes // 2 MiB, 4, cores) — computed, not the literal '8',
    # so SPARK_GRAFT_CPUS < 8 environments don't fail spuriously
    # (ADVICE r7)
    expect = max(4, min(cores, (17 * (1 << 20)) // (2 << 20)))
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(expect)
    S.tune_for_input(spark, 1 << 10)  # tiny: the floor of 4 applies
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    S.tune_for_input(spark, 100 << 30)  # 100 GiB: production regime
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cores)
    # path form: the real sf0.001 dir is far under the threshold
    S.tune_for_input(spark, "/root/testdata/sf0.001")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    # restore the shared test session's confs for later tests
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "4")


def test_java_options_append_env_base():
    """ADVICE r7 (session.py): deployment-provided JVM options
    (SPARK_GRAFT_JAVA_OPTS) are PRESERVED ahead of the locale pin rather
    than clobbered; with no env the options are exactly the pin."""
    import os

    from proactive_map_reduce_spark import session as S

    saved = os.environ.pop("SPARK_GRAFT_JAVA_OPTS", None)
    try:
        assert S._java_options() == S.LOCALE_PIN
        os.environ["SPARK_GRAFT_JAVA_OPTS"] = "-XX:+UseG1GC -Xss4m"
        opts = S._java_options()
        assert opts == "-XX:+UseG1GC -Xss4m " + S.LOCALE_PIN
        # last-wins for -D duplicates keeps the locale authoritative
        os.environ["SPARK_GRAFT_JAVA_OPTS"] = "-Duser.language=tr"
        assert S._java_options().endswith(S.LOCALE_PIN)
    finally:
        if saved is None:
            os.environ.pop("SPARK_GRAFT_JAVA_OPTS", None)
        else:
            os.environ["SPARK_GRAFT_JAVA_OPTS"] = saved


def test_driver_memory_capped_at_half_of_ram(monkeypatch):
    """The default driver heap is min(16g, half of physical RAM), from
    os.sysconf; SPARK_GRAFT_DRIVER_MEM overrides it."""
    from proactive_map_reduce_spark import session as S

    def ram(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(S.os, "sysconf", pages.__getitem__)

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram(15)
    assert S._driver_memory() == "7680m"
    ram(64)
    assert S._driver_memory() == "16384m"
    ram(1)
    assert S._driver_memory() == "1024m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert S._driver_memory() == "3g"


def test_default_parallelism_follows_cpu_affinity(monkeypatch):
    """Without SPARK_GRAFT_CPUS the core count is the CPUs this process
    may run on, from os.sched_getaffinity; the variable overrides it."""
    from proactive_map_reduce_spark import session as S

    monkeypatch.setattr(S.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert S.default_parallelism() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert S.default_parallelism() == 7


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),          # doc_id
            st.integers(min_value=0, max_value=2),           # block key
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=12, deadline=None)
def test_capped_block_pairs_star_cap_properties(spark, rows, cap):
    """capped_block_pairs (the shared star-cap core; r8 — also the
    q_dedup_ngram_jaccard candidate generator): vs a pure-Python full
    blocked expansion it (a) emits exactly the full i<j set among each
    block's `cap` smallest ids plus one star link per member beyond,
    (b) never invents pairs, (c) preserves connected components, and
    (d) is bounded by K(K-1)/2 + (B-K) pairs per block."""
    df = spark.createDataFrame(rows, "doc_id long, blk long")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.capped_block_pairs(df, ["blk"], max_block=cap).collect()
    }
    blocks: dict[int, list[int]] = {}
    for d, blk in rows:
        blocks.setdefault(blk, []).append(d)
    full, expect, bound = set(), set(), 0
    for ids in blocks.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                full.add((ids[i], ids[j]))
        head = ids[:cap]
        for i in range(len(head)):
            for j in range(i + 1, len(head)):
                expect.add((head[i], head[j]))
        for d in ids[cap:]:
            expect.add((ids[0], d))
        k = min(len(ids), cap)
        bound += k * (k - 1) // 2 + max(len(ids) - cap, 0)
    assert got == expect
    assert got <= full
    assert len(got) <= bound
    nodes = {d for d, _ in rows}
    assert _components(got, nodes) == _components(full, nodes)
