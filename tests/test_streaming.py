"""Streaming-mode tests (W1/W2 + watermark late-data semantics)."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from proactive_map_reduce_spark.operators import chunking, mapstage
from proactive_map_reduce_spark.operators import reduce as red
from proactive_map_reduce_spark.streaming import proactive as stream_ops


def _chunks(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    return chunking.partition_equal_arrays(docs, 4)


def test_stage_pipeline_equals_batch(spark):
    chunks = _chunks(spark)
    streamed = stream_ops.stage_pipeline(spark, chunks)
    batch = mapstage.llm_map(chunks)
    key = lambda r: (r["doc_id"], r["chunk_id"])
    s = {key(r): r["out_text"] for r in streamed.collect()}
    b = {key(r): r["out_text"] for r in batch.collect()}
    assert s == b and len(s) == 8


def test_stateful_accumulate_final_equals_incremental_concat(spark):
    chunks = _chunks(spark)
    updates = stream_ops.stateful_accumulate(spark, chunks)
    final = {
        r["doc_id"]: (r["final_text"], r["n_chunks"])
        for r in stream_ops.final_accumulation(updates).collect()
    }
    batch = {
        r["doc_id"]: (r["final_text"], r["n_chunks"])
        for r in red.incremental_concat(mapstage.llm_map(chunks)).collect()
    }
    assert final == batch


def test_stateful_accumulate_emits_running_updates(spark):
    """One update per (doc, micro-batch): n_chunks_seen strictly increases."""
    updates = stream_ops.stateful_accumulate(spark, _chunks(spark))
    per_doc = (
        updates.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("n_chunks_seen")).alias("seen"))
        .collect()
    )
    for r in per_doc:
        assert r["seen"] == [1, 2, 3, 4], r


def test_stateful_accumulate_mode_equivalence(spark):
    """The state-store accumulator's whole update stream equals the
    running prefixes of batch ``incremental_concat``: one row per (doc,
    stage the doc has a chunk in), carrying the chunk count and the
    chunk-ordered concatenation so far. Docs have differing chunk counts
    so short docs stop appearing in later micro-batches, which must not
    emit them again."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),            # 4 stages of 2
            (2, "one two three"),              # fewer words → fewer stages
            (3, "x y z w v u t s r q p o"),    # more words
        ],
        "doc_id long, text string",
    )
    chunks = chunking.partition_equal_arrays(docs, 4)
    got = sorted(map(tuple, stream_ops.stateful_accumulate(spark, chunks).collect()))
    outs: dict = {}
    for r in sorted(
        mapstage.llm_map(chunks).collect(), key=lambda r: (r.doc_id, r.chunk_id)
    ):
        outs.setdefault(r.doc_id, []).append(r.out_text)
    want = sorted(
        (d, k, " ".join(o[:k])) for d, o in outs.items() for k in range(1, len(o) + 1)
    )
    final = {
        r["doc_id"]: (r["n_chunks"], r["final_text"])
        for r in red.incremental_concat(mapstage.llm_map(chunks)).collect()
    }
    assert got == want and got
    assert {d: (len(o), " ".join(o)) for d, o in outs.items()} == final


def test_watermark_drops_late_event(spark):
    """An event arriving after the watermark passed its window is dropped."""
    base = datetime.datetime(2024, 1, 1, 0, 30)
    hours = [0, 0, 1, 2, 3, 4, 5, 6]
    rows = [
        (i, 1, "click", base + datetime.timedelta(hours=h), 1.0)
        for i, h in enumerate(hours)
    ]
    ev = spark.createDataFrame(rows, stream_ops.EVENT_SCHEMA)
    # In-order arrival: all rows counted.
    on_time = stream_ops.windowed_counts_with_watermark(spark, ev)
    total = on_time.agg(F.sum("n_events")).collect()[0][0]
    assert total == len(hours)

    # Same rows, but one event from hour 0 arrives in the LAST bucket while
    # the watermark (max_ts - 1h ≫ hour 0) has passed → dropped.
    import shutil

    root, _ = stream_ops.write_event_files(ev, n_buckets=4)
    late = spark.createDataFrame(
        [(99, 1, "click", base, 1.0)], stream_ops.EVENT_SCHEMA
    )
    late.coalesce(1).write.mode("append").parquet(root)
    sentinel = spark.createDataFrame(
        [(-1, -1, "__sentinel__", base + datetime.timedelta(hours=40), 0.0)],
        stream_ops.EVENT_SCHEMA,
    )
    sentinel.coalesce(1).write.mode("append").parquet(root)

    def transform(s):
        return (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"))
        )

    stream = (
        spark.readStream.schema(stream_ops.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    try:
        out = stream_ops._run_to_parquet(stream, transform).filter(
            F.col("event_type") == "click"
        )
        assert out.agg(F.sum("n_events")).collect()[0][0] == len(hours)  # late row NOT counted
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stateful_accumulate_robust_to_reversed_arrival(spark):
    """Stages arriving in REVERSE order still produce the chunk-ordered
    accumulation — the state keeps (arrival, chunk_id, text) and the
    emission sorts by chunk_id, so arrival interleaving can't corrupt the
    result."""
    import shutil
    import tempfile

    chunks = _chunks(spark)
    root = tempfile.mkdtemp(prefix="pmr_rev_")
    try:
        for cid in [3, 2, 1, 0]:  # reversed arrival
            (
                chunks.filter(F.col("chunk_id") == cid)
                .select("doc_id", "chunk_id", "chunk_text")
                .coalesce(1)
                .write.mode("append")
                .parquet(root)
            )
        updates = stream_ops._w2_run(
            stream_ops._chunk_stream(spark, root), stream_ops._acc_emit
        )
        final = {
            r["doc_id"]: r["final_text"]
            for r in stream_ops.final_accumulation(updates).collect()
        }
        batch = {
            r["doc_id"]: r["final_text"]
            for r in red.incremental_concat(mapstage.llm_map(chunks)).collect()
        }
        assert final == batch
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_static_enrich_equals_batch_join(spark):
    from proactive_map_reduce_spark.sources.tables import load_table
    from proactive_map_reduce_spark.streaming.proactive import stream_static_enrich
    from tests.conftest import SF0001

    ev = load_table(spark, SF0001, "events")
    cust = load_table(spark, SF0001, "customer").select("c_custkey", "c_mktsegment")
    out = stream_static_enrich(spark, ev, cust)
    batch = ev.join(cust, ev.user_id == cust.c_custkey)
    assert out.count() == batch.count()
    # spot-check one enriched row against the batch join
    r = out.orderBy("event_id").first()
    b = batch.filter(batch.event_id == r["event_id"]).first()
    assert r["segment"] == b["c_mktsegment"]


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop a stateful stream mid-input, restart from the SAME checkpoint
    with more input, and verify nothing is reprocessed or lost — the
    state-store recovery contract a long-running 100 TB/day pipeline
    depends on.

    A running-count aggregation in update mode over file micro-batches:
    phase 1 processes bucket files 0-1, the query stops; phase 2 appends
    buckets 2-3 and restarts with the same checkpoint dir. The final
    per-user counts must equal the batch groupBy over all four buckets —
    counts would be inflated if restart re-read old files, deflated if
    offsets skipped unread data.
    """
    from pyspark.sql import functions as F

    from proactive_map_reduce_spark.sources.tables import load_table
    from proactive_map_reduce_spark.streaming.proactive import (
        EVENT_SCHEMA,
        write_event_files,
    )
    from tests.conftest import SF0001

    ev = load_table(spark, SF0001, "events")
    root, _ = write_event_files(ev, n_buckets=4)
    import glob as _glob
    import os as _os

    files = sorted(_glob.glob(root + "/*.parquet"), key=_os.path.getmtime)
    # hold back the last half of the input until after the restart
    held = files[len(files) // 2:]
    stash = str(tmp_path / "held")
    _os.mkdir(stash)
    for f in held:
        _os.rename(f, stash + "/" + _os.path.basename(f))

    ckpt = str(tmp_path / "ckpt")
    name = "pmr_recovery_sink"

    def start():
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination()
    interim = spark.table(name).collect()
    assert sum(r["n"] for r in interim) < ev.count()  # genuinely partial

    for f in _glob.glob(stash + "/*.parquet"):
        _os.rename(f, root + "/" + _os.path.basename(f))
    q2 = start()
    q2.awaitTermination()

    got = {r["user_id"]: r["n"] for r in spark.table(name).collect()}
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_refeed_chain_deep_stage_depth_values_and_state(spark):
    """The W2 v2 re-feed at reference-realistic depth (--num_steps 10+,
    test_proactive.py:29-33): 12 stages × 30 docs. Every emitted
    (acc_words_before, chain) must equal an independent driver-side fold
    over the batch-mapped outputs in chunk order — the same recursion
    the DuckDB oracle pins at depth 4, re-derived at depth 12."""
    import hashlib

    from tests.conftest import SF0001

    docs = (
        spark.read.parquet(f"{SF0001}/documents.parquet")
        .select("doc_id", "text")
        .limit(30)
    )
    chunks = chunking.partition_equal_arrays(docs, 12)
    mapped = sorted(
        mapstage.llm_map(chunks).select("doc_id", "chunk_id", "out_text").collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    expect, acc_state = {}, {}
    for r in mapped:
        acc, chain = acc_state.get(r.doc_id, (0, ""))
        chain = hashlib.md5((chain + (r.out_text or "")).encode()).hexdigest()[:8]
        expect[(r.doc_id, r.chunk_id)] = (acc, chain)
        acc_state[r.doc_id] = (
            acc + len([w for w in (r.out_text or "").split(" ") if w]),
            chain,
        )
    got = stream_ops.refeed_chain(spark, chunks).collect()
    assert len(got) == len(mapped)  # one row per existing chunk
    for r in got:
        assert (r.acc_words_before, r.chain) == expect[(r.doc_id, r.chunk_id)]


def test_stage_pipeline_sink_modes(spark, tmp_path):
    """W1 through the foreachBatch→parquet sink: a caller-kept ``out_dir``
    and the temp default emit the same rows, and the batch layout is
    per-batch directories (the overwrite-idempotence unit)."""
    chunks = _chunks(spark)
    tmp = stream_ops.stage_pipeline(spark, chunks)
    out_dir = str(tmp_path / "out")
    kept = stream_ops.stage_pipeline(spark, chunks, out_dir=out_dir)
    key = lambda r: (r["doc_id"], r["chunk_id"])
    t = {key(r): (r["out_text"], r["n_out_tokens"]) for r in tmp.collect()}
    k = {key(r): (r["out_text"], r["n_out_tokens"]) for r in kept.collect()}
    assert t == k and len(k) == 8
    batches = [b for b in os.listdir(out_dir) if b.startswith("batch-")]
    assert len(batches) >= 2  # one per micro-batch (maxFilesPerTrigger=1)


def test_refeed_chain_sink_modes(spark, tmp_path):
    """The two ways to run the refeed chain emit the same order-sensitive
    rows (any replayed, duplicated, or reordered stage changes every
    later chain hash): temp dirs removed after the run, and a
    caller-kept ``out_dir`` + ``state_dir`` whose checkpoint (holding
    the state store) persists under the state dir. Both equal the
    driver-side md5 fold."""
    from tests.test_stream_recovery import _refeed_reference_fold

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(20))),
         (2, " ".join(f"v{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    chunks = chunking.partition_equal_arrays(docs, 5)
    key = lambda r: (r["doc_id"], r["chunk_id"])
    tmp = {
        key(r): (r["acc_words_before"], r["chain"])
        for r in stream_ops.refeed_chain(spark, chunks).collect()
    }
    state_dir = str(tmp_path / "state")
    kept = {
        key(r): (r["acc_words_before"], r["chain"])
        for r in stream_ops.refeed_chain(
            spark, chunks, out_dir=str(tmp_path / "out"), state_dir=state_dir
        ).collect()
    }
    assert tmp == kept == _refeed_reference_fold(chunks) and len(kept) == 10
    assert os.path.isdir(os.path.join(state_dir, "checkpoint", "state"))


def test_refeed_chain_mode_equivalence(spark):
    """The state-store refeed emits exactly the driver-side md5 fold on
    the order-sensitive chain fixture: any divergence in fold order,
    word counting, or null handling changes every later chain hash. The
    short doc is absent from later micro-batches and must not be emitted
    again."""
    from tests.test_stream_recovery import _refeed_reference_fold

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(20))),
            (2, " ".join(f"v{i}" for i in range(12))),
            (3, "solo"),  # short doc: absent from later micro-batches
        ],
        "doc_id long, text string",
    )
    chunks = chunking.partition_equal_arrays(docs, 5)
    got = stream_ops.refeed_chain(spark, chunks).collect()
    want = _refeed_reference_fold(chunks)
    assert {
        (r["doc_id"], r["chunk_id"]): (r["acc_words_before"], r["chain"])
        for r in got
    } == want
    assert len(got) == len(want) and got


def test_refeed_batched_multi_stage_batch_folds_in_arrival_order(spark, tmp_path):
    """A micro-batch carrying SEVERAL stages of one doc (the recovery
    coalescing case) must fold in (arrival, chunk_id) order — chunk order
    within a micro-batch, micro-batches in arrival order — and emit both
    of the batch's stages once. Feed a layout where file 0 = chunks {0,1}
    and file 1 = chunk {2} and compare against the driver-side sequential
    fold."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z w u v")], "doc_id long, text string"
    )
    chunks = chunking.partition_equal_arrays(docs, 3)
    live = str(tmp_path / "live")
    os.makedirs(live)
    base = 1_700_000_000
    first = chunks.filter(F.col("chunk_id") <= 1)
    second = chunks.filter(F.col("chunk_id") == 2)
    for k, part in enumerate((first, second)):
        d = str(tmp_path / f"stage{k}")
        part.select("doc_id", "chunk_id", "chunk_text").coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                dst = os.path.join(live, f"stage-{k}-{f}")
                os.rename(os.path.join(d, f), dst)
                os.utime(dst, (base + k, base + k))

    stream = (
        spark.readStream.schema(stream_ops.CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(live)
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["acc_words_before"], r["chain"])
        for r in stream_ops._w2_run(stream, stream_ops._refeed_emit).collect()
    }

    mapped = sorted(
        mapstage.llm_map(chunks).select("doc_id", "chunk_id", "out_text").collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    expect, st = {}, {}
    for r in mapped:
        acc, chain = st.get(r.doc_id, (0, ""))
        chain = hashlib.md5((chain + (r.out_text or "")).encode()).hexdigest()[:8]
        expect[(r.doc_id, r.chunk_id)] = (acc, chain)
        st[r.doc_id] = (
            acc + len([w for w in (r.out_text or "").split(" ") if w]),
            chain,
        )
    assert got == expect


def test_run_to_parquet_empty_stream_returns_schema(spark, tmp_path):
    """Empty input: no committed batch dirs, but the returned DataFrame
    still carries the transform's schema (0 rows, no read error)."""
    empty = spark.createDataFrame([], "doc_id long, chunk_id int, chunk_text string")
    out = stream_ops.stage_pipeline(spark, empty, out_dir=str(tmp_path / "out"))
    assert out.count() == 0
    assert set(out.columns) >= {"doc_id", "chunk_id", "out_text"}


def test_run_to_parquet_default_out_dir_removed_at_exit(spark, tmp_path, monkeypatch):
    """A temp default ``out_dir`` outlives the call (the result reads it
    lazily): it lives under the process's scratch root, which the exit
    hook removes; the hook tolerates a root something else deleted."""
    import tempfile
    from urllib.parse import urlparse

    from proactive_map_reduce_spark.sources import scratch

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(scratch, "_roots", set())
    out = stream_ops.stage_pipeline(spark, _chunks(spark))
    assert out.count() == 8
    root = str(tmp_path / f"pmr_proc_{os.getpid()}")
    # the temp checkpoint's root on /dev/shm goes with the same hook
    shm = {f"/dev/shm/pmr_proc_{os.getpid()}"} if os.path.isdir("/dev/shm") else set()
    assert scratch._roots == {root} | shm and scratch._owner == os.getpid()
    [out_dir] = {
        os.path.dirname(os.path.dirname(urlparse(p).path)) for p in out.inputFiles()
    }
    assert os.path.dirname(out_dir) == root
    assert os.path.basename(out_dir).startswith("pmr_stream_out_")
    scratch._remove_roots(os.getpid())  # the exit hook
    assert not os.path.exists(root)
    scratch._remove_roots(os.getpid())  # already gone: no error
