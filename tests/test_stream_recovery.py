"""Crash-recovery tests: the exactly-once claims under forced restarts.

- a streaming query stopped mid-stream and restarted from its checkpoint
  replays to the same final state with no duplicate or lost rows,
- the W2 runner restores each doc's chunk history from Spark's state
  store on restart, so post-restart emissions still contain pre-restart
  chunks, also when the kill fell between a batch's emission and its
  streaming commit,
- the durable sink's out_dir/checkpoint guards refuse mismatched dirs.
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import functions as F

from proactive_map_reduce_spark.operators import chunking, mapstage
from proactive_map_reduce_spark.operators import reduce as red
from proactive_map_reduce_spark.streaming import proactive as stream_ops

BASE_TS = datetime.datetime(2024, 1, 1)


def _ev_rows(spark, rows):
    return spark.createDataFrame(rows, stream_ops.EVENT_SCHEMA)


def _w2(spark, live, emit, **kw):
    """The W2 runner over a live stage dir (one file per micro-batch)."""
    stream = (
        spark.readStream.schema(stream_ops.CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(live)
    )
    return stream_ops._w2_run(stream, emit, **kw)


def _copy_stages(src_root, live, names):
    # copy2, NOT copy: stage arrival order rides on the backdated mtimes
    # write_stage_files stamps (the file source orders pending files by
    # modification time) — plain copy resets them to "now" and the
    # stages arrive in arbitrary order
    for f in names:
        shutil.copy2(os.path.join(src_root, f), os.path.join(live, f))


def _batch_rows(out_dir, spark, ids=None):
    """Rows of the emitted batch dirs (all, or those with an id in ids)."""
    dirs = [p for i, p in stream_ops._batch_dirs(out_dir) if ids is None or i in ids]
    return spark.read.parquet(*dirs).collect() if dirs else []


def test_stateful_accumulate_restart_restores_state(spark, tmp_path):
    """The W2 accumulator survives a stop/restart from a persistent
    checkpoint: the restarted query's accumulations contain chunks seen
    only BEFORE the stop (possible only if the state store restored
    them), each (doc, stage) is emitted once across both runs, and the
    final per-doc accumulation equals the batch answer.

    Deterministic restart: run 1 drains (availableNow) with only the
    first two stage files present; the remaining stages are added and
    run 2 resumes from the SAME checkpoint and out_dir."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    chunks = chunking.partition_equal_arrays(docs, 4)
    src_root = stream_ops.write_stage_files(chunks)  # stage-0000k-*.parquet
    live = str(tmp_path / "live")
    os.makedirs(live)
    out_dir = str(tmp_path / "out")
    kw = dict(out_dir=out_dir, state_dir=str(tmp_path / "state"))
    files = sorted(f for f in os.listdir(src_root) if f.endswith(".parquet"))
    assert len(files) == 4  # 4 chunk stages, one file each

    try:
        _copy_stages(src_root, live, files[:2])
        r1 = _w2(spark, live, stream_ops._acc_emit, **kw).collect()
        assert r1 and max(x["n_chunks_seen"] for x in r1) == 2  # stopped mid-doc
        seen = {i for i, _ in stream_ops._batch_dirs(out_dir)}

        _copy_stages(src_root, live, files[2:])
        r2 = _w2(spark, live, stream_ops._acc_emit, **kw).collect()
        # every post-restart emission already carries the pre-restart
        # chunks — only a restored state store can supply them
        new = {i for i, _ in stream_ops._batch_dirs(out_dir)} - seen
        post = _batch_rows(out_dir, spark, new)
        assert post and min(x["n_chunks_seen"] for x in post) >= 3
        # the read-back unions both runs: one emission per (doc, stage)
        per_doc: dict = {}
        for x in r2:
            per_doc.setdefault(x["doc_id"], []).append(x["n_chunks_seen"])
        assert all(sorted(v) == [1, 2, 3, 4] for v in per_doc.values())
        final = {x["doc_id"]: x["acc_text"] for x in r2 if x["n_chunks_seen"] == 4}
        want = {
            r["doc_id"]: r["final_text"]
            for r in red.incremental_concat(mapstage.llm_map(chunks)).collect()
        }
        assert final == want  # exactly-once: equals the batch answer
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_windowed_watermark_restart_no_dup_no_loss(spark, tmp_path):
    """The window state store AND the watermark survive a stop/restart:
    windows emitted before the stop are not re-emitted after it (append
    mode + restored watermark), and no window is lost — the union of the
    two runs equals the batch aggregation."""
    import pandas as pd

    rows = []
    eid = 0
    for h in range(4):
        for k in range(6):
            rows.append(
                (
                    eid,
                    k % 3,
                    "set",
                    BASE_TS + datetime.timedelta(hours=h, minutes=k * 7),
                    float(h * 10 + k),
                )
            )
            eid += 1
    ev = _ev_rows(spark, rows)
    src, _ = stream_ops.write_event_files(ev, n_buckets=4)  # one file per hour
    live = str(tmp_path / "live")
    os.makedirs(live)
    ckpt = str(tmp_path / "ckpt")
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(files) == 4

    def run():
        got: list = []
        s = (
            spark.readStream.schema(stream_ops.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(live)
        )
        out = (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count("*").cast("bigint").alias("n"))
            .select(
                (F.unix_timestamp(F.col("w.start")) / 3600)
                .cast("bigint")
                .alias("hour_bucket"),
                "user_id",
                "n",
            )
        )
        q = (
            out.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return got

    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        for f in files[:3]:
            shutil.copy(os.path.join(src, f), os.path.join(live, f))
        r1 = run()
        assert r1  # at least hour 0 finalized before the "crash"

        for f in files[3:]:
            shutil.copy(os.path.join(src, f), os.path.join(live, f))
        # sentinel far in the future flushes the trailing windows
        sentinel_ts = BASE_TS + datetime.timedelta(hours=24)
        _ev_rows(spark, [(-1, -1, "__sentinel__", sentinel_ts, 0.0)]).coalesce(
            1
        ).write.mode("append").parquet(live)
        r2 = run()

        key = lambda x: (x["hour_bucket"], x["user_id"])
        k1, k2 = {key(x) for x in r1}, {key(x) for x in r2}
        assert not (k1 & k2)  # restart re-emitted nothing
        sentinel_bucket = int(sentinel_ts.timestamp() // 3600)
        got = {
            key(x): x["n"]
            for x in r1 + r2
            if x["hour_bucket"] != sentinel_bucket
        }
        batch = (
            ev.groupBy(
                (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
                .cast("bigint")
                .alias("hour_bucket"),
                "user_id",
            )
            .agg(F.count("*").cast("bigint").alias("n"))
            .collect()
        )
        assert got == {(r["hour_bucket"], r["user_id"]): r["n"] for r in batch}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(src, ignore_errors=True)


def test_write_ordered_tolerates_null_order_values(spark):
    """Rows with a NULL arrival key (nulled chunk_id from upstream
    quarantining) must not crash the stage writer — they arrive last,
    deterministically."""
    chunks = spark.createDataFrame(
        [(1, 0, "first"), (1, None, "orphan"), (2, 1, "second")],
        "doc_id long, chunk_id int, chunk_text string",
    )
    root = stream_ops.write_stage_files(chunks)
    try:
        files = sorted(
            f for f in os.listdir(root) if f.endswith(".parquet")
        )
        assert len(files) == 3  # one per arrival, nulls last
        last = spark.read.parquet(os.path.join(root, files[-1]))
        assert [r["chunk_text"] for r in last.collect()] == ["orphan"]
        got = spark.read.parquet(root)
        assert got.count() == 3
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_refeed_chain_restart_preserves_chain_at_depth(spark, tmp_path):
    """The W2 v2 re-feed chain survives a stop/restart from checkpoint at
    stage depth 12: the rolling md5 chain is ORDER-SENSITIVE (any replay,
    reorder, or lost stage changes every later value), so post-restart
    emissions equal to the uninterrupted driver fold are the strongest
    cheap witness of exactly-once state recovery mid-chain.

    Deterministic restart: run 1 drains (availableNow) with the first 5
    stage files; the remaining 7 are added and run 2 resumes from the
    SAME checkpoint and out_dir."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"alpha{i}" for i in range(24))),
            (2, " ".join(f"beta{i}" for i in range(30))),
            (3, " ".join(f"gamma{i}" for i in range(17))),
        ],
        "doc_id long, text string",
    )
    depth = 12
    chunks = chunking.partition_equal_arrays(docs, depth)
    src_root = stream_ops.write_stage_files(chunks)
    live = str(tmp_path / "live")
    os.makedirs(live)
    out_dir = str(tmp_path / "out")
    kw = dict(out_dir=out_dir, state_dir=str(tmp_path / "state"))
    files = sorted(f for f in os.listdir(src_root) if f.endswith(".parquet"))
    assert len(files) == depth  # one stage file per chunk_id
    expect = _refeed_reference_fold(chunks)

    try:
        _copy_stages(src_root, live, files[:5])
        r1 = _w2(spark, live, stream_ops._refeed_emit, **kw).collect()
        assert r1 and max(x["chunk_id"] for x in r1) == 4  # stopped mid-chain
        seen = {i for i, _ in stream_ops._batch_dirs(out_dir)}

        _copy_stages(src_root, live, files[5:])
        _w2(spark, live, stream_ops._refeed_emit, **kw)
        new = {i for i, _ in stream_ops._batch_dirs(out_dir)} - seen
        r2 = _batch_rows(out_dir, spark, new)

        # run 2 must emit ONLY the unseen stages (no replay of 0..4) ...
        assert r2 and min(x["chunk_id"] for x in r2) == 5
        # ... and every emission continues the pre-restart chain exactly:
        # a chain computable only from the restored chunk history
        for x in r1 + r2:
            assert (x["acc_words_before"], x["chain"]) == expect[
                (x["doc_id"], x["chunk_id"])
            ]
        assert len(r1) + len(r2) == len(expect)  # no loss, no duplication
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_durable_sink_restart_idempotent_no_dup_no_loss(spark, tmp_path):
    """The durable W2 sink: a staged refeed pipeline stopped after 5 of
    12 stages and restarted from the SAME persistent checkpoint + out_dir
    resumes without replaying committed batches; a torn write of the
    next uncommitted batch (garbage pre-seeded in its batch dir) is
    healed by the per-batch OVERWRITE. The final read-back equals the
    uninterrupted driver fold exactly — no dup, no loss."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"alpha{i}" for i in range(24))),
            (2, " ".join(f"beta{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    depth = 12
    chunks = chunking.partition_equal_arrays(docs, depth)
    src_root = stream_ops.write_stage_files(chunks)
    live = str(tmp_path / "live")
    os.makedirs(live)
    out_dir = str(tmp_path / "out")
    kw = dict(out_dir=out_dir, state_dir=str(tmp_path / "state"))
    files = sorted(f for f in os.listdir(src_root) if f.endswith(".parquet"))

    try:
        _copy_stages(src_root, live, files[:5])
        r1 = _w2(spark, live, stream_ops._refeed_emit, **kw).collect()
        assert r1 and max(x["chunk_id"] for x in r1) == 4
        committed = sorted(
            d for d in os.listdir(out_dir) if d.startswith("batch-")
        )
        # simulate a torn write of the NEXT (uncommitted) batch: the
        # restart must OVERWRITE this dir, not append next to it
        next_id = int(committed[-1].split("-")[1]) + 1
        torn = os.path.join(out_dir, f"batch-{next_id:09d}")
        os.makedirs(torn)
        with open(os.path.join(torn, "part-garbage.parquet"), "wb") as f:
            f.write(b"torn write")

        _copy_stages(src_root, live, files[5:])
        final = _w2(spark, live, stream_ops._refeed_emit, **kw).collect()
        got = {
            (x["doc_id"], x["chunk_id"]): (x["acc_words_before"], x["chain"])
            for x in final
        }
        assert got == _refeed_reference_fold(chunks)  # every stage once
        assert len(final) == len(got)
        assert not os.path.exists(os.path.join(torn, "part-garbage.parquet"))
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_durable_sink_fresh_checkpoint_refuses_stale_out_dir(spark, tmp_path):
    """Reusing an out_dir that already holds batch dirs with a FRESH
    checkpoint must raise, not silently merge the stale batches into the
    read-back (batch ids restart at 0, so the overwrite never touches
    higher-numbered leftovers — ADVICE r8)."""
    import pytest

    out_dir = str(tmp_path / "out")
    stale = os.path.join(out_dir, "batch-000000007")
    os.makedirs(stale)
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    chunks = chunking.partition_equal_arrays(docs, 2)
    src_root = stream_ops.write_stage_files(chunks)
    try:
        stream = (
            spark.readStream.schema(stream_ops.CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_root)
        )
        with pytest.raises(ValueError, match="fresh"):
            stream_ops._run_to_parquet(stream, lambda s: s, out_dir=out_dir)
        assert os.path.isdir(stale)  # refused, not deleted
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_batched_runner_resume_refuses_fresh_state_or_out_dirs(
    spark, tmp_path
):
    """ADVICE r9 (the converse of the fresh-checkpoint guard) for the W2
    runner, whose checkpoint lives under ``state_dir``: resuming the
    state dir against a fresh out_dir must raise instead of dropping the
    committed batches' output, and a fresh state_dir (a new checkpoint,
    empty state) next to the old out_dir must raise instead of merging
    the old emissions into the new stream's read-back."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "p q r s")], "doc_id long, text string"
    )
    chunks = chunking.partition_equal_arrays(docs, 2)
    src_root = stream_ops.write_stage_files(chunks)
    out_dir = str(tmp_path / "out")
    state_dir = str(tmp_path / "state")

    def run(out, state):
        return _w2(
            spark, src_root, stream_ops._acc_emit, out_dir=out, state_dir=state
        )

    try:
        r1 = run(out_dir, state_dir).collect()
        assert r1 and max(x["n_chunks_seen"] for x in r1) == 2
        # resumed state dir + a FRESH out_dir: committed emissions gone
        with pytest.raises(ValueError, match="missing batch dirs"):
            run(str(tmp_path / "fresh_out"), state_dir)
        # FRESH state dir (new checkpoint) + the old out_dir: foreign rows
        with pytest.raises(ValueError, match="fresh"):
            run(out_dir, str(tmp_path / "fresh_state"))
        # the original dirs still resume cleanly (no new data: same rows)
        r2 = run(out_dir, state_dir).collect()
        assert sorted(map(tuple, r2)) == sorted(map(tuple, r1))
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_run_to_parquet_resume_refuses_fresh_out_dir(spark, tmp_path):
    """Same converse guard for the durable W1 sink: a resumed checkpoint
    whose out_dir lacks the committed batch dirs must refuse."""
    import pytest

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    chunks = chunking.partition_equal_arrays(docs, 2)
    src_root = stream_ops.write_stage_files(chunks)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run(out):
        stream = (
            spark.readStream.schema(stream_ops.CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_root)
        )
        return stream_ops._run_to_parquet(
            stream, lambda s: s, out_dir=out, checkpoint_dir=ckpt
        )

    try:
        assert run(out_dir).count() == 2
        with pytest.raises(ValueError, match="missing batch dirs"):
            run(str(tmp_path / "fresh_out"))
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_batch_dir_guards_ignore_non_numeric_entries(tmp_path):
    """ADVICE r9: a foreign entry named like ``batch-old`` in a
    user-supplied dir must be skipped by the strict listing, not crash
    the guard's int() parse — while genuinely stale numeric batch dirs
    still trip the fresh-checkpoint refusal."""
    import pytest

    d = str(tmp_path / "out")
    os.makedirs(os.path.join(d, "batch-old"))
    os.makedirs(os.path.join(d, "batch-1x2"))
    stream_ops._guard_stale_batches(d, -1, -1)  # junk ignored: no raise
    assert stream_ops._batch_dirs(d) == []
    os.makedirs(os.path.join(d, "batch-000000003"))
    with pytest.raises(ValueError, match="fresh"):
        stream_ops._guard_stale_batches(d, -1, -1)
    assert stream_ops._batch_dirs(d) == [
        (3, os.path.join(d, "batch-000000003"))
    ]


def _refeed_reference_fold(chunks):
    """The uninterrupted per-key reference fold for a chunk fixture:
    {(doc_id, chunk_id): (acc_words_before, chain)}."""
    import hashlib as _hl

    mapped = sorted(
        mapstage.llm_map(chunks)
        .select("doc_id", "chunk_id", "out_text")
        .collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    expect, st = {}, {}
    for r in mapped:
        acc, chain = st.get(r.doc_id, (0, ""))
        chain = _hl.md5((chain + (r.out_text or "")).encode()).hexdigest()[:8]
        expect[(r.doc_id, r.chunk_id)] = (acc, chain)
        st[r.doc_id] = (
            acc + len([w for w in (r.out_text or "").split(" ") if w]),
            chain,
        )
    return expect


def test_batched_runner_fresh_checkpoint_refuses_existing_state(
    spark, tmp_path
):
    """The other direction of the dir/checkpoint contract for the W2
    runner: a FRESH checkpoint (batch ids restart at 0, empty state
    store) next to an out_dir that already holds an earlier stream's
    emissions must raise — the old rows would be silently folded into
    the new stream's read-back — and must leave them in place."""
    import pytest

    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    chunks = chunking.partition_equal_arrays(docs, 2)
    src_root = stream_ops.write_stage_files(chunks)
    out_dir = str(tmp_path / "out")

    def run(state):
        return _w2(
            spark, src_root, stream_ops._acc_emit, out_dir=out_dir,
            state_dir=state,
        )

    try:
        assert run(str(tmp_path / "state_a")).count() == 2
        before = stream_ops._batch_dirs(out_dir)
        with pytest.raises(ValueError, match="fresh"):
            run(str(tmp_path / "state_b"))
        assert stream_ops._batch_dirs(out_dir) == before
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_batched_runner_resumes_first_batch_window_kill(spark, tmp_path):
    """ADVICE r10: a durable run killed before ANY streaming commit —
    emissions written, commit log empty — presents no committed batch on
    restart. The checkpoint has planned batches, so it is a resume, not
    a fresh start: the guard must allow it (Spark replays only the
    latest planned batch and keeps the earlier ones), and the read-back
    must equal the uninterrupted run."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "p q r s")], "doc_id long, text string"
    )
    chunks = chunking.partition_equal_arrays(docs, 2)
    src_root = stream_ops.write_stage_files(chunks)
    ckpt = str(tmp_path / "state" / "checkpoint")
    kw = dict(out_dir=str(tmp_path / "out"), state_dir=str(tmp_path / "state"))

    try:
        r1 = sorted(map(tuple, _w2(spark, src_root, stream_ops._refeed_emit, **kw).collect()))
        commits = os.path.join(ckpt, "commits")
        for nm in os.listdir(commits):
            os.remove(os.path.join(commits, nm))
        assert stream_ops._last_batch(ckpt, "commits") == -1
        assert stream_ops._last_batch(ckpt, "offsets") == 1

        r2 = sorted(map(tuple, _w2(spark, src_root, stream_ops._refeed_emit, **kw).collect()))
        assert r2 == r1
        assert dict(((d, c), (a, h)) for d, c, a, h in r2) == _refeed_reference_fold(chunks)
    finally:
        shutil.rmtree(src_root, ignore_errors=True)


def test_w2_kill_between_emission_and_commit_replays_same_rows(spark, tmp_path):
    """A kill after a micro-batch's emission is written but before its
    streaming commit (simulated by deleting ``commits/<n>``). On resume
    Spark replays batch n from its offset-log entry, including the batch
    timestamp the runner's ``arrival`` column comes from, rewrites
    batch n's emission and carries on. For both W2 operators the
    read-back must equal an uninterrupted run: the refeed chain (and the
    md5 fold) and every accumulator row."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"alpha{i}" for i in range(20))),
            (2, " ".join(f"beta{i}" for i in range(13))),
        ],
        "doc_id long, text string",
    )
    depth = 6
    chunks = chunking.partition_equal_arrays(docs, depth)
    src_root = stream_ops.write_stage_files(chunks)
    files = sorted(f for f in os.listdir(src_root) if f.endswith(".parquet"))
    try:
        for name, emit in (
            ("refeed", stream_ops._refeed_emit),
            ("acc", stream_ops._acc_emit),
        ):
            base = tmp_path / name
            whole = sorted(
                map(tuple, _w2(spark, src_root, emit,
                               out_dir=str(base / "whole_out")).collect())
            )

            live = str(base / "live")
            os.makedirs(live)
            out_dir, ckpt = str(base / "out"), str(base / "state" / "checkpoint")
            kw = dict(out_dir=out_dir, state_dir=str(base / "state"))
            _copy_stages(src_root, live, files[:3])
            _w2(spark, live, emit, **kw)
            n = stream_ops._last_batch(ckpt, "commits")
            assert n == 2
            killed = sorted(map(tuple, _batch_rows(out_dir, spark, {n})))
            # the commit file and its checksum: a kill before the commit
            # leaves neither
            for nm in (str(n), f".{n}.crc"):
                os.remove(os.path.join(ckpt, "commits", nm))

            _copy_stages(src_root, live, files[3:])
            got = sorted(map(tuple, _w2(spark, live, emit, **kw).collect()))
            assert stream_ops._last_batch(ckpt, "commits") == depth - 1
            assert sorted(map(tuple, _batch_rows(out_dir, spark, {n}))) == killed
            assert got == whole
            if name == "refeed":
                assert dict(
                    ((d, c), (a, h)) for d, c, a, h in got
                ) == _refeed_reference_fold(chunks)
    finally:
        shutil.rmtree(src_root, ignore_errors=True)
