"""Proactive (staged, incremental) execution as Structured Streaming
(SURVEY §2.10 W1/W2).

The reference's "stream" is ordered in-process arrival: stage *n* computes
while chunk *n+1* is still arriving (`test_proactive.py:227-368`; arrival
model `compute_scores.py:61-85`). Structured Streaming gives that overlap
for free — micro-batch *n* is processed while the source accrues batch
*n+1* — so the engine's proactive mode is simply the batch operators run
under a streaming source:

- **W1 `stage_pipeline`**: chunk rows arrive one *stage* (chunk_id) per
  micro-batch from a file source (`maxFilesPerTrigger=1`); each batch runs
  the same black-box map stage (`operators.mapstage.llm_map`). Semantics
  are identical to the batch plan, so the result stays oracle-checkable.
- **W2 `stateful_accumulate` / `refeed_chain`**: cross-stage per-doc state
  (the `total_res_toks` analog, `test_proactive.py:327-328`; the v2
  re-feed recursion, `test_proactive_2.py:228-233`). Both run on one
  runner: a streaming `groupBy(doc_id)` aggregation that keeps each doc's
  chunk history in Spark's RocksDB state store, in update mode. Each
  operator is a projection of that history: every update emits the
  running value for the docs the micro-batch touched, and the final
  per-doc row equals the batch operator.
- **Watermarked event streams** (engine capability beyond the reference):
  window counts, dedup and a stream-stream join over event rows that
  arrive one ts-ordered bucket file per micro-batch, so the watermark
  path is deterministic; a far-future sentinel flushes trailing state.

Every operator drains its bounded stream through one sink,
``_run_to_parquet``: ``foreachBatch`` parquet under ``out_dir/batch-<id>``
with per-batch overwrite, returning a lazy scan of those dirs.

Scale notes: in production the file source becomes Kafka/object-store
listing and the checkpoint moves to durable storage; the state store is
keyed by doc_id, so W2 state shards across executors. The per-stage map
is stateless and embarrassingly parallel; only W2's state shuffle is
keyed — by doc_id, the natural partition key.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import mapstage
from ..sources.scratch import scratch_dir

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_id", T.IntegerType()),
        T.StructField("chunk_text", T.StringType()),
    ]
)


def _sentinel_ts(hi):
    """Far-future flush-sentinel timestamp: 10h past the stream's max
    event time. An EMPTY stream has no max (None) — any fixed timestamp
    works then, since the sentinel only exists to advance the watermark
    past data that isn't there; it is filtered from every result."""
    base = hi if hi is not None else pd.Timestamp("2000-01-01")
    # plain datetime: createDataFrame's TimestampType verifier rejects a
    # pandas Timestamp object (non-empty inputs dodge this because
    # datetime + Timedelta stays datetime)
    return (pd.Timestamp(base) + pd.Timedelta(hours=10)).to_pydatetime()


def _write_ordered(df: DataFrame, order_col: str, root: str) -> str:
    """Write `df` under `root` as flat parquet files whose modification
    times strictly increase in `order_col` — the arrival order the file
    stream source replays (it processes oldest-modTime first, the same
    contract the previous sequential-append writer relied on).

    ONE distributed write job: partitionBy on a duplicated key column
    (partitionBy drops its column from the file data, and the stream
    schema needs the real one), then a driver-side flatten that moves the
    handful of part files up and stamps each stage's mtime. The fs work is
    O(#stages) renames — metadata only, no data pass."""
    tmp = root + "_staging"
    (
        df.withColumn("__arrival__", F.col(order_col))
        .repartition(F.col("__arrival__"))
        .write.partitionBy("__arrival__")
        .parquet(tmp)
    )

    def _stage_key(d: str):
        # NULL order values land in __HIVE_DEFAULT_PARTITION__ (float()
        # would crash on it): order them deterministically LAST — an
        # undefined arrival time arrives after every defined one.
        v = d.split("=", 1)[1]
        return (1, 0.0) if v == "__HIVE_DEFAULT_PARTITION__" else (0, float(v))

    stage_dirs = sorted(
        (d for d in os.listdir(tmp) if d.startswith("__arrival__=")),
        key=_stage_key,
    )
    # backdate stages so any file appended later (dup copies, sentinels)
    # is strictly newer than every stage file.
    base = time.time() - 3600.0
    for k, d in enumerate(stage_dirs):
        for j, f in enumerate(sorted(os.listdir(os.path.join(tmp, d)))):
            if f.startswith(("_", ".")):
                continue
            dst = os.path.join(root, f"stage-{k:05d}-{j:03d}.parquet")
            shutil.move(os.path.join(tmp, d, f), dst)
            os.utime(dst, (base + k, base + k))
    shutil.rmtree(tmp, ignore_errors=True)
    return root


def write_stage_files(chunks_df: DataFrame, root: str | None = None) -> str:
    """Materialize chunk rows as parquet files arriving one stage
    (chunk_id) at a time — the simulated document stream. File k =
    "chunk k arrives at time k". Single distributed write job.

    Arrival order is carried by the backdated file MTIMES (the file
    source orders pending files by modification time): anything that
    relocates stage files — the restart tests seed a live dir from
    these — must preserve timestamps (``shutil.copy2``, not ``copy``),
    or stages arrive in arbitrary order and every order-sensitive
    consumer (the re-feed chain) sees a different recursion."""
    root = root or scratch_dir("pmr_stream_")
    return _write_ordered(
        chunks_df.select("doc_id", "chunk_id", "chunk_text"), "chunk_id", root
    )


def _chunk_stream(spark: SparkSession, root: str) -> DataFrame:
    return (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )


@contextlib.contextmanager
def _stage_stream(spark: SparkSession, chunks_df: DataFrame):
    """Yield ``chunks_df`` as a staged stream: ``write_stage_files``
    arrival, one stage file per micro-batch. The files are removed on
    exit; the operators' results read ``out_dir``, not these."""
    root = write_stage_files(chunks_df)
    try:
        yield _chunk_stream(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ckpt_dir() -> str:
    """Temp checkpoint + state-store dir: tmpfs when available, under this
    process's scratch root there, so a run that dies before its own
    cleanup leaves nothing past process exit. The HDFS-backed state store
    fsyncs a delta file per partition per commit — on memory-backed fs
    that is free, on disk it dominates small micro-batch latency
    (measured ~5 s across a 5-batch join). A durable run passes its own
    location instead."""
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return scratch_dir("pmr_ckpt_", shm)


@contextlib.contextmanager
def _session_confs(spark: SparkSession, confs: dict):
    """Set session confs for the enclosed query start, then restore the
    caller's values (unset ones are unset again)."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Shuffle (and so state-store) partition count of every stream here.
#: A streaming query fixes it from spark.sql.shuffle.partitions at start
#: (AQE never applies) and records it in its checkpoint's offset log, so a
#: resumed query keeps it; every micro-batch pays one task and one
#: state-store commit per partition. Sized for fixture volume, not the
#: batch default; W2 checkpoints (and perfbench's doc_staged) carry 2.
_STREAM_PARTITIONS = 2


def _last_batch(ckpt: str, log: str) -> int:
    """Highest batch id in the checkpoint's ``log`` subdir (-1 when none).

    Structured Streaming writes one file per batch, named by its id:
    ``offsets`` gains it when the batch is PLANNED, before processing
    starts; ``commits`` when the batch COMPLETES. On restart Spark replays
    exactly the latest offsets entry whose commit is missing, so batches
    below it are never re-emitted."""
    try:
        names = os.listdir(os.path.join(ckpt, log))
    except OSError:
        return -1
    return max((int(nm) for nm in names if nm.isdigit()), default=-1)  # skip .crc/temp


#: Strict batch-dir name (ADVICE r9): a foreign entry like ``batch-old``
#: in a user-supplied dir must be ignored by listings, not crash the
#: guard's int() parse.
_BATCH_DIR_RE = re.compile(r"batch-(\d+)")


def _batch_dirs(root: str) -> list[tuple[int, str]]:
    """Sorted ``(batch_id, path)`` for every strictly-named ``batch-<id>``
    entry under ``root`` (missing root → empty; non-matching names
    skipped rather than raising — ADVICE r9)."""
    out = []
    try:
        names = os.listdir(root)
    except OSError:
        return out
    for d in names:
        m = _BATCH_DIR_RE.fullmatch(d)
        if m:
            out.append((int(m.group(1)), os.path.join(root, d)))
    return sorted(out)


def _guard_stale_batches(out_dir: str, last_done: int, last_planned: int) -> None:
    """Shed batch dirs the checkpoint will replay or never ran (ADVICE r8).

    A FRESH checkpoint (one that has planned no batch, ``last_planned <
    0``) restarts batch ids at 0, so any pre-existing batch dir is
    foreign data that the per-batch overwrite would silently merge into
    the read-back — refuse it. A RESUMED checkpoint may legitimately sit
    next to one uncommitted (torn) batch dir above its last done batch,
    also when it was killed before its first commit; the replay rewrites
    it, so deleting is safe."""
    stale = [
        os.path.basename(p)
        for i, p in _batch_dirs(out_dir)
        if i > last_done
    ]
    if stale and last_planned < 0:
        raise ValueError(
            f"out_dir {out_dir!r} already holds batch dirs "
            f"{sorted(stale)[:3]}... but the checkpoint is fresh (batch "
            "ids restart at 0): stale batches would be silently merged "
            "into the result. Use an empty out_dir, or resume with the "
            "original checkpoint_dir."
        )
    for d in stale:
        shutil.rmtree(os.path.join(out_dir, d), ignore_errors=True)


def _guard_resume_outputs(out_dir: str, last_committed: int) -> None:
    """The converse of :func:`_guard_stale_batches` (ADVICE r9): a
    RESUMED checkpoint (``last_committed >= 0``) replays only batches
    above its high-water mark, so every committed batch's output dir
    must already exist under ``out_dir`` — a fresh/missing out_dir here
    means the committed batches' emissions are gone and the read-back
    would silently return a partial result. Refuse loudly instead."""
    if last_committed < 0:
        return
    have = {i for i, _ in _batch_dirs(out_dir)}
    missing = [i for i in range(last_committed + 1) if i not in have]
    if missing:
        raise ValueError(
            f"checkpoint has committed batches 0..{last_committed} but "
            f"out_dir {out_dir!r} is missing batch dirs {missing[:5]}"
            f"{'...' if len(missing) > 5 else ''}: resuming would silently "
            "drop their output. Resume with the original out_dir, or start "
            "a fresh checkpoint."
        )


def _run_to_parquet(
    stream_df: DataFrame,
    transform,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Drain a bounded stream (``availableNow``) through ``transform``:
    each micro-batch lands under ``out_dir/batch-<id>`` via
    ``foreachBatch`` with per-batch OVERWRITE. ``output_mode`` is the
    streaming output mode of ``transform``'s result ("update" for the W2
    aggregation). Every operator in this module drains through it.

    Why this shape and not a plain append sink:

    - **Executor-side writes, nothing on the driver**: rows flow from the
      micro-batch tasks straight to parquet.
    - **Idempotent replay**: after a crash, Structured Streaming re-runs
      the last uncommitted batch with the SAME batch_id; a blind append
      would duplicate the rows of a partially-written batch, while
      overwrite of the per-batch directory converges to exactly-once at
      the file level (the standard foreachBatch idempotence pattern).
    - **Durable restart**: pass a persistent ``checkpoint_dir`` (plus the
      same ``out_dir``) and a killed pipeline resumes from the state
      store without loss — pinned by tests/test_stream_recovery.py.

    Returns a lazy parquet scan over all batch directories. Without an
    ``out_dir`` the emissions go to a ``scratch_dir``: it outlives the call
    (the scan reads it) and goes when the process exits.
    """
    spark = stream_df.sparkSession
    if out_dir is None:
        out_dir = scratch_dir("pmr_stream_out_")
    os.makedirs(out_dir, exist_ok=True)  # an empty stream commits no batch
    ckpt = checkpoint_dir or _ckpt_dir()

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch-{batch_id:09d}")
        )

    confs = {"spark.sql.shuffle.partitions": str(_STREAM_PARTITIONS)}
    if checkpoint_dir is None:
        # A temp checkpoint is never resumed, so its state stores take no
        # snapshot. A due snapshot is uploaded by the store's background
        # maintenance up to one maintenanceInterval (60 s) later, which
        # re-created ``state/<op>/<part>/<version>.zip`` in the removed
        # checkpoint, even after the process's exit hook had run.
        # Closing the stores instead costs ~0.4 s per partition.
        confs["spark.sql.streaming.stateStore.minDeltasForSnapshot"] = str(2**31 - 1)
    try:
        # Reusing an out_dir with a FRESH checkpoint restarts batch ids at
        # 0: stale higher-numbered batch dirs from an earlier run would
        # survive the per-batch overwrite and be silently folded into the
        # read-back (duplicate/foreign rows — ADVICE r8). The converse
        # (ADVICE r9): RESUMING a checkpoint against a fresh/wrong out_dir
        # would skip the committed batches' replay and silently lose their
        # output. On restart Spark replays only the latest planned batch,
        # so every batch below it is done even if its commit file is
        # missing. Inside the try, so a refusal removes a temp checkpoint.
        planned = _last_batch(ckpt, "offsets")
        done = max(_last_batch(ckpt, "commits"), planned - 1)
        _guard_stale_batches(out_dir, done, planned)
        _guard_resume_outputs(out_dir, done)
        with _session_confs(spark, confs):
            out = transform(stream_df)
            schema = out.schema
            q = (
                out.writeStream.foreachBatch(_write_batch)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        if checkpoint_dir is None:  # caller-provided checkpoints persist
            shutil.rmtree(ckpt, ignore_errors=True)
    batches = [p for _, p in _batch_dirs(out_dir)]
    if not batches:  # empty stream: no batch committed, schema still known
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*batches)


def stage_pipeline(
    spark: SparkSession,
    chunks_df: DataFrame,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """W1: run the black-box map stage over a staged chunk stream.

    Returns (doc_id, chunk_id, out_text, n_out_tokens) — value-identical to
    the batch `llm_map` plan, produced by genuine micro-batch execution
    and drained through ``_run_to_parquet`` into ``out_dir`` (a temp dir
    when not given).
    """
    with _stage_stream(spark, chunks_df) as stream:
        return _run_to_parquet(
            stream, mapstage.llm_map, out_dir=out_dir, checkpoint_dir=checkpoint_dir
        )


# --- W2: cross-stage per-doc state on Spark's state store --------------------

#: Confs the W2 aggregation starts under: Spark's bundled RocksDB state
#: store with changelog checkpointing, so a micro-batch commits only the
#: per-doc rows it changed instead of a snapshot of every doc's history.
#: The provider is recorded in the checkpoint's offset log, so a resumed
#: query keeps the store it was created with.
_W2_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def _w2_history(stream_df: DataFrame, model_fn=None) -> DataFrame:
    """Map each arriving chunk, then keep every doc's chunk history in the
    state store: ``(doc_id, ps)`` with ``ps`` the list of
    ``(arrival, chunk_id, out_text)`` seen so far. In update mode each
    micro-batch yields exactly the docs it touched.

    ``arrival`` is the micro-batch timestamp in microseconds. It is a
    column BEFORE the aggregate because Spark rejects non-deterministic
    aggregate arguments; Spark records the batch timestamp in the offset
    log, so a replayed batch gets the same value. Batches are ordered by
    it, which assumes consecutive micro-batches start in different
    milliseconds, the timestamp's resolution (each one first commits a
    state-store version and writes its emission)."""
    return (
        mapstage.llm_map(stream_df, model_fn=model_fn)
        .withColumn("arrival", F.unix_micros(F.current_timestamp()))
        .groupBy("doc_id")
        .agg(
            F.collect_list(F.struct("arrival", "chunk_id", "out_text")).alias("ps")
        )
    )


def _w2_run(
    stream_df: DataFrame,
    emit,
    model_fn=None,
    out_dir: str | None = None,
    state_dir: str | None = None,
) -> DataFrame:
    """Run ``emit(_w2_history(stream))`` through the durable parquet sink
    (``_run_to_parquet``: ``out_dir/batch-<id>`` with per-batch overwrite
    and the stale/resume guards) on the RocksDB state store.

    The state store lives in the checkpoint: ``state_dir/checkpoint``
    when a ``state_dir`` is given (kept, so the run resumes from it),
    else a temp dir removed after the run."""
    spark = stream_df.sparkSession
    ckpt = None if state_dir is None else os.path.join(state_dir, "checkpoint")
    with _session_confs(spark, _W2_STATE_STORE):
        return _run_to_parquet(
            stream_df,
            lambda s: emit(_w2_history(s, model_fn)),
            out_dir=out_dir,
            checkpoint_dir=ckpt,
            output_mode="update",
        )


def _acc_emit(hist: DataFrame) -> DataFrame:
    """Accumulator emission: the doc's chunk count and its outputs joined
    in chunk order, whatever order the chunks arrived in."""
    return hist.select(
        "doc_id",
        F.size("ps").alias("n_chunks_seen"),
        F.array_join(
            F.expr(
                "array_sort(transform(ps, p -> named_struct("
                "'chunk_id', p.chunk_id, 'out_text', p.out_text)))"
            ).getField("out_text"),
            " ",
        ).alias("acc_text"),
    )


def stateful_accumulate(
    spark: SparkSession,
    chunks_df: DataFrame,
    model_fn=None,
    out_dir: str | None = None,
    state_dir: str | None = None,
) -> DataFrame:
    """W2: cross-stage accumulator over staged micro-batch arrival (the
    ``total_res_toks`` analog, ``test_proactive.py:327-328``).

    Each micro-batch emits ``(doc_id, n_chunks_seen, acc_text)`` for the
    docs it touched: the running accumulation in chunk order. The final
    update per doc (n_chunks_seen == its chunk count) equals batch
    ``incremental_concat``. ``model_fn`` is the same black-box map seam
    as the batch path. The per-doc chunk history lives in Spark's state
    store (see ``_w2_run`` for where); emissions land under ``out_dir``
    and the result is a lazy read of them."""
    with _stage_stream(spark, chunks_df) as stream:
        return _w2_run(
            stream, _acc_emit, model_fn,
            out_dir=out_dir, state_dir=state_dir,
        )


def _refeed_fold(chain0: str, acc0: str, finish: str = "s -> s.ems") -> str:
    """The refeed recursion as ONE higher-order ``aggregate()`` over the
    ``xs`` array: thread ``(chain, acc_words)`` from the ``(chain0, acc0)``
    seed through the rows in array order and collect one emission per
    row: ``chain_n = md5(chain_{n-1} || out_n)[:8]`` and the word count
    accumulated before the row. md5/split/filter/substring are JVM
    expressions, so the fold costs no Python; a NULL ``out_text`` counts
    as ''. Each row's ``batch_id`` field is carried into its emission.

    Seeding from a fold's final state and folding the rest emits exactly
    the rest of the whole fold (pinned by tests/test_property_ops.py)."""
    return f"""
    aggregate(
      xs,
      struct(cast({chain0} as string) as chain, cast({acc0} as bigint) as acc,
             cast(array() as
                  array<struct<chunk_id:int,acc_words_before:bigint,
                               chain:string,batch_id:int>>) as ems),
      (s, x) -> named_struct(
         'chain', substring(md5(concat(s.chain, coalesce(x.out_text, ''))), 1, 8),
         'acc', s.acc + size(filter(split(coalesce(x.out_text, ''), ' '),
                                    w -> w != '')),
         'ems', array_append(s.ems, named_struct(
                'chunk_id', x.chunk_id,
                'acc_words_before', s.acc,
                'chain', substring(md5(concat(s.chain, coalesce(x.out_text, ''))),
                                   1, 8),
                'batch_id', x.batch_id))),
      {finish}
    )"""


#: The zero-seed fold over a doc's whole history.
_REFEED_FOLD = _refeed_fold("''", "0")


def _refeed_emit(hist: DataFrame) -> DataFrame:
    """Refeed emission: fold the doc's history in arrival order (arrival,
    then chunk_id within a micro-batch) and keep the emissions of the
    chunks that arrived in this micro-batch, i.e. whose ``arrival`` is
    the doc's latest. The fold's ``batch_id`` field is unused here (0)."""
    return (
        hist.select("doc_id", F.array_sort("ps").alias("h"))
        .withColumn(
            "xs",
            F.expr(
                "transform(h, p -> named_struct('chunk_id', p.chunk_id, "
                "'out_text', p.out_text, 'batch_id', 0))"
            ),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"filter({_REFEED_FOLD}, "
                    "(e, i) -> h[i].arrival = h[size(h) - 1].arrival)"
                )
            ).alias("e"),
        )
        .select("doc_id", "e.chunk_id", "e.acc_words_before", "e.chain")
    )


def refeed_chain(
    spark: SparkSession,
    chunks_df: DataFrame,
    model_fn=None,
    out_dir: str | None = None,
    state_dir: str | None = None,
) -> DataFrame:
    """W2 v2: the sequential re-feed loop (``test_proactive_2.py:228-233``)
    as keyed streaming state.

    Stages arrive one micro-batch at a time; each emitted row
    ``(doc_id, chunk_id, acc_words_before, chain)`` carries the output
    word count accumulated before the chunk and a rolling md5 chain over
    the outputs in arrival order. The chain is order-sensitive, so any
    replayed, reordered or lost stage changes every later value. The
    batch-equivalent oracle is a recursive fold over the mapped chunks in
    chunk order (DuckDB recursive CTE). State is the per-doc chunk
    history, as for ``stateful_accumulate``, on the same runner."""
    with _stage_stream(spark, chunks_df) as stream:
        return _w2_run(
            stream, _refeed_emit, model_fn,
            out_dir=out_dir, state_dir=state_dir,
        )


def final_accumulation(updates: DataFrame) -> DataFrame:
    """Reduce W2's running updates to the final row per doc (max stage).

    A row_number window reads the emissions once and shuffles them once by
    doc_id; a self-join against each doc's max ``n_chunks_seen`` would
    scan them twice."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("n_chunks_seen").desc())
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("n_chunks_seen").cast("long").alias("n_chunks"),
            F.col("acc_text").alias("final_text"),
        )
    )


# --- watermarked event-time windows (engine capability, SURVEY §2.10) -------

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


#: Arrival buckets (micro-batches) of the watermarked operators' events.
_EVENT_BUCKETS = 2
#: Watermark lateness of ``windowed_counts_with_watermark``.
_WINDOW_LATENESS = "1 hour"
#: Watermark lateness of ``stream_dedup``: how long a key's first
#: sighting is kept to drop its re-deliveries.
_DEDUP_LATENESS = "2 hours"
#: ``stream_stream_join`` pairs each click with every view of the same
#: user within ±30 minutes (the oracle hard-codes the same values).
_JOIN_LEFT, _JOIN_RIGHT, _JOIN_WITHIN = "click", "view", "30 minutes"


def write_event_files(events_df: DataFrame, n_buckets: int = 4):
    """Split events into ts-ordered bucket files (bucket k arrives k-th).
    One distributed write job via _write_ordered.

    Returns ``(root, hi)`` with ``hi`` = max(ts) (None for empty input):
    it is already computed for the bucket spans, so callers that need the
    sentinel bound reuse it instead of re-scanning the input."""
    root = scratch_dir("pmr_events_")
    bounds = events_df.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:  # empty input: one empty arrival dir, zero batches
        _write_ordered(
            events_df.withColumn("bucket", F.lit(0)).select(
                "event_id", "user_id", "event_type", "ts", "value", "bucket"
            ),
            "bucket",
            root,
        )
        return root, hi
    span = max((hi - lo).total_seconds(), 1.0)
    bucketed = events_df.withColumn(
        "bucket",
        F.least(
            F.floor((F.unix_timestamp("ts") - F.lit(int(lo.timestamp()))) / (span / n_buckets)),
            F.lit(n_buckets - 1),
        ).cast("int"),
    ).select("event_id", "user_id", "event_type", "ts", "value", "bucket")
    _write_ordered(bucketed, "bucket", root)
    return root, hi


@contextlib.contextmanager
def _event_stream(spark: SparkSession, events_df: DataFrame, sentinel_types, dups=None):
    """Yield the watermarked operators' event stream, one file per
    micro-batch: the ``_EVENT_BUCKETS`` ts-ordered bucket files, then
    ``dups`` (re-delivered copies) as one later file when given, then one
    flush-sentinel row per entry of ``sentinel_types`` (``event_id`` -1,
    ts ``_sentinel_ts(max ts)``). Append mode emits a window or a join
    pair only once the watermark passes it, so the sentinels arriving
    last flush the trailing state; callers filter them from the result.
    The files are removed on exit."""
    root, hi = write_event_files(events_df, n_buckets=_EVENT_BUCKETS)
    try:
        tail = [] if dups is None else [dups.select(*EVENT_SCHEMA.fieldNames())]
        tail.append(
            spark.createDataFrame(
                [(-1, -1, t, _sentinel_ts(hi), 0.0) for t in sentinel_types],
                EVENT_SCHEMA,
            )
        )
        for df in tail:
            df.coalesce(1).write.mode("append").parquet(root)
        yield (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def windowed_counts_with_watermark(spark: SparkSession, events_df: DataFrame) -> DataFrame:
    """Tumbling 1h window counts under a watermark.

    Buckets arrive in ts order, so no on-time data is dropped and the
    result equals the batch aggregation (oracle-checkable) while running
    the real watermark/append path. The sentinel aggregates into its own
    ``(window, '__sentinel__')`` row, which the result filters out (the
    oracle aggregates only the real events).
    """

    def transform(s: DataFrame) -> DataFrame:
        return (
            s.withWatermark("ts", _WINDOW_LATENESS)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                # exact DECIMAL(38,6) state (functions/numeric.decimal_sum
                # rationale): the micro-batch arrival order re-associates
                # the sum, so a double accumulator couldn't promise
                # ==-batch-equivalence for uncapped magnitudes
                F.round(F.sum(F.col("value").cast("decimal(38,6)")), 2)
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                (F.unix_timestamp(F.col("w.start")) / 3600).cast("bigint").alias("hour_bucket"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    with _event_stream(spark, events_df, ["__sentinel__"]) as stream:
        # Filtering on event_type removes exactly the sentinel's row —
        # immune to the driver-local-vs-session timezone skew a recomputed
        # epoch bucket would carry on non-UTC hosts (createDataFrame
        # interprets naive timestamps in local time;
        # pd.Timestamp.timestamp() in UTC).
        return _run_to_parquet(stream, transform).filter(
            # null-SAFE inequality: a plain != drops NULL event_type
            # rows (NULL != x is NULL), silently diverging from the
            # batch form, which groups them — nulls value gate find
            ~F.col("event_type").eqNullSafe("__sentinel__")
        )


def stream_dedup(spark: SparkSession, events_df: DataFrame) -> DataFrame:
    """Watermarked streaming deduplication (`dropDuplicatesWithinWatermark`)
    over an event stream carrying injected duplicates.

    The engine-side analog of at-least-once ingestion: every event with
    `event_id % 10 == 0` is delivered twice (second copy in a later
    micro-batch), and the stream must emit each event exactly once. The
    dedup key is event_id; `dropDuplicatesWithinWatermark` keeps key state
    only until the watermark passes the first sighting plus the lateness
    bound — so state is O(events within the watermark horizon), not
    O(stream length). Batch oracle: DISTINCT over the same duplicated
    input (sql-checked).

    Scale: key state shards by event_id across executors in the state
    store; the watermark bound is what makes this viable on an unbounded
    100 TB/day stream where an unbounded-state distinct would OOM.
    """

    def transform(s: DataFrame) -> DataFrame:
        return (
            s.withWatermark("ts", _DEDUP_LATENESS)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("ts_us"),
                "value",
            )
        )

    dups = events_df.filter(F.col("event_id") % 10 == 0)
    with _event_stream(spark, events_df, ["__sentinel__"], dups) as stream:
        return _run_to_parquet(stream, transform).filter(F.col("event_id") >= 0)


def stream_stream_join(spark: SparkSession, events_df: DataFrame) -> DataFrame:
    """Watermarked stream-stream inner join: per user, pair each click
    event with every view event within ±30 minutes.

    The hardest streaming feature the reference lacks entirely: both
    sides buffer state bounded by their watermarks; the range condition
    lets Spark evict rows once the other side's watermark passes. Bucket
    arrival is in ts order and a far-future sentinel flushes trailing
    state, so the streamed result equals the batch interval join — the
    oracle checks exactly that.

    Scale: state is keyed by user_id → shards across executors; watermark
    bounds buffered rows to the join interval per side regardless of
    total stream length.
    """

    def side(s: DataFrame, event_type: str, p: str) -> DataFrame:
        return (
            s.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{p}_user"),
                F.col("event_id").alias(f"{p}_id"),
                F.col("ts").alias(f"{p}_ts"),
            )
            .withWatermark(f"{p}_ts", _JOIN_WITHIN)
        )

    def transform(s: DataFrame) -> DataFrame:
        within = F.expr(f"INTERVAL {_JOIN_WITHIN}")
        joined = side(s, _JOIN_LEFT, "l").join(
            side(s, _JOIN_RIGHT, "r"),
            (F.col("l_user") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("l_ts") - within)
            & (F.col("r_ts") <= F.col("l_ts") + within),
        )
        return joined.select(
            F.col("l_user").alias("user_id"),
            "l_id",
            "r_id",
            (F.unix_micros("r_ts") - F.unix_micros("l_ts")).cast("bigint").alias("gap_us"),
        )

    # the sentinels carry the REAL side types: they advance each side's
    # watermark downstream of the type filter
    with _event_stream(spark, events_df, [_JOIN_LEFT, _JOIN_RIGHT]) as stream:
        return _run_to_parquet(stream, transform).filter(
            (F.col("l_id") >= 0) & (F.col("r_id") >= 0)
        )


def stream_static_enrich(
    spark: SparkSession, events_df: DataFrame, dim_df: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: a streaming fact joined per
    micro-batch to a broadcast batch dimension (events x customer).

    The standard streaming-ETL enrichment pattern: the static side is a
    plain DataFrame re-resolved each micro-batch, no state store and no
    watermark needed for an inner equi-join (each batch's output is
    final). The streamed result equals the batch join — the oracle checks
    exactly that.

    Scale: the dimension broadcasts to every executor once per batch;
    the stream side never shuffles (map-side hash join), so throughput
    is scan-bound regardless of stream length. A growing dimension
    flips to pre-bucketed storage joined by key — same code, different
    join strategy under AQE.
    """
    root, _ = write_event_files(events_df)
    dim = F.broadcast(dim_df)

    def transform(s: DataFrame) -> DataFrame:
        return s.join(dim, s["user_id"] == dim["c_custkey"], "inner").select(
            "event_id",
            "user_id",
            "event_type",
            F.col("c_mktsegment").alias("segment"),
            F.round("value", 6).alias("value"),
        )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(root)
    try:
        return _run_to_parquet(stream, transform)
    finally:
        shutil.rmtree(root, ignore_errors=True)
