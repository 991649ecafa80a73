"""The benchmark workloads: one closed-loop op each, untraced and traced.

Every op runs to a sink under the run's scratch root, and ``check``
verifies that sink outside the timed region. An op returns an
``OpResult``; a traced op also records spans and layer counters.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import pandas as pd

import gen
from ref import check_doc_results, expected_scores

NUM_STEPS = 10  # the paper's deep setting (BASELINE.md)


@dataclass
class OpResult:
    wall_s: float
    first_emit_s: float
    emits_s: list[float]
    items: int
    sink: str
    counters: dict = field(default_factory=dict)
    op_id: int = 0  # the tracer's op id; spans are looked up by it


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


class Progress:
    """Benchmark-owned StreamingQueryListener: per-query micro-batch
    progress (batch duration and commit time), keyed by query id."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self._lock = threading.Lock()
        self.batches: dict[str, list[dict]] = {}
        self.done: set[str] = set()
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows <= 0:
                    return
                start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                dur = p.durationMs.get("triggerExecution", 0) / 1000.0
                with outer._lock:
                    outer.batches.setdefault(str(p.id), []).append(
                        {"batch": p.batchId, "dur_s": dur,
                         "commit": start.timestamp() + dur}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.done.add(str(event.id))

        self.listener = _L()
        spark.streams.addListener(self.listener)
        self.spark = spark

    def mark(self) -> set[str]:
        with self._lock:
            return set(self.batches) | set(self.done)

    def since(self, before: set[str], timeout: float = 30.0) -> list[dict]:
        """Batches of the queries that started after ``before``; waits for
        their termination events (the listener bus is asynchronous)."""
        deadline = time.time() + timeout
        while True:
            with self._lock:
                new = (set(self.batches) | set(self.done)) - before
                if new and new <= self.done:
                    return sorted(
                        (b for q in new for b in self.batches.get(q, [])),
                        key=lambda b: b["commit"],
                    )
            if time.time() > deadline:
                raise TimeoutError("streaming progress events did not arrive")
            time.sleep(0.02)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


class Leaks:
    """``pmr_*`` dirs an op leaves behind: the library's temp dirs under
    TMPDIR and its streaming checkpoints, which it puts on /dev/shm when
    that exists. Dirs that were there before the run are left alone."""

    def __init__(self, roots: list[str]) -> None:
        self.roots = roots
        self.before = self._list()

    def _list(self) -> set[str]:
        return {p for r in self.roots for p in glob.glob(os.path.join(r, "pmr_*"))}

    def sweep(self) -> tuple[int, int]:
        """Count, size and delete the dirs that appeared since the last sweep."""
        new = self._list() - self.before
        size = sum(dir_bytes(p) for p in new)
        for p in new:
            shutil.rmtree(p, ignore_errors=True)
        self.before = self._list()
        return len(new), size


# --- long-document workloads -------------------------------------------------


class DocWorkload:
    def __init__(self, spark, seed: int, work: str, progress: Progress, staged: bool):
        from proactive_map_reduce_spark.pipeline import ProactivePipeline

        self.spark, self.work, self.staged = spark, work, staged
        self.progress = progress
        self.corpus = os.path.join(work, "corpus")
        self.spec = gen.long_corpus(seed, self.corpus, NUM_STEPS)
        self.expected = {
            i: expected_scores(self.spec["text"][i], self.spec["gt"][i], NUM_STEPS)
            for i in self.spec["text"]
        }
        self.pipe = ProactivePipeline(spark, num_steps=NUM_STEPS)
        # untimed warm-up ops: the first batch ops run up to 4x slow
        # (codegen, JIT, Python workers). After a staged op over a few docs
        # the next full ones still run ~30% slow and swing between runs,
        # so the staged warm-up is one full op.
        self.warmup_ops = 1 if staged else 3
        self.n = 0

    def describe(self) -> dict:
        return {k: v for k, v in self.spec.items() if k not in ("gt", "text")}

    def _inputs(self):
        from proactive_map_reduce_spark.sources.tables import load_table

        return (load_table(self.spark, self.corpus, "documents"),
                load_table(self.spark, self.corpus, "ground_truth"))

    def _sink(self) -> str:
        self.n += 1
        return os.path.join(self.work, "sink", f"op-{self.n:05d}")

    def op(self) -> OpResult:
        sink = self._sink()
        before = self.progress.mark()
        t0 = time.time()
        docs, gt = self._inputs()
        run = self.pipe.run_streaming if self.staged else self.pipe.run_batch
        self.pipe.write_results(run(docs, gt), sink)
        wall = time.time() - t0
        n = len(self.expected)
        if not self.staged:
            return OpResult(wall, wall, [wall], n, sink)
        batches = self.progress.since(before)
        return OpResult(
            wall, batches[0]["commit"] - t0, [b["dur_s"] for b in batches], n, sink
        )

    def traced_op(self, tr, sql) -> OpResult:
        from proactive_map_reduce_spark.streaming import proactive as stream_ops

        sink = self._sink()
        before = self.progress.mark()
        cached, c = [], {}

        def force(df):
            df = df.persist()
            cached.append(df)
            return df, df.count()

        def take():  # reading Spark's metric store is tracing cost, not a layer's
            with tr.span("trace.collect"):
                return sql.take()

        sql.take()
        t0 = time.time()
        with tr.span("op") as root:
            with tr.span("sources.scan"):
                (docs, _), (gt, _) = (force(d) for d in self._inputs())
            with tr.span("chunking.build"):
                chunks, c["chunking.chunks_out"] = force(self.pipe.chunk(docs))
            if self.staged:
                sd, od = (os.path.join(self.work, d, f"op-{self.n:05d}") for d in ("state", "emit"))
                take()
                with tr.span("stream.accumulate"), tr.wrapped(
                    stream_ops, "write_stage_files", "stream.stage_write"
                ):
                    updates = stream_ops.stateful_accumulate(
                        self.spark, chunks, state_dir=sd, out_dir=od
                    )
                c.update(("mapstage." + k, v) for k, v in take().items() if k != "shuffle_bytes")
                c["mapstage.rows_in"] = c["chunking.chunks_out"]  # every chunk crosses the seam
                with tr.span("stream.final"):
                    final, _ = force(stream_ops.final_accumulation(updates))
            else:
                take()
                with tr.span("mapstage.seam"):
                    mapped, c["mapstage.rows_in"] = force(self.pipe.map_stage(chunks))
                c.update(("mapstage." + k, v) for k, v in take().items() if k != "shuffle_bytes")
                with tr.span("reduce.concat"):
                    final, _ = force(self.pipe.reduce_stage(mapped))
                c["reduce.shuffle_bytes"] = take()["shuffle_bytes"]
            with tr.span("scoring.score"):
                res, _ = force(self.pipe.score(final, gt))
            with tr.span("sink.write"):
                self.pipe.write_results(res, sink)
        wall = root["end"] - root["start"]
        c["mapstage.seam_tasks"] = chunks.rdd.getNumPartitions()
        for df in cached:
            df.unpersist()
        if not self.staged:
            return OpResult(wall, wall, [wall], len(self.expected), sink, c)
        batches = self.progress.since(before)
        c["stream.state_bytes"], c["stream.emit_bytes"] = dir_bytes(sd), dir_bytes(od)
        shutil.rmtree(sd, ignore_errors=True)
        shutil.rmtree(od, ignore_errors=True)
        durs = [b["dur_s"] for b in batches]
        c.update({"stream.batches": len(batches), "stream.batch_p50_s": statistics.median(durs),
                  "stream.batch_max_s": max(durs)})
        return OpResult(wall, batches[0]["commit"] - t0, durs, len(self.expected), sink, c)

    def check(self, res: OpResult) -> list[str]:
        rows = []
        for f in sorted(glob.glob(os.path.join(res.sink, "*.json"))):
            if os.path.getsize(f):
                rows.extend(pd.read_json(f, lines=True).to_dict("records"))
        return check_doc_results(rows, self.expected)
