"""End-to-end ProactivePipeline: batch == streaming, scoring sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from proactive_map_reduce_spark.pipeline import ProactivePipeline


def _corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    # ground truth = the stand-in model's ideal output: per-chunk reversal
    pipe = ProactivePipeline(spark, num_steps=4)
    gt = (
        pipe.reduce_stage(pipe.map_stage(pipe.chunk(docs)))
        .select("doc_id", F.col("final_text").alias("gt_text"))
    )
    return docs, gt


def test_batch_pipeline_scores_perfect_against_own_output(spark):
    docs, gt = _corpus(spark)
    pipe = ProactivePipeline(spark, num_steps=4)
    res = {r["doc_id"]: r for r in pipe.run_batch(docs, gt).collect()}
    assert len(res) == 3
    for r in res.values():
        assert r["f1"] == 1.0
        assert r["exact_match"] == 1
        assert r["bleu"] == 1.0


def test_streaming_pipeline_equals_batch(spark):
    docs, gt = _corpus(spark)
    pipe = ProactivePipeline(spark, num_steps=4)
    batch = {
        (r["doc_id"], r["f1"], r["exact_match"], r["bleu"], r["n_chunks"])
        for r in pipe.run_batch(docs, gt).collect()
    }
    streamed = {
        (r["doc_id"], r["f1"], r["exact_match"], r["bleu"], r["n_chunks"])
        for r in pipe.run_streaming(docs, gt).collect()
    }
    assert batch == streamed


def test_write_results_jsonl_roundtrip(spark, tmp_path):
    docs, gt = _corpus(spark)
    pipe = ProactivePipeline(spark, num_steps=4)
    out = str(tmp_path / "r")
    pipe.write_results(pipe.run_batch(docs, gt), out)
    back = spark.read.json(out)
    assert back.count() == 3
    assert {"doc_id", "f1", "bleu", "exact_match", "n_chunks"} <= set(back.columns)


def test_custom_model_fn_plugs_in(spark):
    docs, _ = _corpus(spark)

    def shouty(batch):
        out = batch.copy()
        out["out_text"] = out["chunk_text"].str.upper()
        return out

    pipe = ProactivePipeline(spark, num_steps=2, model_fn=shouty)
    final = pipe.reduce_stage(pipe.map_stage(pipe.chunk(docs)))
    texts = {r["doc_id"]: r["final_text"] for r in final.collect()}
    assert texts[3] == "SHORT DOC"


def test_example_runs_from_foreign_cwd():
    """Regression: running the example entry point from OUTSIDE the repo
    used to crash every pandas-UDF task with ModuleNotFoundError — the
    driver's sys.path isn't inherited by executor workers. get_spark now
    exports PYTHONPATH before the JVM launches. Subprocess on purpose:
    the fix only acts at JVM creation, so an in-session test can't see
    it."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(repo, "examples", "run_proactive.py"),
            "--corpus",
            "/root/testdata/sf0.001",
        ],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "'n': 500" in proc.stdout
