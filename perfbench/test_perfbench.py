"""Tests of the benchmark's own logic: python3 -m pytest perfbench -q

The last test starts a local Spark session (~15 s)."""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
from ref import (  # noqa: E402
    check_doc_results,
    equal_chunks,
    expected_scores,
    reference_output,
    self_times,
    set_f1,
    tail,
)
from spans import Tracer, parse_metric  # noqa: E402
from workloads import Leaks, OpResult  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    t = tail(xs)
    assert t["value"] == 20.0 and t["beyond"] == 10
    assert t["pct"] == pytest.approx(66.7)
    assert sum(x > t["value"] for x in xs) == 10
    t = tail([float(i) for i in range(100)])
    assert t["value"] == 89.0 and t["pct"] == 90.0


def test_tail_with_few_samples_reports_the_median():
    t = tail([3.0, 1.0, 2.0, 5.0, 4.0])
    assert t["value"] == 3.0 and t["pct"] == 50.0 and t["n"] == 5
    # 20 samples: exactly ten beyond the median rank
    t = tail([float(i) for i in range(20)])
    assert t["value"] == 9.0 and t["beyond"] == 10


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end, "op": 1}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: covered [1, 6]
        _span(3, 0, 8.0, 9.0),
        _span(4, 1, 1.5, 2.0),  # grandchild: only its parent subtracts it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)
    # self times of a tree that does not overlap add up to the root's wall
    tree = [s for s in spans if s["id"] != 2]
    assert sum(self_times(tree).values()) == pytest.approx(10.0)


def test_tracer_self_times_add_up_to_the_op_wall():
    tr = Tracer()
    tr.op_id = 7
    with tr.span("op") as root:
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("a"):
            pass
    st = tr.op_self_times(7)
    assert set(st) == {"op", "a", "b"}
    assert sum(st.values()) == pytest.approx(root["end"] - root["start"])


def test_layer_metrics_pair_each_result_with_its_own_op():
    import run

    tr = Tracer()
    tr.op_id = 1  # op 1 raised after recording spans: it has no result
    with tr.span("op"):
        with tr.span("scoring.score"):
            time.sleep(0.05)
    tr.op_id = 2
    with tr.span("op") as root:
        with tr.span("scoring.score"):
            pass
    wall = root["end"] - root["start"]
    traced = [OpResult(wall, wall, [wall], 1, "", op_id=2)]
    detail: dict = {}
    m = run.layer_metrics(tr, traced, traced, [1.0], [0.1], [(0, 0)], detail)
    assert m["scoring.score_s"]["value"] < 0.04
    assert detail["attribution_error_s"] == pytest.approx(0.0, abs=1e-9)


def test_leak_sweep_counts_and_deletes_only_new_dirs(tmp_path):
    roots = [tmp_path / "tmp", tmp_path / "shm"]
    for r in roots:
        r.mkdir()
    (roots[1] / "pmr_ckpt_old").mkdir()
    leaks = Leaks([str(r) for r in roots])
    (roots[0] / "pmr_stream_x").mkdir()
    (roots[0] / "pmr_stream_x" / "f").write_bytes(b"12345")
    (roots[1] / "pmr_ckpt_new").mkdir()
    (roots[1] / "other").mkdir()
    assert leaks.sweep() == (2, 5)
    assert sorted(p.name for r in roots for p in r.iterdir()) == ["other", "pmr_ckpt_old"]
    assert leaks.sweep() == (0, 0)


def test_parse_metric_reads_the_total():
    assert parse_metric("1.3 s") == pytest.approx(1.3)
    assert parse_metric("791 ms") == pytest.approx(0.791)
    assert parse_metric("4.1 MiB") == pytest.approx(4.1 * 2**20)
    text = "total (min, med, max (stageId: taskId))\n1365.0 B (337.0 B, 344.0 B, 344.0 B (stage 3.0: task 8))"
    assert parse_metric(text) == 1365.0


def test_corpus_is_a_function_of_the_seed():
    d1, g1, s1 = gen.corpus_frames(5, 10)
    d2, g2, s2 = gen.corpus_frames(5, 10)
    assert d1.equals(d2) and g1.equals(g2) and s1 == s2
    d3, _, s3 = gen.corpus_frames(6, 10)
    assert s3["hash"] != s1["hash"]
    for s in (s1, s3):  # fixed word budget: op cost does not swing with the seed
        assert abs(s["words"] - gen.CORPUS_WORDS) < 0.01 * gen.CORPUS_WORDS
    assert list(d1.columns) == ["doc_id", "text", "lang", "source", "n_chars"]


def test_reference_chunker_rule():
    words = [f"w{i}" for i in range(23)]
    chunks = equal_chunks(words, 10)
    assert [len(c) for c in chunks] == [2] * 9 + [5]
    assert equal_chunks(words[:3], 10) == [words[:3]]  # shorter than stages
    assert reference_output("a b c d", 2) == "b a d c"


def test_scores_and_check_reject_a_wrong_reference():
    text = " ".join(f"w{i}" for i in range(40))
    gt = reference_output(text, 10)
    want = {0: expected_scores(text, gt, 10)}
    assert want[0] == {"n_chunks": 10, "exact_match": 1, "f1": 1.0}
    row = {"doc_id": 0, "n_chunks": 10, "exact_match": 1, "f1": 1.0}
    assert check_doc_results([row], want) == []
    wrong = {0: expected_scores(text, gt + " extra", 10)}
    assert check_doc_results([row], wrong)
    assert check_doc_results([], want)
    assert set_f1("x y", "x z") == pytest.approx(0.5)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from proactive_map_reduce_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    s.stop()


def test_reference_matches_the_engine_on_short_docs(spark):
    from proactive_map_reduce_spark.pipeline import ProactivePipeline

    texts = ["one", "two words", "a b c d e f g h i", " ".join(f"t{i}" for i in range(10)),
             " ".join(f"u{i}" for i in range(37))]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = ProactivePipeline(spark, num_steps=10).chunk(docs).collect()
    for i, t in enumerate(texts):
        got = sorted((r.chunk_id, r.chunk_text) for r in rows if r.doc_id == i)
        want = [" ".join(c) for c in equal_chunks(t.split(" "), 10)]
        assert [c for _, c in got] == want
        if len(t.split(" ")) < 10:
            assert [cid for cid, _ in got] == [9]
