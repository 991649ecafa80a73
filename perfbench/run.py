"""Repository benchmark: proactive map-reduce end to end, one client, closed loop.

    python3 perfbench/run.py --workload doc_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives the user-facing API
(``pipeline.ProactivePipeline``) on ``local[nproc]``; the next op starts
only when the previous one has returned and been checked. Inputs are
generated from ``--seed`` under a scratch root inside ``perfbench/_work``
(TMPDIR and Spark's local dirs point there too) that is removed at exit.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace
1`` alternates untraced and traced ops and prints the per-layer metrics
(spans are written to ``perfbench/_work/spans-<workload>-<seed>.jsonl``).
The last stdout line is the result JSON; the line before it carries the
details (percentiles, sample counts, host, versions, input hashes).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("doc_batch", "doc_staged")
#: Session set-ups per run; setup_s is their median.
SETUPS = 3
#: Every run times at least this many ops, even past --seconds. A staged
#: op takes 8-20 s, so a 10 s run times one or two; their micro-batches
#: carry the per-emission metrics.
MIN_OPS = 1
FLOOR_REPS = 5


def host_info() -> dict:
    import duckdb
    import pyspark

    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "proactive_map_reduce_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        commit = ref
    except OSError:
        pass  # a plain checkout: the package source hash identifies the code
    return {
        "nproc": os.cpu_count(), "ram_gb": round(ram / 2**30, 1),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": sys.version.split()[0], "commit": commit,
        "package_sha": h.hexdigest()[:16],
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def host_fit(work: str) -> None:
    """Size Spark to this host and keep every temp file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the session default (16g) exceeds small hosts' RAM: a run would be
    # OOM-killed instead of spilling; a fifth of RAM leaves room for the
    # Python workers and the rest of the machine
    mem = f"{min(8, max(1, int(ram * 0.2 / 2**30)))}g"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    # initial heap = max heap: G1's run-to-run heap-growth decisions would
    # otherwise swing the JVM's resident peak by ~10% between runs
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Xms{mem}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (spark-submit's launcher too): temp files in ``work``, and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (all CPUs), from
    /proc/stat; its growth over a run says how contended the host was."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: str) -> float:
    """The process's resident-memory high-water mark (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def start_session():
    """One session set-up: start, first action, Python worker start."""
    from proactive_map_reduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    def _noop(it):
        yield from it

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(256).repartition(cpus).mapInPandas(_noop, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return spark, time.perf_counter() - t0, t1 - t0


def run(args, work: str) -> tuple[dict, dict]:
    from pyspark import SparkContext

    from ref import tail
    from spans import SqlMetrics, Tracer
    from workloads import DocWorkload, Leaks, Progress

    steal0 = steal_s()
    setups, starts = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, s, st = start_session()
        setups.append(s)
        starts.append(st)
    jvm_pid = SparkContext._gateway.proc.pid
    progress = Progress(spark)
    leaks = Leaks([os.environ["TMPDIR"], "/dev/shm"])
    t_gen = time.perf_counter()
    wl = DocWorkload(spark, args.seed, work, progress, staged=(args.workload == "doc_staged"))
    gen_s = time.perf_counter() - t_gen

    floor = []
    for _ in range(FLOOR_REPS):
        t = time.perf_counter()
        spark.range(1).count()
        floor.append(time.perf_counter() - t)

    attempted = failed = 0
    errors: list[str] = []
    tr, sql = Tracer(), SqlMetrics(spark)

    def one(kind: str):
        nonlocal attempted, failed
        attempted += 1
        tr.op_id = attempted
        try:
            res = wl.traced_op(tr, sql) if kind == "traced" else wl.op()
            errs = wl.check(res)
        except Exception:  # a raising op counts as failed; keep measuring
            res, errs = None, [traceback.format_exc(limit=3)]
        if res is not None:
            res.op_id = tr.op_id
            shutil.rmtree(res.sink, ignore_errors=True)
        n, size = leaks.sweep()
        if errs:
            failed += 1
            errors.extend(errs[:3])
        return res, n, size

    t = time.perf_counter()
    for _ in range(wl.warmup_ops):  # untimed, but checked like every op
        one("plain")
    warm_s = time.perf_counter() - t

    plain, traced, leaked = [], [], []
    measured = 0.0
    # a traced run alternates plain and traced ops
    while measured < args.seconds or len(plain) < MIN_OPS:
        for is_traced in (False, True) if args.trace else (False,):
            res, n, size = one("traced" if is_traced else "plain")
            if res is None:
                measured += 1.0  # keep the loop bounded when every op raises
                continue
            measured += res.wall_s
            (traced if is_traced else plain).append(res)
            if not is_traced:
                leaked.append((n, size))
    rss_py, rss_jvm = peak_rss_mb("self"), peak_rss_mb(str(jvm_pid))
    if args.trace:
        tr.dump(os.path.join(HERE, "_work", f"spans-{args.workload}-{args.seed}.jsonl"))
    progress.close()
    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)

    if not plain:
        raise RuntimeError("no op completed: " + " | ".join(errors[:3]))
    walls = [r.wall_s for r in plain]
    emits = [e for r in plain for e in r.emits_s]
    op_tail, emit_tail = tail(walls), tail(emits)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "docs_per_s": (statistics.median(r.items / r.wall_s for r in plain), "1/s"),
        "first_emit_s": (statistics.median(r.first_emit_s for r in plain), "s"),
        "stage_emit_p50_s": (statistics.median(emits), "s"),
        "peak_rss_mb": (rss_py + rss_jvm, "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": wl.describe(), "host": host_info(),
        "setup_samples_s": setups, "input_gen_s": gen_s, "warmup_op_s": warm_s,
        "op_walls_s": walls, "op_tail": op_tail, "stage_emit_tail": emit_tail,
        "ops": len(plain), "emits": len(emits), "rss_mb": {"python": rss_py, "jvm": rss_jvm},
        "failed_frac": failed / max(1, attempted), "errors": errors[:5],
        "process_s": time.time() - T_PROCESS, "host_steal_s": steal_s() - steal0,
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if args.trace:
        metrics = layer_metrics(tr, traced, plain, starts, floor, leaked, detail)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, detail


#: (name, unit) of every per-layer metric; layers a workload does not run
#: report 0.
LAYERS = [
    ("session.start_s", "s"), ("session.floor_s", "s"), ("sources.scan_s", "s"),
    ("chunking.build_s", "s"), ("chunking.chunks_out", "count"),
    ("mapstage.seam_s", "s"), ("mapstage.seam_tasks", "count"),
    ("mapstage.rows_in", "count"), ("mapstage.py_init_s", "s"),
    ("mapstage.py_run_s", "s"), ("mapstage.bytes_to_py", "B"),
    ("reduce.concat_s", "s"), ("reduce.shuffle_bytes", "B"),
    ("scoring.score_s", "s"), ("stream.stage_write_s", "s"),
    ("stream.batches", "count"), ("stream.batch_p50_s", "s"),
    ("stream.batch_max_s", "s"), ("stream.final_s", "s"),
    ("stream.state_bytes", "B"), ("stream.emit_bytes", "B"),
    ("stream.leaked_dirs", "count"), ("stream.leaked_bytes", "B"),
    ("stream.accumulate_s", "s"), ("sink.write_s", "s"),
    ("trace.collect_s", "s"),
    ("op.unattributed_s", "s"), ("op.traced_s", "s"), ("trace.overhead_s", "s"),
]
#: span name -> per-layer self-time metric
SPAN_METRIC = {
    "sources.scan": "sources.scan_s", "chunking.build": "chunking.build_s",
    "mapstage.seam": "mapstage.seam_s", "reduce.concat": "reduce.concat_s",
    "scoring.score": "scoring.score_s", "stream.stage_write": "stream.stage_write_s",
    "stream.accumulate": "stream.accumulate_s", "stream.final": "stream.final_s",
    "trace.collect": "trace.collect_s",
    "sink.write": "sink.write_s",
    "op": "op.unattributed_s",
}


def layer_metrics(tr, traced, plain, starts, floor, leaked, detail) -> dict:
    per_op: list[dict] = []
    attribution = []
    for res in traced:
        st = tr.op_self_times(res.op_id)
        vals = {m: 0.0 for m, _ in LAYERS}
        for span, secs in st.items():
            vals[SPAN_METRIC[span]] += secs
        vals.update({k: v for k, v in res.counters.items() if k in vals})
        vals["op.traced_s"] = res.wall_s
        per_op.append(vals)
        attribution.append(sum(st.values()) - res.wall_s)
    out = {m: statistics.median(v[m] for v in per_op) for m, _ in LAYERS}
    out["session.start_s"] = statistics.median(starts)
    out["session.floor_s"] = statistics.median(floor)
    out["stream.leaked_dirs"] = statistics.median(n for n, _ in leaked)
    out["stream.leaked_bytes"] = statistics.median(b for _, b in leaked)
    out["trace.overhead_s"] = out["op.traced_s"] - statistics.median(r.wall_s for r in plain)
    detail["attribution_error_s"] = max(abs(a) for a in attribution)
    detail["traced_ops"] = len(per_op)
    units = dict(LAYERS)
    return {m: {"value": out[m], "unit": units[m]} for m, _ in LAYERS}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "proactive_map_reduce_spark")):
        print(f"no proactive_map_reduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    host_fit(work)
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
