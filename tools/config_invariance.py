"""Runtime-config invariance probes (round-6 evidence tool).

Row-order invariance (``tools/order_invariance.py``, 131/131 in r5)
proved results don't depend on parquet physical order. Two more axes
vary freely on a real cluster and are the same class of trap:

- **parallelism / shuffle-partition count**: a 1000-executor cluster
  re-plans every exchange with a different partition count than
  local[32]'s 32. Any value that depends on how rows are sliced across
  partitions — a float sum's reduction order, a LIMIT without a total
  order, a per-partition rand seed — changes with it. The engine's
  exact decimal/int64 accumulation work claims partition-count
  independence; this makes the claim a measured artifact.
- **process timezone**: the driver may run under any TZ. Spark pins
  ``spark.sql.session.timeZone=UTC`` (session.py) but DuckDB's
  ``timezone`` follows the system TZ, the JVM captures its default TZ
  at launch, and Python's datetime repr is what the comparator hashes —
  epoch-vs-local conversion drift is the classic cross-engine split
  (the r4 tz-safe sentinel fix in q_stream_window_late was this class).

Each probe re-runs the FULL cross-engine gate (``compare_oracle.py`` —
same comparator, same canonicalization, zero probe-specific tolerance)
in a subprocess whose environment carries the perturbation:

  shuffle7   SPARK_GRAFT_CPUS=7  → local[7], 7 shuffle partitions
             (coprime to 32: no partition boundary survives the remap)
  local8     SPARK_GRAFT_CPUS=8  → local[8], 8 shuffle partitions
             (power-of-two subdivision — the "easy" remap must also hold)
  tz_newyork TZ=America/New_York → JVM, Python and DuckDB all see a
             non-UTC system zone; Spark's session pin must make the
             engines agree anyway
  locale_turkish LANG/LC_ALL=tr_TR.UTF-8 → the JVM's default locale
             follows the OS env; the builder's -Duser.language=en pin
             must keep lower('İ')/lower('I') on the pinned contract
  aqe_off    SPARK_GRAFT_AQE=false → adaptive execution disabled; hashes
             must not depend on AQE's runtime plan rewrites

Spark-vs-oracle agreement under a perturbed config implies value
equality with the canonical run wherever the oracle itself is
config-independent (the partition probes: DuckDB doesn't read Spark
confs). The TZ probe is stronger than self-comparison: it checks the
ENGINES still agree when the whole process moves zones, which is what
the driver's hash actually needs.

Usage: python tools/config_invariance.py [sf_dir] [--probes=a,b]
       [--sfs=sf0.001,sf0.1] [--out=FILE] [--merge]
--merge keeps prior probe rows in the artifact (incremental runs
accumulate; "ok" is recomputed over the union). Writes
CONFIG_INVARIANCE.json at the repo root (one JSON line).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBES: dict[str, dict[str, str]] = {
    "shuffle7": {"SPARK_GRAFT_CPUS": "7"},
    "local8": {"SPARK_GRAFT_CPUS": "8"},
    "tz_newyork": {"TZ": "America/New_York"},
    # half-hour-offset zone: the classic window/bucket-boundary trap —
    # any path that buckets in LOCAL time instead of the pinned session
    # UTC shifts every tumbling/session boundary by :30 here
    "tz_kolkata": {"TZ": "Asia/Kolkata"},
    # Turkish-locale environment (ADVICE r6): the JVM derives its default
    # locale from LANG/LC_ALL at launch, and Java's toLowerCase under
    # tr_TR maps 'I'→'ı' / 'İ'→'i' — which would break the İ full-casing
    # engine-agreement contract (oracles/reference_ops.py). session.py
    # pins -Duser.language=en on the builder; this probe proves the pin
    # holds when the whole process moves to a Turkish locale.
    "locale_turkish": {"LANG": "tr_TR.UTF-8", "LC_ALL": "tr_TR.UTF-8"},
    # AQE disabled: adaptive execution rewrites physical plans at runtime
    # (shuffle coalescing, skew-join splits, join-strategy demotion).
    # Hash equality with AQE off closes the last planner-nondeterminism
    # axis — results must not depend on which physical strategy ran.
    "aqe_off": {"SPARK_GRAFT_AQE": "false"},
    # The interactive regime COMPOSED (r7): session.tune_for_input picks
    # AQE-off + small shuffle-partition counts for small inputs; this
    # probe runs both perturbations together (coprime partitions so no
    # boundary survives) — the exact config class bench.py executes.
    "interactive7": {"SPARK_GRAFT_AQE": "false", "SPARK_GRAFT_CPUS": "7"},
}


def run_probe(
    name: str,
    env_overlay: dict[str, str],
    sf_dir: str,
    extra_args: list[str] | None = None,
    timings: bool = False,
) -> dict:
    """Run the full cross-engine gate under ``env_overlay``.

    ``timings=True`` additionally returns a per-query ``query_secs`` map
    parsed from the gate's PASS/rows lines (r9 verdict item: the sf1
    gate's total hid its distribution — the r8 long pole was only found
    by re-timing a query by hand; per-query seconds belong in the
    committed artifact). Off by default so the 8-probe invariance
    artifact doesn't carry 8×130 timing rows it doesn't need."""
    env = dict(os.environ)
    env.update(env_overlay)
    t0 = time.time()
    print(f"\n=== probe {name}: {env_overlay} on {sf_dir}", flush=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"), sf_dir]
        + (extra_args or []),
        cwd=ROOT,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    lines: list[str] = []
    assert proc.stdout is not None
    for raw in proc.stdout:
        # Spark's console progress bar emits \r-separated segments on the
        # same physical line as the verdict that follows; split them out
        # so ^PASS/^FAIL anchors (and the streaming filter) see clean lines.
        for line in raw.replace("\r", "\n").splitlines(keepends=True):
            if not line.endswith("\n"):
                line += "\n"
            if line.startswith(("PASS ", "FAIL ", "rows ")) or "failures" in line:
                sys.stdout.write(line)
            lines.append(line)
    proc.wait()
    out = "".join(lines)
    m = re.search(r"^(\d+) failures", out, re.M)
    failed = re.findall(r"^FAIL (\S+):", out, re.M)
    res = {
        "env": env_overlay,
        "rc": proc.returncode,
        "pass": len(re.findall(r"^PASS ", out, re.M)),
        "rows_only": len(re.findall(r"^rows ", out, re.M)),
        "failures": int(m.group(1)) if m else -1,
        "failed_queries": failed,
        "sec": round(time.time() - t0, 1),
    }
    if timings:
        secs: dict[str, dict[str, float]] = {}
        # trailing 'c' on the duck seconds = served from the oracle-result
        # cache (PMR_ORACLE_CACHE) — recorded so the artifact is honest
        # about which oracle derivations were amortized across rounds
        for q, tot, sp, du, cached in re.findall(
            r"^PASS (\S+): .*\[([\d.]+)s spark=([\d.]+) duck=([\d.]+)(c?)\]",
            out,
            re.M,
        ):
            secs[q] = {
                "total": float(tot), "spark": float(sp), "duck": float(du)
            }
            if cached:
                secs[q]["duck_cached"] = True
        for q, tot in re.findall(r"^rows (\S+): .*\[([\d.]+)s\]", out, re.M):
            secs[q] = {"total": float(tot)}
        res["query_secs"] = secs
    return res


def main() -> int:
    args = sys.argv[1:]
    sf_dirs = ["/root/testdata/sf0.001"]
    probes = list(PROBES)
    out_path = os.path.join(ROOT, "CONFIG_INVARIANCE.json")
    merge = "--merge" in args
    for a in list(args):
        if a.startswith("--probes="):
            probes = a.split("=", 1)[1].split(",")
        elif a.startswith("--out="):
            out_path = a.split("=", 1)[1]
        elif a.startswith("--sfs="):
            sf_dirs = [f"/root/testdata/{s}" for s in a.split("=", 1)[1].split(",")]
        elif not a.startswith("--"):
            sf_dirs = [a]
    unknown = set(probes) - set(PROBES)
    if unknown:
        print(f"unknown probes: {sorted(unknown)} (have {sorted(PROBES)})")
        return 2

    summary: dict = {
        "metric": "config_invariance",
        "started": time.strftime("%F %T"),
        "probes": {},
    }
    if merge and os.path.exists(out_path):
        # keep earlier probe rows so incremental runs accumulate into one
        # artifact; "ok" is recomputed over the union below
        try:
            with open(out_path) as f:
                summary["probes"] = json.load(f).get("probes", {})
        except Exception:
            pass
    for sf_dir in sf_dirs:
        for name in probes:
            res = run_probe(name, PROBES[name], sf_dir)
            res["sf_dir"] = sf_dir
            summary["probes"][f"{name}@{os.path.basename(sf_dir)}"] = res
    ok = all(
        r["rc"] == 0 and r["failures"] == 0 for r in summary["probes"].values()
    )
    summary["ok"] = ok
    line = json.dumps(summary)
    print("\n" + line)
    with open(out_path, "w") as f:
        f.write(line + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
