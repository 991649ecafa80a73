"""In-memory span recorder and Spark-side counters for the traced run.

Spans are recorded around the benchmark's calls into each layer (and,
for functions the library calls internally, around a wrapper installed
on the module attribute for the duration of an op). Each span holds
name, start, end, parent and op id; they stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

from ref import self_times


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        s = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter()

    @contextlib.contextmanager
    def wrapped(self, module, attr: str, name: str):
        """Record a span around every call of ``module.attr`` while active."""
        orig = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def op_self_times(self, op_id: int) -> dict[str, float]:
        """Self seconds per span name within one op (root span = 'op')."""
        spans = [s for s in self.spans if s["op"] == op_id]
        st = self_times(spans)
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- Spark's own SQL metrics (status store; works with the UI off) ----------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"(-?[0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")

#: SQL metric name -> benchmark counter name (bytes or seconds)
SQL_METRICS = {
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "bytes_to_py",
    "shuffle bytes written": "shuffle_bytes",
}


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric ('1.3 s', '4.1 MiB', or the
    'total (min, med, max ...)\\n<total> (...)' form)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SqlMetrics:
    """Sums selected SQL metrics over the executions that ran since the
    last ``take()`` (executions are numbered in start order)."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._max_id()

    def _max_id(self) -> int:
        el = self._store.executionsList()
        return max((el.apply(i).executionId() for i in range(el.size())), default=-1)

    def take(self) -> dict[str, float]:
        out = {v: 0.0 for v in SQL_METRICS.values()}
        el = self._store.executionsList()
        top = self._seen
        for i in range(el.size()):
            ex = el.apply(i)
            eid = ex.executionId()
            if eid <= self._seen:
                continue
            top = max(top, eid)
            ms = ex.metrics()
            names = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in SQL_METRICS:
                    names[m.accumulatorId()] = SQL_METRICS[m.name()]
            if not names:
                continue
            it = self._store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                key = names.get(kv._1())
                if key is not None:
                    out[key] += parse_metric(kv._2())
        self._seen = top
        return out
