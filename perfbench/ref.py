"""Plain-Python references and statistics for the benchmark.

- ``reference_output`` / ``expected_scores``: what the engine's pipeline
  must produce for a document under the deterministic stand-in model
  (reverse word order per chunk, chunks in order), computed without
  Spark so every op's output can be checked against it.
- ``tail``: the latency tail rule — the highest percentile that still
  has at least ``TAIL_BEYOND`` samples above it.
"""

from __future__ import annotations

import re
import statistics

TAIL_BEYOND = 10

_PUNCT = re.compile(r"[^a-z0-9 \t\n\r\f]")
_ARTICLE = re.compile(r"\b(a|an|the)\b")
_WS = re.compile(r"[ \t\n\r\f]+")


def equal_chunks(words: list[str], num_steps: int) -> list[list[str]]:
    """C1 equal partition: ``len // num_steps`` words per chunk, the last
    chunk takes the remainder; with fewer words than stages every word
    lands in the last chunk. Empty chunks are not emitted."""
    ps = len(words) // num_steps
    if ps == 0:
        return [words] if words else []
    chunks = [words[i * ps:(i + 1) * ps] for i in range(num_steps - 1)]
    chunks.append(words[(num_steps - 1) * ps:])
    return chunks


def reference_output(text: str, num_steps: int) -> str:
    """The stand-in model's final text: each chunk's words reversed,
    chunks concatenated in chunk order."""
    chunks = equal_chunks(text.split(" "), num_steps)
    return " ".join(" ".join(reversed(c)) for c in chunks)


def normalize(s: str) -> str:
    s = _PUNCT.sub("", s.lower())
    s = _ARTICLE.sub(" ", s)
    return _WS.sub(" ", s).strip()


def set_f1(pred: str, gold: str) -> float:
    p, g = normalize(pred), normalize(gold)
    ps, gs = set(p.split(" ")) if p else set(), set(g.split(" ")) if g else set()
    if not ps or not gs:
        return float(ps == gs)
    inter = len(ps & gs)
    if inter == 0:
        return 0.0
    den = len(ps) + len(gs)  # half-up round(2*inter/den, 6), exact in ints
    return ((2 * inter) * 2 * 10**6 + den) // (2 * den) / 1e6


def expected_scores(text: str, gt_text: str, num_steps: int) -> dict:
    out = reference_output(text, num_steps)
    return {
        "n_chunks": len(equal_chunks(text.split(" "), num_steps)),
        "exact_match": int(normalize(out) == normalize(gt_text)),
        "f1": set_f1(out, gt_text),
    }


def check_doc_results(rows: list[dict], expected: dict[int, dict]) -> list[str]:
    """Compare engine result rows to the reference; return the mismatches."""
    errs = []
    got = {int(r["doc_id"]): r for r in rows}
    if len(rows) != len(expected) or set(got) != set(expected):
        errs.append(f"rows: got {len(rows)} ({len(got)} ids), want {len(expected)}")
    for doc_id, want in expected.items():
        r = got.get(doc_id)
        if r is None:
            continue
        if int(r["n_chunks"]) != want["n_chunks"] or int(r["exact_match"]) != want["exact_match"]:
            errs.append(f"doc {doc_id}: got {r['n_chunks']}/{r['exact_match']}, want {want}")
        elif abs(float(r["f1"]) - want["f1"]) > 1e-9:
            errs.append(f"doc {doc_id}: f1 {r['f1']} != {want['f1']}")
    return errs


def tail(samples: list[float]) -> dict:
    """Highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    With n sorted samples, the value at 0-based rank ``n - TAIL_BEYOND - 1``
    has exactly ``TAIL_BEYOND`` samples above it; its percentile is
    ``100 * (rank + 1) / n``. With too few samples for that, the median
    is reported and ``beyond`` says how many samples lie above it."""
    xs = sorted(samples)
    n = len(xs)
    rank = n - TAIL_BEYOND - 1
    if rank < (n - 1) // 2:  # too few samples: report the median
        return {"value": statistics.median(xs), "pct": 50.0, "n": n, "beyond": n // 2}
    return {"value": xs[rank], "pct": round(100.0 * (rank + 1) / n, 1), "n": n,
            "beyond": n - rank - 1}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the union of the parts
    of its interval that its direct children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
