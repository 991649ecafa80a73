"""Per-batch latency flatness: the soak/probe acceptance computation.

The compacted/bucketed W2 state runner's load-bearing claim is that
per-batch cost is CONSTANT in stream depth (the pre-r10 design re-read
the whole history every batch — O(batches²) lifetime work, which shows
up as per-batch seconds GROWING with batch index). The check: skip the
JIT/warmup head, then compare the mean of the late third of batches
against the mean of the early third — flat means late ≤ ratio × early.

A pure function pinned by tests/test_flatness.py against recorded
batch traces, including a depth-96 soak's real trace and synthetic
linear/quadratic growth that must FAIL it.
"""

from __future__ import annotations


def thirds_flatness(
    batch_secs: list[float], warmup: int = 2, ratio: float = 1.5
) -> dict:
    """early/late third means over the post-warmup body, and the flat
    verdict. The warmup skip only applies when there are enough batches
    for a meaningful body (>8), mirroring the soak's original inline
    logic; short traces compare their raw thirds."""
    body = batch_secs[warmup:] if len(batch_secs) > 8 else batch_secs
    third = max(len(body) // 3, 1)
    early = sum(body[:third]) / third
    late = sum(body[-third:]) / third
    return {
        "batch_s_early3rd": round(early, 3),
        "batch_s_late3rd": round(late, 3),
        "latency_flat": late <= ratio * early,
    }
