"""Incremental view maintenance (SURVEY §2.13 — partial recomputation).

The reference's deepest engine idea: when inputs change partially, do NOT
recompute everything — its forked attention recomputes only top-k
"important" positions and scatter-writes them into the cached state
(`modeling_llama.py:860-869`, `cache_utils.py:99-112`
`partial_update_indices`). Catalyst has no such rule; the Spark-native
analog is maintained partial aggregates:

- the view is an aggregation over a partition key (section, day, shard);
- per-partition *partial* aggregates are cached (the KV-cache analog);
- a delta batch touches only some partitions → merge the delta's partials
  into the cache algebraically (sum/count/min/max compose), then derive
  the full result from partials — O(|partitions| + |delta|), never
  O(|base|).

Scale: the partials DataFrame is keyed by the partition column — tiny
relative to the base (one row per partition), broadcast- or
memory-cacheable; delta merges shuffle only delta rows plus partial rows.
This is exactly how a 100 TB rollup stays fresh under streaming appends
(and is the batch twin of Structured Streaming's state store).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Algebraic aggregates: (partial expression, merge expression). Partials
# compose under re-aggregation, which is what makes the delta merge exact.
_MERGES = {
    "sum": F.sum,
    "count": F.sum,  # counts merge by summing partial counts
    "min": F.min,
    "max": F.max,
}


@dataclass
class IncrementalAggregate:
    """Maintained aggregate over `partition_col` with algebraic measures.

    >>> inc = IncrementalAggregate("section", {"total": ("sum", "v"),
    ...                                        "n":     ("count", "v")})
    >>> inc.initialize(base_df)
    >>> inc.apply_delta(new_rows_df)     # merges only touched partitions
    >>> inc.result()                      # == full recompute over base+delta
    """

    partition_col: str
    measures: dict[str, tuple[str, str]]  # out_name -> (agg_kind, value_col)
    partials: DataFrame | None = field(default=None, init=False)

    def _partial_aggs(self):
        # Native result types throughout: counts are bigint (and merge by
        # summing bigints), sum/min/max keep the measure column's own type
        # — a cast to double here would silently destroy int64 exactness
        # past 2^53 (exact-unit money sums are bigint by design,
        # functions/numeric.py) and break the ==-full-recompute contract.
        aggs = []
        for out, (kind, col) in self.measures.items():
            if kind == "count":
                aggs.append(F.count(col).alias(out))
            else:
                aggs.append(_MERGES[kind](F.col(col)).alias(out))
        return aggs

    def _merge_aggs(self):
        return [
            _MERGES[kind](F.col(out)).alias(out)
            for out, (kind, _) in self.measures.items()
        ]

    def initialize(self, base_df: DataFrame) -> None:
        p = base_df.groupBy(self.partition_col).agg(*self._partial_aggs())
        self.partials = p.persist()
        self.partials.count()  # materialize the cache

    def apply_delta(self, delta_df: DataFrame) -> int:
        """Merge a delta batch; returns the number of partitions touched.

        Only the delta is aggregated (O(|delta|)); the union re-agg runs
        over one partial row per partition — the base is never rescanned.
        """
        assert self.partials is not None, "initialize() first"
        delta_partials = delta_df.groupBy(self.partition_col).agg(*self._partial_aggs())
        touched = delta_partials.count()
        old = self.partials
        merged = (
            old.unionByName(delta_partials)
            .groupBy(self.partition_col)
            .agg(*self._merge_aggs())
            .persist()
        )
        merged.count()
        old.unpersist()
        self.partials = merged
        return touched

    def result(self) -> DataFrame:
        """The maintained view: one row per partition with final measures."""
        assert self.partials is not None, "initialize() first"
        return self.partials
