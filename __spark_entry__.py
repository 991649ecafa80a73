"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship chunked map-reduce query on sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 plus
the beyond-reference capabilities (inventory in COVERAGE.md);
``oracle_sql()`` gives the DuckDB-equivalent SQL for EVERY registered
query — the former rows-only ops are now hash-checked too (BLEU/ROUGE
via integer n-gram/LCS counts, sketches via KMV + histogram bins).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from proactive_map_reduce_spark.oracles import ORACLES
from proactive_map_reduce_spark.queries import REGISTRY
from proactive_map_reduce_spark.session import apply_runtime_confs

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: chunked map (stand-in model) → ordered incremental
    reduce → ground-truth join → scoring, on /root/testdata/sf0.001."""
    apply_runtime_confs(spark)
    return REGISTRY["q_flagship"](spark, SF0001)


# Queries whose PLAN was rewritten in a given round — they jump the
# staleness queue until a CORRECTNESS_r*.json from that round (or later)
# has them green, then fall back to normal staleness ordering.
_REWRITTEN = {
    "q_corpus_mix": 4,            # oracle moved to TRY_CAST
    # reference-parity pass: normalized-answer tokenization for the
    # F1/accuracy family, int() top-k with tail-excluded rank pool
    "q_subset_accuracy": 4,
    "q_token_counter_overlap": 4,
    "q_topk_importance": 4,
    # oracle determinism fixes (session cumsum order, asof tie-break)
    "q_asof_join": 4,
    # deterministic-display pass (second sf0.1 deep-gate find): exact
    # int64 half-up rounding / exact fixed-point accumulation replaces
    # engine-divergent float round() and order-dependent float sums
    # (functions/numeric.py). ALL rewritten r1-green members are listed —
    # within the green==1 cohort ties break alphabetically, so omitting
    # one gives it no precedence over unchanged r1 rows.
    "q_quality_score": 4,
    "q_quality_topn_per_lang": 4,
    "q_event_interarrival": 4,
    "q_sentence_dedup": 4,
    "q_salted_join": 4,
    "q_promo_revenue": 4,
    "q_ship_priority": 4,
    "q_local_supplier_volume": 4,
    "q_top_revenue": 4,  # r1-green but changed — must precede unchanged r1 rows
    "q_pricing_summary": 4,
    "q_region_revenue": 4,
    "q_grid_sweep": 4,
    "q_flatten_nested_times": 4,
    # round-4 review pass: integral-div rewrite of round_ratio /
    # rescale_units (all consumers above re-queue via their own entries)
    # and the exact-cents resample mean
    # (q_dedup_ngram_jaccard's r4 pin superseded by its r8 entry below)
    # operators-review pass: null-content sentinel keys in exact dedup,
    # empty-token drop in the retrieval layer, null-excluded histogram
    # quantiles (all mirrored in the oracles)
    "q_dedup_exact": 4,
    "q_tfidf_top_terms": 4,
    "q_bm25_search": 4,
    "q_hybrid_search": 4,
    "q_unigram_lm_score": 4,
    # curation/similarity review pass: CR-safe oracle whitespace classes
    "q_html_strip": 4,
    # relational/reference review pass: null-text corpus round-trip mirror
    "q_scan_text_corpus": 4,
    # round-5 ANSI-robustness pass (the --extreme sweep): zero-norm
    # cosine guard, winsorized z-score cents,
    # KMV divisor clamp, empty-doc decoding-speed guard — in-domain
    # values unchanged (gate-verified), but the PLANS changed, so the
    # driver should re-derive green rows on the new expressions.
    "q_similarity_lsh": 5,
    "q_dedup_embedding": 5,
    "q_event_anomaly": 5,
    "q_sketch_stats": 5,
    "q_timing_arith": 5,
    # round-5 adversarial VALUE gate (tools/adversarial_gate.py): exact
    # DECIMAL(38,6) event-value accumulation, NaN quarantines, int64
    # clamps, RFC-4180 CSV round-trip, capped+materialized ROUGE DP,
    # byte-length multimodal oracle — canonical values unchanged
    # (tri-fixture-verified) but expressions/oracles changed, so the
    # driver should re-derive these rows.
    "q_window_tumbling": 5,
    "q_session_window": 5,
    "q_window_sliding": 5,
    "q_cube_events": 5,
    "q_rollup_multi": 5,
    "q_salted_agg": 5,
    "q_incremental_rollup": 5,
    "q_resample_ffill": 5,
    "q_running_metric": 5,
    "q_quantize_embeddings": 5,
    "q_embedding_centroids": 5,
    "q_multimodal_features": 5,
    "q_scan_csv_roundtrip": 5,
    # round-5 nulls VALUE gate (adversarial_gate.py --nulls): explicit
    # null contracts — quarantine-with-NULLs (lang_id, pii, multimodal,
    # scores) or documented drop (token-domain operators), and the
    # null-safe sentinel filter in the streaming window.
    "q_lang_id": 5,
    "q_pii_redact": 5,
    "q_any_answer_contained": 5,
    "q_multimodal_resize": 5,
    "q_repetition_signals": 5,
    "q_set_f1": 5,
    # round-15 simplicity pass: both W2 operators run on one streaming
    # groupBy(doc_id) aggregation over Spark's RocksDB state store
    # (per-doc chunk history, update mode, foreachBatch parquet sink)
    # instead of the hand-built parquet state table. Values identical
    # (oracle gate at three scales, restart/kill-before-commit tests);
    # the runner changed, so both rows are due for re-verification.
    "q_stateful_accumulate": 15,
    "q_stream_refeed_chain": 15,
    "q_stream_window_late": 15,  # parquet drain: read-back scans parquet, not a local relation
    # round-13/14 optimization passes (r13 verdict item: the r13 batch
    # rewrites got no pins, so the driver was never told to re-derive
    # them; r14 adds its own). Values identical throughout (oracle
    # gates at two scales + equivalence tests), PLANS changed:
    # - r13: split-once word/chunk pipelines, array-HOF minhash/simhash,
    #   probe-side parallelism on the scoring joins, best-of norm-once;
    # - r14: explicit null pre-filter + generate-input barrier on the
    #   word pipeline (kills the inferred re-split Filter), array-HOF
    #   decontamination grams, inline-struct query literals in the
    #   similarity pair stage, pinned intersect size in pair_scores.
    "q_word_split": 14,
    "q_tokenize": 14,
    "q_sentence_split": 14,
    "q_partition_equal": 14,
    "q_rechunk_fixed": 14,
    "q_middle_drop_truncate": 14,
    "q_positional_shift": 14,
    "q_kv_concat": 14,
    "q_corpus_stats": 14,
    "q_vocab_oov": 14,
    "q_decode_detok": 14,
    "q_qa_pipeline": 14,
    "q_decontaminate": 14,
    "q_similarity_topk": 14,
    "q_simhash": 14,
    "q_flagship": 14,
    "q_metrics_avg": 14,
    "q_union_outputs": 14,
    "q_mean_over_files": 14,
    "q_best_of_answers": 14,
    "q_bleu": 14,
    "q_rouge": 14,
    "q_minhash_signatures": 14,
    "q_dedup_minhash_pairs": 14,
    "q_dedup_minhash_confirmed": 14,
    "q_dedup_incremental": 14,
    "q_dedup_clusters": 14,
    "q_dedup_ngram_jaccard": 14,
    "q_curation_pipeline": 14,
    "q_llm_map": 14,
    "q_first_line_answer": 14,
    "q_incremental_concat": 14,
    "q_prefix_scan_refeed": 14,
    "q_cache_fetch_or_compute": 14,
    # r14 streaming-sink pass: the large-output replay queries drain
    # through the executor-side parquet sink (_run_to_parquet) instead
    # of the memory sink's driver funnel + collect/createDataFrame
    # round-trip — rows identical (sink modes pinned equal; oracle green
    # at two scales), read-back plan changed (parquet scan instead of a
    # local relation). sf1 walls: dedup 24→9.5 s, enrich 12.7→2.1 s,
    # stage 5.3→3.2 s, join neutral (small output).
    "q_stage_pipeline": 14,
    "q_stream_dedup": 14,
    "q_stream_static_enrich": 14,
    "q_stream_stream_join": 14,
}


def _green_round() -> dict[str, int]:
    """name → latest round number whose CORRECTNESS_r*.json has it green.

    The driver verifies queries in `queries()` ordering under a ~50/round
    budget; ordering by STALENESS (never-checked first, then oldest last
    green) both converges the union to full coverage and keeps every
    green row at most a couple of rounds old — testdata schemas can
    change between rounds, so old green rows decay in evidential value.
    Every query is independently correct each round via the repo's own
    full gate (tools/compare_oracle.py); this only prioritizes which
    ones the driver re-derives next.
    """
    import glob
    import json
    import pathlib
    import re

    here = pathlib.Path(__file__).resolve().parent
    latest: dict[str, int] = {}
    for p in glob.glob(str(here / "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", p)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(p) as f:
                report = json.load(f)
        except Exception:
            continue
        for name, row in report.items():
            checks = [v for k, v in row.items() if k.endswith("_match") and v is not None]
            if row.get("err") is None and checks and all(checks):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        return run

    green = _green_round()
    ordered = sorted(
        REGISTRY,
        key=lambda n: (
            green.get(n, -1) >= _REWRITTEN.get(n, 0),  # un-re-pinned rewrites first
            green.get(n, -1),
            n,
        ),
    )
    return {name: wrap(REGISTRY[name]) for name in ordered}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
