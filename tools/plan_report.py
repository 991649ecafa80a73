"""Generate PLANS.md: the physical-plan audit for the headline queries.

For each headline query, records the scale-critical plan facts (shuffle
exchange count, broadcast joins, pushed filters, read schemas, Python
eval nodes) plus the `simple` plan text — the artifact of the "is this
the plan you'd want at 100 TB?" review that tests/test_plans.py pins.

Usage: python tools/plan_report.py [sf_dir]   # default sf0.001
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = [
    "q_pricing_summary",
    "q_top_revenue",
    "q_region_revenue",
    "q_ship_priority",
    "q_local_supplier_volume",
    "q_window_tumbling",
    "q_sessionize",
    "q_flagship",
    "q_tokenize",
    "q_minhash_signatures",
    "q_dedup_minhash_pairs",
    "q_dedup_minhash_confirmed",
    "q_dedup_incremental",
    "q_simhash",
    "q_similarity_topk",
    "q_tfidf_top_terms",
    "q_bm25_search",
    "q_blocklist_filter",
    "q_repetition_signals",
    "q_sentence_dedup",
    "q_unigram_lm_score",
    "q_pack_sequences",
    "q_html_strip",
    "q_curation_pipeline",
    "q_sketch_stats",
    "q_pii_redact",
    "q_decontaminate",
    "q_corpus_mix",
    "q_quantize_embeddings",
    "q_vocab_oov",
    "q_event_anomaly",
    "q_resample_ffill",
]


def _long_poles() -> list[str]:
    """The sf1 gate's long-pole seconds per engine (SF1_GATE.json): the
    plans' measured cost next to their static structure."""
    import json

    try:
        with open(os.path.join(ROOT, "SF1_GATE.json")) as f:
            poles = json.load(f).get("long_poles_sec") or {}
    except OSError:
        return []
    if not poles:
        return []
    out = ["## sf1 gate long poles (seconds per engine, SF1_GATE.json)", ""]
    out += [
        f"- `{q}`: total {t['total']} (spark {t.get('spark')}, duck {t.get('duck')})"
        for q, t in poles.items()
    ]
    return out + [""]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from proactive_map_reduce_spark.plans import audit
    from proactive_map_reduce_spark.queries import REGISTRY
    from proactive_map_reduce_spark.session import get_spark

    spark = get_spark("plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_report.py {sf_dir}` (pre-execution",
        "AQE view; plan SHAPE is scale-invariant even though the fixture is",
        "small — broadcast thresholds that flip at real scale are noted in",
        "the query docstrings). The facts below are pinned by",
        "`tests/test_plans.py`; this file is the human-readable dump.",
        "",
    ]
    out += _long_poles()
    for name in QUERIES:
        try:
            df = REGISTRY[name](spark, sf_dir)
            ex = audit.count_exchanges(df)
            bc = audit.has_broadcast_join(df)
            py = audit.python_eval_nodes(df)
            pushed = audit.pushed_filters(df)
            plan = audit.simple_plan(df)
        except Exception as e:  # streaming queries execute eagerly; skip
            out += [f"## {name}", "", f"(not plannable statically: {e})", ""]
            continue
        out += [
            f"## {name}",
            "",
            f"- shuffle exchanges: **{ex}** | broadcast join: **{bc}** | "
            f"Python eval nodes: **{py}**",
            f"- pushed filters: `{pushed if pushed else '[]'}`",
            "",
            "```",
            plan.strip()[:3000],
            "```",
            "",
        ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(QUERIES)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
