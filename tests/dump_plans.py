"""Dump .explain("formatted") for every headline-bench registry query
into plans/<round>/<query>_<tag>.txt.

Usage: python tests/dump_plans.py <round> <tag> [query ...]
e.g. ``python tests/dump_plans.py r16 before`` (default queries: every
registry entry named in bench.py's headline list that resolves to a
plain (spark, sf_dir) -> DataFrame callable).

Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1) — the same
scale the driver benches — so Exchange counts / join strategies match
what the bench actually executes. Explain is driver-side only: no jobs
run, so this is safe to run alongside other work.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import SF_DIR  # noqa: E402

# the registry rows from bench.py's headline list (the non-registry bench
# shapes — ingest/scan/wire/merge/ivf-lifecycle — are engine-path
# composites without a single DataFrame to explain; their plan evidence
# lives in tests/test_plans.py assertions)
HEADLINE_REGISTRY = [
    "pk_range_scan",
    "tail_limit",
    "full_scan_agg",
    "ohlcv_rollup",
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_by_revenue",
    "window_rank_topn",
    "asof_join_purchase_signup",
    "adj_forward",
    "adj_backward",
    "vwap_hourly",
    "session_windows",
    "gap_fill_locf",
    "json_props_stats",
    "stats_by_event_type",
    "scalar_subquery_filter",
    "corpus_pipeline",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "text_quality",
    "text_token_count_total",
    "streaming_window_counts",
    "dup_span_stats",
    "tfidf_top_terms",
    "hll_distinct_rollup",
    "mjpg_frame_stats",
    "video_clip_containment_grouped",
    "image_exif_audit",
    "semantic_contamination",
    "dedup_aware_split_stats",
    "cms_word_freq",
    "bigram_pmi_top",
    "exact_length_percentiles",
    "user_triangle_centrality",
    "model_quality_filter",
    "ngram_novelty",
    "line_dedup_stats",
]


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag = sys.argv[1:3]
    names = sys.argv[3:] or HEADLINE_REGISTRY

    from opentick_spark.session import get_spark
    from opentick_spark.workload import ALL_QUERIES

    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"dump_plans_{rnd}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    for name in names:
        fn = ALL_QUERIES.get(name)
        if fn is None:
            print(f"SKIP {name}: not in registry")
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exch = plan.count("Exchange")
        joins = [
            j
            for j in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
            )
            if j in plan
        ]
        py = [
            p
            for p in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow", "MapInPandas", "FlatMapGroupsInPandas")
            if p in plan
        ]
        print(
            f"OK {name}: Exchange={n_exch} joins={','.join(joins) or '-'} "
            f"python={','.join(py) or '-'}"
        )


if __name__ == "__main__":
    main()
