"""Generate PLANS.md: formatted physical plans for the headline
queries, the evidence that the plans are the ones a 100 TB deployment
wants (pushed filters, pruned schemas, broadcast joins, partial
aggregation, group-limit pushdown).

Usage: python tools/explain_report.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arcon_spark.session import get_spark

INTERESTING = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5ish",
    "tpch_q6",
    "tpch_q4ish",
    "tpch_q9ish",
    "tpch_q18ish",
    "tpch_q21ish",
    "broadcast_dim_join",
    "topk_per_group",
    "sort_limit_orders",
    "asof_join_purchase_view",
    "range_join_close_events",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "tumbling_window_agg",
    "session_window_agg",
    "tpch_q2ish",
    "vocab_top_tokens",
    "text_tfidf_topterms",
    "sessionize_events",
    "kmeans_embeddings",
    "graph_triangle_count",
    "zorder_events_layout",
    "histogram_equidepth_value",
    "ohlc_hourly_value",
    "corr_quantity_price_by_flag",
    "funnel_conversion",
    "interval_coverage_users",
    "cep_purchase_error_pattern",
    "cusum_changepoint_hourly",
    "kmv_distinct_users",
    "text_trigram_simpson",
    "rolling_median_value",
    "dedup_kept_corpus",
    "sax_symbolize_hourly",
    "brown_trend_forecast",
    "debounce_events",
    "snapshot_diff_user_stats",
    "pq_encode_embeddings",
    "cms_token_counts",
    "bpe_apply_merges",
    "multimodal_image_ahash_groups",
    "text_unigram_entropy",
    "text_bm25_rank",
    "dsir_importance_weights",
    "hard_negative_mining",
    "dedup_cross_doc_spans",
    "pack_concat_chunks",
    "curation_funnel_counts",
    "nb_lang_classifier",
    "bitext_margin_mining",
    "bitext_margin_mining_ivf",
    "source_protobuf_oneof_roundtrip",
    "dp_noisy_domain_counts",
    "dp_median_chars",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain_report")
    from arcon_spark.plans.registry import queries

    qmap = queries()
    out = [
        "# PLANS — physical plans for headline queries",
        "",
        f"Generated by tools/explain_report.py against {sf_dir}.",
        "What to look for: `PushedFilters` / trimmed `ReadSchema` on every",
        "scan, `BroadcastHashJoin` for dimension joins, partial+final",
        "`HashAggregate` pairs around a single `Exchange`,",
        "`WindowGroupLimit` under top-k, `TakeOrderedAndProject` for",
        "global sort+limit, and no Python evaluators in JVM-only paths.",
        "",
    ]
    for name in INTERESTING:
        df = qmap[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # keep the operator tree + per-node details compact
        plan = re.sub(r"\n{3,}", "\n\n", plan.strip())
        out += [f"## {name}", "", "```", plan, "```", ""]
    from tools.doc_digest import digest_line

    out += ["", digest_line(), ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(INTERESTING)} plans")


if __name__ == "__main__":
    main()
