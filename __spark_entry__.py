"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in the arcon_spark package (arcon_spark/plans/registry
collects them from operators/, functions/, streaming/); this module is
a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this file by path from another cwd; make the
# arcon_spark package resolvable regardless
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing
    summary (scan-heavy aggregate, whole-stage codegen end to end)."""
    from arcon_spark.operators.relational import tpch_q1

    return tpch_q1(spark, "/root/testdata/sf0.001")


# iteration-order priority for the driver's correctness sample: the
# high-value window / streaming / dedup / connector queries lead, so a
# prefix sample of queries() exercises the paths that matter most;
# everything else follows in registration order. Names not in the
# registry are ignored (robust to renames).
_SAMPLE_FIRST = [
    # --- round 11 sample. Tier bookkeeping recomputed from the ten
    # CORRECTNESS_r*.json files (latest driver-green round per query:
    # r3:21, r4:48, r5:46, r6:46, r7:48, r8:50, r9:42, r10:50).
    # Three blocks:
    # (1) the ENTIRE remaining r3-stale tier (21 rows: 6 non-TPC-H +
    #     15 tpch_*), queued post-boundary in r10 as promised — after
    #     this block the stalest tier is r4;
    "survival_risk_table",
    "text_keywords_rake",
    "text_search_and_rank",
    "text_trigram_simpson",
    "time_weighted_avg_user",
    "tokenizer_fertility",
    "tpch_q6",
    "tpch_q9ish",
    "tpch_q18ish",
    "tpch_q2ish",
    "tpch_q4ish",
    "tpch_q7ish",
    "tpch_q8ish",
    "tpch_q10ish",
    "tpch_q12ish",
    "tpch_q14ish",
    "tpch_q15ish",
    "tpch_q17ish",
    "tpch_q19ish",
    "tpch_q21ish",
    "tpch_q22ish",
    # (2) the 10 queries changed by the r11 optimization round (every
    #     one re-proved at sf0.001 + sf0.01 in-round — see
    #     OPTIMIZATION_r11.md; source_protobuf_roundtrip rides as the
    #     decoder-bail-fix insurance row; cogroup_activity_order_merge,
    #     also changed this round, already sits in block 3 below);
    "ts_similarity_topk_sax",
    "dedup_duplicated_spans",
    "dedup_span_removal",
    "dedup_simhash",
    "dedup_simhash_band_pairs",
    "decontam_ngram_overlap",
    "split_contamination_check",
    "stream_incremental_dedup",
    "stream_first_seen_tws",
    "source_protobuf_roundtrip",
    # (3) re-certification backfill: the head of the r4-stale tier
    #     (19 of 48; the remaining 29 queue post-boundary to lead the
    #     next sample). 21 + 10 + 19 = 50 = the driver sample size.
    "arrow_window_zscore",
    "arrow_window_zscore_pandas",
    "asof_join_forward",
    "asof_join_nearest",
    "asof_join_purchase_view",
    "bitemporal_asof",
    "ccnet_perplexity_buckets",
    "cdc_merge_customer",
    "cogroup_activity_order_merge",
    "count_window_agg",
    "cumulative_distinct_users",
    "dq_expectations_orders",
    "dsir_importance_weights",
    "fifo_pairing_events",
    "golden_record_customers",
    "hard_negative_mining",
    "hilbert_events_layout",
    "hybrid_search_rrf",
    "ivm_incremental_agg",
    # --- 50-prefix boundary; tail = ivm_retractable_agg (displaced by
    # the sitting-2 ts_similarity_topk_sax row) + the remaining 28
    # r4-stale rows, queued to lead the next round's sample.
    "ivm_retractable_agg",
    "map_state_topvalue",
    "merge_upsert_user_stats",
    "multimodal_h264_roundtrip",
    "multimodal_video_dedup",
    "nb_lang_classifier",
    "ndcg_ranking_audit",
    "range_join_close_events",
    "rp_jl_projection_audit",
    "scd2_user_type_history",
    "session_window_dynamic_gap",
    "snapshot_diff_user_stats",
    "stateful_distinct_firsts",
    "stateful_first_value",
    "stream_ann_ivf_probe",
    "stream_dsir_scores",
    "stream_kafka_end_to_end",
    "stream_kafka_real_roundtrip",
    "stream_kafka_two_readers",
    "stream_kafka_txn_sink_roundtrip",
    "stream_stream_range_join",
    "text_bm25_rank",
    "text_lm_perplexity",
    "text_unigram_entropy",
    "tpch_q11ish",
    "weighted_sample_without_replacement",
    "windowed_distinct_users_bitmap",
    "zorder_events_layout",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    beyond-reference dedup/similarity/text/multimodal suites), with the
    high-value queries first in iteration order (driver samples a
    prefix)."""
    from arcon_spark.plans.registry import queries as _queries

    qmap = _queries()
    ordered = {n: qmap[n] for n in _SAMPLE_FIRST if n in qmap}
    ordered.update(qmap)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-expressible query; keys
    absent here (vs queries()) are approximate/engine-specific ops the
    driver checks rows-only."""
    from arcon_spark.plans.registry import oracle_sql as _oracle_sql

    return _oracle_sql()
