"""Measure the sf0.1 -> sf1 scaling curve for the heaviest operator
families (VERDICT r7 #2: convert SCALE.md's plan-shape arguments into
measurements).

Usage:
    python tools/scaling_curve.py [SF01_DIR SF1_DIR [OUT_JSON]]

For each query: min-of-N wall time at both scale factors through
bench.time_query (bench.py's protocol: no driver collect, cache cleared
between runs, warmed JVM/Python/streaming paths), then

    exponent = log10(t_sf1 / t_sf01) / log10(factor)

with the factor read from the two sf directory names (bench.exponent).

EXPECTED is the query's theoretical exponent from its plan shape:
~1 for linear scans/aggregates/banded LSH (sub-linear readings happen
when fixed session/stage overhead dominates the sf0.1 run), ~2 for the
EXACT pairwise kernels, whose FLOPs are O(n^2) no matter how they are
tiled — their registered sub-quadratic production variants (IVF, LSH,
cluster-scoped) are in the list too, which is the actual 100 TB claim
being tested. A measured exponent materially ABOVE expected is a scale
defect; at-or-below confirms the plan-shape argument.

Ops hardening (learned the hard way in r8's first attempt, which ran
80+ min with zero observable progress): results are checkpointed to
OUT_JSON after EVERY measurement (a rerun resumes past completed
entries), every line is written unbuffered, each query runs inside a
cancellable job group with a wall-clock budget, and the expected-
quadratic rows run LAST so a blow-up cannot starve the linear
evidence.
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # the timing harness: warm-up, budgeted runs, stamps, result file

# (name, expected exponent, sf1 passes, sf1 budget seconds)
QUERIES = [
    # two_phase_rank consumers (linear: range exchange + pid windows)
    ("tokenizer_vocab_coverage", 1.0, 2, 600),
    ("rfm_customer_segments", 1.0, 2, 600),
    ("histogram_equidepth_value", 1.0, 2, 600),
    # hash-agg / sketch (linear)
    ("dedup_exact", 1.0, 2, 600),
    ("cms_token_counts", 1.0, 2, 600),
    # banded/bucketed LSH (linear in docs at constant dup rate)
    ("dedup_minhash_lsh_pairs", 1.0, 2, 600),
    # exact weighted-Jaccard audit: Sum_t nnz_a*nnz_b accumulation —
    # quadratic family (its banded production path is the row above)
    ("dedup_weighted_minhash", 2.0, 2, 600),
    # O(log n) star contraction over ~linear edge count
    ("dedup_cc_star_contraction", 1.15, 2, 600),
    # IVF scale paths (sub-quadratic by branch-and-bound / fixed probes)
    ("ann_ivf_pq_topk", 1.0, 2, 600),
    ("bitext_margin_mining_ivf", 1.5, 1, 1800),
    # streaming ingestion-time dedup (per-batch probe, linear + floor)
    ("stream_incremental_dedup", 1.0, 1, 1800),
    # r11 changed kernels (standing curve policy: every kernel rewrite
    # re-measures its row in the same round)
    ("dedup_duplicated_spans", 1.0, 1, 1800),   # DF-capped posting lists
    ("dedup_simhash", 1.0, 2, 600),             # packed-lane aggregate
    ("dedup_simhash_band_pairs", 1.0, 1, 1800), # banded LSH, capped buckets
    ("decontam_ngram_overlap", 1.0, 1, 1800),   # capped posting lists
    ("split_contamination_check", 1.0, 2, 600), # digest pivot pre-agg
    ("stream_first_seen_tws", 1.0, 1, 1800),    # bucketed MapState layout
    # r8 extension: one representative per remaining family
    ("tpch_q1", 1.0, 2, 600),                 # scan + codegen hash agg
    ("tpch_q3", 1.0, 2, 600),                 # broadcast join + agg
    ("stream_tumbling_window_agg", 1.0, 2, 600),  # streaming window
    ("sessionize_events", 1.0, 2, 600),       # session windows (keyed)
    ("gap_fill_forward_hourly", 1.0, 2, 600), # gap fill / LOCF windows
    ("asof_join_purchase_view", 1.0, 2, 600), # as-of join
    ("cdc_merge_customer", 1.0, 2, 600),      # CDC merge / maintenance
    ("scd2_user_type_history", 1.0, 2, 600),  # SCD2 history build
    ("hilbert_events_layout", 1.0, 2, 600),   # space-filling layout
    ("retention_weekly_cohorts", 1.0, 2, 600),  # cohort windows
    ("kmeans_embeddings", 1.0, 2, 600),       # fixed-k Lloyd's (n·k·iters)
    ("text_bm25_rank", 1.0, 2, 600),          # retrieval scoring
    ("pagerank_trade_network", 1.0, 2, 600),  # graph iteration (lineage cuts)
    # r9: SAX-banded variant of ts_similarity_topk — the banded
    # candidate count is Theta(n^2 / #buckets) on this UNCLUSTERED
    # corpus (profiles are iid noise around uniform, so buckets fill
    # proportionally; with clustered real data candidates are
    # output-sensitive). Same documented-quadratic family as the
    # exact kernels below, with a ~3x smaller constant.
    ("ts_similarity_topk_sax", 2.0, 1, 1800),
    # EXACT pairwise kernels (documented O(n^2); tiles bound memory,
    # not total FLOPs — their production variants are the rows above)
    ("dedup_embedding_cosine", 2.0, 1, 1800),
    ("semdedup_embeddings", 2.0, 1, 1800),
    ("ts_similarity_topk", 2.0, 1, 1800),
    ("fuzzy_match_customers", 2.0, 1, 1800),
    # r9: lossless norm-banded radius join — output-sensitive; on
    # this corpus the norms cluster so the band prune degrades toward
    # all-pairs (documented), hence the quadratic family
    ("ts_similarity_radius_join", 2.0, 1, 1800),
]


def main() -> int:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".scratch", "sf1")
    out_path = sys.argv[3] if len(sys.argv) > 3 else "scaling_curve_result.json"

    from arcon_spark.session import get_spark
    from arcon_spark.plans.registry import queries

    spark = get_spark("scaling_curve")
    qmap = queries()

    only = {
        s for s in os.environ.get("SPARK_GRAFT_CURVE_ONLY", "").split(",") if s
    }
    global QUERIES
    if only:
        QUERIES = [q for q in QUERIES if q[0] in only]

    results = bench.load_results(out_path)
    # an sf directory name without a scale factor fails here, not
    # after the whole curve has been measured
    bench.exponent(1.0, 1.0, sf01, sf1)

    for sf_dir, key, budget_scale in ((sf01, "t_sf01", 0.2), (sf1, "t_sf1", 1.0)):
        bench.warm_up(spark, sf_dir)
        pending = [
            q for q in QUERIES if key not in results.get(q[0], {})
        ]
        # full unmeasured warm pass first: C2-JIT compilation of the
        # query paths themselves — without it the first sitting's
        # sf0.1 phase read 2-3x steady state and even produced
        # ratios < 1 against the (warmer) sf1 phase. Applied per phase
        # over PENDING queries only, so resumed reruns warm exactly
        # what they re-measure.
        for name, _, _, budget in pending:
            bench.time_query(spark, name, qmap[name], sf_dir, budget * budget_scale)
        print(f"{key} warm pass done ({len(pending)} queries)", flush=True)
        for name, expected, sf1_passes, budget in QUERIES:
            r = results.setdefault(name, {"expected": expected})
            if key in r:
                continue  # resumed
            # min-of-3 at sf0.1: the first pass doubles as C2-JIT warmup
            # (the r8 first sitting measured the sf0.1 phase at session
            # start and several rows read 2-3x their steady-state floor)
            passes = sf1_passes if key == "t_sf1" else 3
            # keep the min of COMPLETED passes: a timeout on a later
            # pass must not discard an earlier valid measurement
            # (ADVICE r8) — only all-passes-failed records None
            best = math.inf
            # contention evidence rides EVERY curve row (VERDICT r10
            # #2): /proc/stat steal% across the row's measurement
            # window + one int-loop anchor after it, so no future row
            # can be pinned blind (the r10 ts_similarity_topk row was
            # a contended capture distinguishable only by prose)
            stat_before = bench._proc_stat_ticks()
            for _ in range(passes):
                t = bench.time_query(spark, name, qmap[name], sf_dir, budget * budget_scale)
                if t is not None:
                    best = min(best, t)
            r[key] = round(best, 2) if best is not math.inf else None
            r["steal_" + key] = bench._steal_pct(
                stat_before, bench._proc_stat_ticks()
            )
            r["anchor_" + key] = bench._anchor_sec()
            print(
                f"{key:7s} {name:32s} {r[key]}"
                f"  steal={r['steal_' + key]}% anchor={r['anchor_' + key]}s",
                flush=True,
            )
            bench.save_results(out_path, results)

    for name, r in results.items():
        e = bench.exponent(r.get("t_sf01"), r.get("t_sf1"), sf01, sf1)
        if e is None:
            r["verdict"] = "TIMEOUT-OR-ERROR"
        else:
            r["ratio"], r["exponent"] = e
            r["verdict"] = "ok" if r["exponent"] <= r["expected"] + 0.15 else "SUPER-LINEAR"
    bench.save_results(out_path, results)
    bad = [n for n, r in results.items() if r["verdict"] != "ok"]
    print(f"\n{len(results) - len(bad)} ok, flagged: {bad}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
