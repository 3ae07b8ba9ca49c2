"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

    python bench.py [query ...]

times the named registry queries instead of the headline list. An
unknown name stops it before the session starts; a query that fails
makes it exit non-zero naming every failed query.

The stdout line is sized under the driver's 2000-byte tail capture
(slowest queries first; "n_queries"/"queries_shown"/"queries_full"
make the trim explicit); the COMPLETE per-query record — all timings
plus per-query medians — is written to $SPARK_GRAFT_BENCH_OUT
(default bench_result.json).

Each query is fully materialized through the `noop` sink (no driver
collect — the same execution profile a cluster run would have).

The scaling tools (tools/scaling_curve.py, tools/sf10_heavy.py) time
through the same pieces: warm_up, time_query (one cleared-cache,
job-grouped, optionally budgeted run), the steal/anchor stamps,
load_results/save_results and exponent.
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from arcon_spark.session import get_spark

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5ish",
    "broadcast_dim_join",
    "keyby_reduce",
    "topk_per_group",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "stateful_first_value",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "text_token_count",
    "text_lang_id",
    "multimodal_meta",
    "tpch_q6",
    "tpch_q2ish",
    "asof_join_purchase_view",
    "range_join_close_events",
    "sessionize_events",
    "vocab_top_tokens",
    "text_tfidf_topterms",
    "kmeans_embeddings",
    "multimodal_audio_energy",
    "scd2_user_type_history",
    "gap_fill_forward_hourly",
    "pareto_frontier_orders",
    "split_contamination_check",
    "zorder_events_layout",
    "pii_redact_stats",
    "gopher_quality_flags",
    "decontam_ngram_overlap",
    "mad_outlier_events",
    "domain_mixture_weights",
    "bpe_pair_merge_stats",
    "embedding_quantize_int8",
    "funnel_conversion",
    "interval_coverage_users",
    "cusum_changepoint_hourly",
    "rolling_median_value",
    "kmv_distinct_users",
    "text_trigram_simpson",
    "multimodal_scene_cuts",
    "stream_tumbling_window_agg",
    "dedup_simhash_band_pairs",
    "ann_ivf_pq_topk",
    "hilbert_events_layout",
    "profile_orders_columns",
    "acf_hourly_value",
    "cdc_merge_customer",
    "bitmap_distinct_users",
    "windowed_distinct_users_bitmap",
    "exact_median_selection",
    "asof_join_nearest",
    "distribution_drift_chi2",
    "bitmap_audience_overlap",
    # round 2: connector + codec surfaces and the de-drivered cosine
    "arrow_ipc_roundtrip",
    "source_protobuf_roundtrip",
    "source_avro_roundtrip",
    "multimodal_png_roundtrip",
    "dedup_embedding_cosine",
    "dedup_connected_clusters",
    "dedup_cc_star_contraction",
    "dedup_duplicated_spans",
    "cms_token_counts",
    # native transformWithState stateful path (vendored protobuf runtime)
    "stream_first_seen_tws",
    # ingestion-time LSH dedup against the accumulated index
    "stream_incremental_dedup",
    # round 6: the queries rebuilt on the block-tile kernel / pinned
    # group parallelism — benched so regressions in the tile machinery
    # surface in the per-round record
    "dedup_weighted_minhash",
    "fuzzy_match_customers",
    "semdedup_embeddings",
    "ts_similarity_topk",
    # round 9: the SAX-banded variant of the exact kernel above and
    # the lossless norm-banded radius join — benched side by side so
    # the candidate machinery's cost is a per-round record
    "ts_similarity_topk_sax",
    "ts_similarity_radius_join",
    "user_activity_similarity",
    "cogroup_activity_order_merge",
    "multimodal_jpeg_roundtrip",
]


def _proc_stat_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the aggregate cpu line of
    /proc/stat, or None where unreadable (non-Linux)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(v) for v in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _steal_pct(before, after) -> float | None:
    """Steal%% of total cpu ticks between two _proc_stat_ticks reads."""
    if before is None or after is None:
        return None
    dsteal = after[0] - before[0]
    dtotal = after[1] - before[1]
    if dtotal <= 0:
        return None
    return round(100.0 * dsteal / dtotal, 2)


def _anchor_sec() -> float:
    """MEASURE.md int-loop anchor (20M-iteration Python sum): reads
    ~1.8 s on the idle-host pin and 2.1-2.6 s under hypervisor steal.
    Emitted before/after the measured loop so a BENCH artifact carries
    its own contention evidence (VERDICT r9 What's-wrong #1)."""
    t0 = time.monotonic()
    s = 0
    for i in range(20_000_000):
        s += i
    return round(time.monotonic() - t0, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from arcon_spark.plans.registry import queries

    qmap = queries()
    # any registry query may be named (not only HEADLINE); a typo fails
    # here instead of after the session start-up
    names = sys.argv[1:] or HEADLINE
    unknown = [n for n in names if n not in qmap]
    if unknown:
        raise SystemExit(f"unknown queries (not in registry): {unknown}")

    spark = get_spark("arcon_spark_bench")
    warm_up(spark, sf_dir)

    # Host timing noise on this container runs up to 10x on individual
    # entries between same-code runs (MEASURE.md). Per-query MIN across
    # N passes measures steady-state plan cost instead of scheduler
    # luck; repeats are recorded in the output for transparency.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))
    passes: dict[str, list[float]] = {name: [] for name in names}
    anchor_before = _anchor_sec()
    stat_before = _proc_stat_ticks()
    t_all = time.time()
    for _ in range(repeats):
        for name in names:
            passes[name].append(time_query(spark, name, qmap[name], sf_dir))
    failed = [name for name, ts in passes.items() if None in ts]
    if failed:
        raise SystemExit(f"failed queries: {failed}")
    timings = {name: min(ts) for name, ts in passes.items()}

    def _median(ts: list[float]) -> float:
        s = sorted(ts)
        m = len(s) // 2
        return round(s[m] if len(s) % 2 else (s[m - 1] + s[m]) * 0.5, 3)

    total = round(sum(timings.values()), 3)
    wall = round(time.time() - t_all, 3)
    # Contention evidence rides the artifact (VERDICT r9 #1): steal%
    # of all cpu ticks across the measured window, plus the int-loop
    # anchor before/after. A reader holding only BENCH_r{N}.json can
    # now tell a contended sitting (steal > ~1% or anchors >> 1.8 s
    # idle pin) from a code regression — MEASURE.md drift rule.
    steal = _steal_pct(stat_before, _proc_stat_ticks())
    anchors = [anchor_before, _anchor_sec()]

    sf_val = sf_of(sf_dir)
    full = json.dumps(
        {
            "metric": "headline_queries_total_sec",
            "value": total,
            "unit": "sec",
            "queries": timings,
            # per-query medians across the same passes: the
            # round-over-round comparison column (MEASURE.md), robust
            # to this host's up-to-10x single-entry timing noise
            "medians": {name: _median(ts) for name, ts in passes.items()},
            "sf": sf_val,
            "repeats": repeats,
            "wall_sec": wall,
            "steal_pct": steal,
            "anchor_sec": anchors,
        }
    )
    # Full record (all queries + medians) goes to its own file; it is
    # ~4.5 KB and the driver only captures the LAST 2000 bytes of
    # stdout, which through r6 cut the head off the single JSON line
    # and left every BENCH_r*.json with "parsed": null.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try:
        with open(out_path, "w") as fh:
            fh.write(full + "\n")
    except OSError:
        pass  # stdout line below is still the contract

    budget = int(os.environ.get("SPARK_GRAFT_BENCH_STDOUT_BYTES", "1900"))
    line = stdout_line(
        timings,
        total,
        sf_val,
        repeats,
        wall,
        out_path,
        budget,
        medians={name: _median(ts) for name, ts in passes.items()},
        steal_pct=steal,
        anchor_sec=anchors,
    )
    sys.stdout.flush()
    print(line, flush=True)


def warm_up(spark, sf_dir: str) -> None:
    """Uncounted warm-ups, run once per session before any timed query:
    JVM/codegen/parquet-footer start-up, the Python worker pool and the
    streaming engine land here, not on the first measured query."""
    from pyspark.sql import functions as F

    from arcon_spark.io import load_table
    from arcon_spark.scratch import scratch_dir
    from arcon_spark.streaming.tape import drain

    load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: warms the wide-decimal hash-aggregate
        # codegen path the exact-units queries (plans/compat) all use
        F.sum(F.round(F.col("l_quantity") * 100).cast("decimal(38,0)")).alias("u"),
    ).write.format("noop").mode("overwrite").save()

    # Python-worker warmup: the first mapInPandas/applyInPandas query
    # pays worker-pool fork + Arrow serializer init on every core
    # (~5-8 s across 32 workers). One identity pass spins the pool so
    # measured queries see steady-state Python-path cost.
    def _ident(it):
        yield from it

    spark.range(0, 64, 1, spark.sparkContext.defaultParallelism).mapInPandas(
        _ident, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Streaming-engine warmup: the first streaming query in a session
    # pays one-time micro-batch-engine + state-store class init (~4 s)
    # that has nothing to do with any particular query. Run a 1-file
    # tape through a windowed count so the measured streaming entry
    # reflects steady-state cost.
    _wdir = scratch_dir("bench_stream_warm_")
    spark.range(10).select(
        F.expr("timestamp_micros(id * 1000000)").alias("ts"), F.col("id")
    ).coalesce(1).write.mode("overwrite").parquet(_wdir + "/in")
    drain(
        spark.readStream.schema("ts timestamp, id long")
        .parquet(_wdir + "/in")
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "5 seconds"))
        .count()
        .writeStream.format("noop")
        .outputMode("append")
    )


def time_query(spark, name: str, build, sf_dir: str, budget: float | None = None) -> float | None:
    """Seconds to build(spark, sf_dir) and materialize it through the
    noop sink, with the cache cleared first. Every Spark job it runs
    carries the job group `name`. None when the query raised (printed
    as `ERROR <name>: ...`) or ran past `budget` seconds, in which case
    its job group is cancelled so the next measurement starts clean."""
    sc = spark.sparkContext
    # drop the previous query's persisted blocks so cached frames
    # don't accumulate (and distort memory pressure) across the run
    spark.catalog.clearCache()
    box: dict = {}

    def work() -> None:
        try:
            sc.setJobGroup(name, name, interruptOnCancel=True)
            t0 = time.time()
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            box["t"] = round(time.time() - t0, 3)
        except Exception as ex:  # cancelled or a genuine failure
            box["err"] = f"{type(ex).__name__}: {str(ex)[:160]}"

    # a thread of its own keeps the job group off the caller's thread
    # and lets the budget cut a query that never returns
    th = threading.Thread(target=work, daemon=True)
    th.start()
    th.join(budget)
    if th.is_alive():
        print(f"ERROR {name}: over its {budget} s budget, job group cancelled", flush=True)
        # a cancel only reaches jobs already submitted, so repeat it
        # until the query's thread gives up (a cold session can still
        # be planning its first job when the budget runs out)
        for _ in range(120):
            sc.cancelJobGroup(name)
            th.join(1)
            if not th.is_alive():
                break
        return None
    if "err" in box:
        print(f"ERROR {name}: {box['err']}", flush=True)
        return None
    return box["t"]


def sf_of(sf_dir: str) -> float | str:
    """Scale factor an sf directory is named for ('.../sf0.1' -> 0.1);
    the bare suffix when it is not a number."""
    sf = sf_dir.rstrip("/").split("sf")[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def exponent(t_small: float | None, t_large: float | None, small_dir: str, large_dir: str):
    """(ratio, exponent) of one scaling row: ratio = t_large / t_small
    and exponent = log(ratio) / log(factor), the factor worked out from
    the two sf directory names. None when either time is missing; a
    0.0 s time is a measurement and is clamped, not dropped."""
    if t_small is None or t_large is None:
        return None
    factor = float(sf_of(large_dir)) / float(sf_of(small_dir))
    ratio = round(t_large / max(t_small, 1e-9), 2)
    return ratio, round(math.log10(max(ratio, 1e-9)) / math.log10(factor), 2)


def load_results(path: str) -> dict:
    """The resumable result file of a long measurement ({} when there is
    none yet); a rerun skips the entries it already holds."""
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        results = json.load(fh)
    print(f"resuming past {sorted(results)}", flush=True)
    return results


def save_results(path: str, results: dict) -> None:
    """Checkpoint `results` atomically, so a killed run loses at most
    the measurement in flight."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(results, fh, indent=1)
    os.replace(tmp, path)


def stdout_line(
    timings: dict[str, float],
    total: float,
    sf_val,
    repeats: int,
    wall: float,
    out_path: str,
    budget: int = 1900,
    medians: dict[str, float] | None = None,
    steal_pct: float | None = None,
    anchor_sec: list[float] | None = None,
) -> str:
    """ONE compact JSON line sized under the driver's 2000-byte tail
    capture: headline total + as many per-query timings as fit,
    slowest first (the entries that matter for regression triage),
    with the full set's location and count so the truncation is
    explicit, never silent. Kept as a pure function so the budget
    contract is unit-testable (tests/test_registry.py).

    r8 (VERDICT r7 #7): per-query MEDIANS ride the same line so
    round-over-round drift adjudication works from driver artifacts
    alone. To fit both tables, per-query values are trimmed to 2
    decimals BEFORE queries are trimmed (the full-precision record
    stays in $SPARK_GRAFT_BENCH_OUT); min and median are added as a
    pair per query so the two tables always cover the same names."""
    meta = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": {},
        "medians": {},
        "sf": sf_val,
        "repeats": repeats,
        "wall_sec": wall,
        "n_queries": len(timings),
        "queries_shown": 0,
        "queries_full": out_path,
        # contention evidence (VERDICT r9 #1): fixed-size fields, kept
        # in the meta dict so query-table trimming never drops them
        "steal_pct": steal_pct,
        "anchor_sec": anchor_sec,
    }
    medians = medians or {}
    shown: dict[str, float] = {}
    shown_med: dict[str, float] = {}
    for name in sorted(timings, key=lambda n: (-timings[n], n)):
        trial = dict(
            meta,
            queries=dict(shown, **{name: round(timings[name], 2)}),
            medians=dict(
                shown_med, **{name: round(medians.get(name, timings[name]), 2)}
            ),
        )
        trial["queries_shown"] = len(trial["queries"])
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        shown[name] = round(timings[name], 2)
        shown_med[name] = round(medians.get(name, timings[name]), 2)
    meta["queries"] = shown
    meta["medians"] = shown_med
    meta["queries_shown"] = len(shown)
    return json.dumps(meta, separators=(",", ":"))


if __name__ == "__main__":
    main()
