"""Plan-quality tests: assert the physical plans Catalyst produces are
the ones a 100 TB deployment needs — filters pushed to the parquet
scan, broadcast joins where a side is small, no Python in JVM-only
pipelines, group-limit pushdown for top-k.

These are the `.explain("formatted")` checks SURVEY §4 calls for,
executable as regressions.
"""

from __future__ import annotations


def _plan(query_results, name: str) -> str:
    """The query's formatted pre-execution plan, from the session's
    query cache (conftest.py)."""
    return query_results[name].formatted_plan


def test_q6_predicates_push_down(query_results):
    plan = _plan(query_results, "tpch_q6")
    assert "PushedFilters:" in plan
    # all four predicates reach the scan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({frag})" in plan or frag in plan.split("PushedFilters:")[1].split("\n")[0]


def test_q6_reads_only_needed_columns(query_results):
    plan = _plan(query_results, "tpch_q6")
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema  # pruned
    assert "l_partkey" not in read_schema


def test_q3_broadcasts_customer(query_results):
    plan = _plan(query_results, "tpch_q3")
    assert "BroadcastHashJoin" in plan


def test_dim_join_is_broadcast(query_results):
    plan = _plan(query_results, "broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact table must not shuffle


def test_topk_uses_group_limit_pushdown(query_results):
    plan = _plan(query_results, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_sort_limit_is_take_ordered(query_results):
    plan = _plan(query_results, "sort_limit_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_jvm_only_queries_have_no_python(query_results):
    """Queries documented as codegen-only must not plan a Python eval."""
    for name in ("tpch_q1", "dedup_simhash", "dedup_minhash_signatures", "text_token_count"):
        plan = _plan(query_results, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_q1_two_level_aggregation_shape(query_results):
    """Q1's two-level exact sum: the scan-side aggregation must still
    do map-side partial aggregation (the big data never shuffles raw),
    and the only exchanges carry per-(group, partition) partials — a
    few rows per task — then the 6-group final. Both levels partial +
    final ⇒ ≥4 HashAggregates; ≤3 Exchange mentions (level-1, level-2,
    AQE read marker)."""
    plan = _plan(query_results, "tpch_q1")
    # formatted plans mention each node twice (tree + details)
    assert plan.count("Exchange") <= 4, plan.count("Exchange")  # 2 physical
    assert plan.count("HashAggregate") >= 8  # 4 nodes: partial+final × 2 levels
    assert "SPARK_PARTITION_ID" in plan  # level-1 key bounds the long partials
    # the scan-side aggregation must sum LONGs, not decimals
    assert "partial_sum(cast(round((l_quantity" in plan and "as bigint" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling — the engine-level answer to hot keys at
    100 TB (session.py enables it; the salted-agg pattern is the
    query-level answer): with one key holding ~90% of the rows, the
    final adaptive plan must mark the sort-merge join skew-handled
    (SortMergeJoin(skew=true)), splitting the hot partition instead of
    letting one task run the whole join."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        left = spark.range(300_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS payload"
        )
        right = spark.range(1_000).selectExpr("id AS k", "id * 2 AS dim")
        joined = left.join(right, "k").agg(F.count(F.lit(1)).alias("n"))
        [row] = joined.collect()
        # every left row with k=0 or k in right's range matches exactly once
        assert row["n"] > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    """Date-partitioned layout — THE first-order scale lever for a
    100 TB event store: a day filter must reach the file index as a
    PartitionFilter (directories never listed), not a data filter."""
    import tempfile

    from pyspark.sql import functions as F

    from arcon_spark.io import load_table

    out = tempfile.mkdtemp(prefix="arcon_part_") + "/events_by_day"
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    ev.write.partitionBy("day").parquet(out)

    back = spark.read.parquet(out)
    days = [r["day"] for r in back.select("day").distinct().collect()]
    assert len(days) > 1, "need multiple partitions to prove pruning"
    one = sorted(days)[0]

    q = back.filter(F.col("day") == F.lit(one))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the day predicate must be IN the partition filters, not the data filters
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in pf, plan[:2000]
    n_one = q.count()
    assert 0 < n_one < back.count()


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: for a selective shuffle join, the
    optimizer must build a bloom filter from the filtered (creation)
    side and inject a might_contain probe on the other side — at
    100 TB this skips shuffling the ~never-matching rows, the join
    analog of partition pruning. The creation-side filter is on a
    NON-join column so constraint inference can't simply copy the
    predicate across — the bloom filter is the only pruning path.
    Sources are parquet scans (InjectRuntimeFilter requires a scan on
    the application side; in-memory ranges don't qualify). Thresholds
    are lowered so the local fixture crosses the size gates; the knob
    set is what a cluster deployment tunes."""
    import tempfile

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="arcon_bloom_")
    spark.range(500_000).selectExpr("id AS k", "id * 3 AS payload").write.parquet(
        d + "/big"
    )
    spark.range(100_000).selectExpr("id AS k", "id AS attr").write.parquet(
        d + "/small"
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.read.parquet(d + "/big")
        small = spark.read.parquet(d + "/small").filter("attr % 1000 = 0")
        joined = big.join(small, "k").agg(F.count(F.lit(1)).alias("n"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]  # built on creation side
        assert "might_contain" in plan, plan[:3000]  # probed on the big side
        [row] = joined.collect()
        assert row["n"] == 100  # k in {0, 1000, ..., 99000}
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ohlc_stays_hash_aggregate(query_results):
    """min_by / min(string) have var-width aggregation buffers and
    demote the agg to SortAggregate (per-task sort of the whole scan);
    the decimal(38,0) packed key keeps OHLC in HashAggregate."""
    plan = _plan(query_results, "ohlc_hourly_value")
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_no_batch_query_uses_sort_aggregate(batch_plans):
    """Registry-wide scale guard: every batch query's aggregation must
    stay HashAggregate / ObjectHashAggregate. SortAggregate means some
    aggregate carries a var-width buffer (min_by/first/min(string)) and
    the whole scan gets sorted per task — the packing patterns in
    ohlc_hourly_value / stateful_distinct_firsts exist to avoid it."""
    offenders = [name for name, plan in batch_plans.items() if "SortAggregate" in plan]
    assert offenders == [], offenders


def test_parquet_aggregate_pushdown_metadata_only(spark, sf_dir):
    """MIN/MAX/COUNT over a parquet scan can answer from footer
    statistics alone (PushedAggregation, DataSource V2) — at 100 TB a
    whole-table count or max becomes a metadata-only scan that reads
    zero data pages. Not on by default (V1 reader); this pins the
    exact confs that enable it and that the pushed plan still returns
    correct values. Timestamp columns are excluded from pushdown by
    Spark — use long/double columns."""
    confs = {
        "spark.sql.sources.useV1SourceList": "",
        "spark.sql.parquet.aggregatePushdown": "true",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        q = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.max("l_orderkey").alias("max_key"),
            F.min("l_quantity").alias("min_qty"),
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan, plan[:2000]
        [row] = q.collect()
        ref = df.agg(
            F.count(F.lit(1)), F.max("l_orderkey"), F.min("l_quantity")
        ).collect()[0]
        assert (row["n"], row["max_key"], row["min_qty"]) == tuple(ref)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_cartesian_and_bnlj_allowlisted(batch_plans, plan_docs):
    """Registry-wide scale guard #2: no batch query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed only on
    the pinned list below — each of those is a 1-row scalar-subquery
    broadcast (count/avg/threshold singletons) or a deliberately tiny
    constant grid, which stays O(1) at any data size. A new query
    landing here unreviewed usually means an unkeyed join that would
    be quadratic at 100 TB."""
    BNLJ_OK = {
        "graph_triangle_count",
        "priority_region_grid",
        "scalar_subquery_above_avg",
        "text_tfidf_topterms",
        "tpch_q11ish",
        "tpch_q22ish",
        # 1-row total broadcast (observed_frac divisor)
        "benford_first_digit_audit",
        # pairwise-slope inequality self-join on the per-HOUR series
        # (O(h²) on series length, not events) + 1-row slope broadcast
        "theil_sen_hourly_trend",
        # 1-row broadcast of the time-range midpoint (treat/post split)
        "diff_in_diff_events",
        # 1-row broadcasts of median/MAD thresholds and the bitemporal
        # knowledge horizon
        "stl_residual_anomalies",
        "bitemporal_asof",
        # 1-row broadcast of the date-range midpoint (period split)
        "revenue_bridge_analysis",
        # 1-row broadcast of the total/keys/max stats the top-k heavy
        # keys are scored against
        "skew_diagnostics_events",
        # 3-row vocab-size spine broadcast onto the ranked type table
        "tokenizer_vocab_coverage",
        # 1-row broadcast of the all-pairs volume total (strong-tie cut)
        "graph_link_prediction",
        "graph_modularity",
        # 1-row broadcast of the mixture normalizers (tot/stot)
        "mixture_temperature_sampling",
    }
    # piggyback the single-partition-Window and high-shuffle contracts
    # on the same full-registry plan walk: every plan with a WindowExec
    # without partition spec, or with >= HIGH_SHUFFLE shuffles, needs a
    # note in tools/plan_docs.py (SCALE.md renders them), and every note
    # must still be needed — a new unbounded global sort or shuffle
    # chain can't land silently, and a trimmed plan drops its note
    cartesian, rogue_bnlj = [], []
    needs = {"GLOBAL_WINDOW_NOTES": set(), "HIGH_SHUFFLE_NOTES": set()}
    for name, plan in batch_plans.items():
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            rogue_bnlj.append(name)
        if plan_docs._global_window_count(plan) > 0:
            needs["GLOBAL_WINDOW_NOTES"].add(name)
        if plan_docs._exchange_counts(plan)[0] >= plan_docs.HIGH_SHUFFLE:
            needs["HIGH_SHUFFLE_NOTES"].add(name)
    assert cartesian == [], cartesian
    assert rogue_bnlj == [], rogue_bnlj
    problems = []
    for notes, needed in needs.items():
        have = set(getattr(plan_docs, notes))
        if needed - have:
            problems.append(f"no {notes} entry for {sorted(needed - have)}")
        if have - needed:
            problems.append(f"stale {notes} entry for {sorted(have - needed)}")
    assert not problems, f"tools/plan_docs.py: {problems}"


def test_batch_apply_in_pandas_sites_pin_group_parallelism():
    """Every batch applyInPandas AND applyInArrow site must route its
    input through io.pin_groups: AQE coalesces shuffle partitions by
    BYTES, but a pandas/arrow group stage costs per GROUP CALL, so an
    unpinned tiny-byte shuffle with thousands of groups collapses onto
    1-4 tasks and runs its Python serially (measured 21 s -> 2.8 s on
    the cogroup merge, MEASURE.md round-6). applyInArrow shares the
    per-group-call profile exactly (same Arrow hop, minus the pandas
    Block build), so it is covered too — r7's contract matched only
    applyInPandas, leaving the arrow window site coalescible (VERDICT
    r7 finding #1). AST-level check (the r6 form was a substring
    match, which pin_groups(df, 'x').groupBy('y') would have satisfied
    while still inserting a second exchange): every groupBy feeding a
    group-apply — including cogroup's second input — must have a
    pin_groups call as its DIRECT receiver, and the pinned column list
    must equal the groupBy key list exactly, so the downstream groupBy
    reuses the pinned exchange instead of adding an AQE-coalescible
    one. Streaming modules are exempt — applyInPandasWithState/tWS run
    on the state-store partitioning, not an AQE-coalesced batch
    exchange."""
    import ast
    import pathlib

    def _arg_keys(call: "ast.Call", skip: int = 0) -> list | None:
        """String-constant args of a call past `skip` leading args
        (None if any remaining arg is non-constant)."""
        keys = []
        for a in call.args[skip:]:
            if not (isinstance(a, ast.Constant) and isinstance(a.value, str)):
                return None
            keys.append(a.value)
        return keys

    root = pathlib.Path(__file__).resolve().parent.parent / "arcon_spark"
    offenders = []
    for sub in ("functions", "operators"):
        for path in sorted((root / sub).glob("*.py")):
            src = path.read_text()
            tree = ast.parse(src)
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("applyInPandas", "applyInArrow")
                ):
                    continue
                # every groupBy in the receiver subtree (cogroup's
                # second input is an argument of a receiver-chain call,
                # so ast.walk reaches it too)
                for gb in ast.walk(node.func.value):
                    if not (
                        isinstance(gb, ast.Call)
                        and isinstance(gb.func, ast.Attribute)
                        and gb.func.attr == "groupBy"
                    ):
                        continue
                    recv = gb.func.value
                    pinned = (
                        isinstance(recv, ast.Call)
                        and isinstance(recv.func, ast.Name)
                        and recv.func.id == "pin_groups"
                    )
                    if not pinned:
                        offenders.append(
                            f"{path.name}:{gb.lineno} groupBy receiver is "
                            "not a pin_groups(...) call"
                        )
                        continue
                    gb_keys = _arg_keys(gb)
                    pin_keys = _arg_keys(recv, skip=1)  # arg 0 is the df
                    if gb_keys is None or pin_keys is None or gb_keys != pin_keys:
                        offenders.append(
                            f"{path.name}:{gb.lineno} pin_groups keys "
                            f"{pin_keys} != groupBy keys {gb_keys}"
                        )
    assert offenders == [], (
        "applyInPandas group keys not pinned (see io.pin_groups): "
        f"{offenders}"
    )


def test_spread_and_pin_groups_never_touch_rdd(spark, sf_dir, monkeypatch):
    """io.spread / io.pin_groups width derivation must stay off
    ``DataFrame.rdd`` (ADVICE r7): accessing .rdd finalizes the AQE
    plan and eagerly EXECUTES any un-materialized upstream shuffle
    stages, and the caller's real action then re-runs that subtree in
    a separate query execution — the upstream cost is silently paid
    twice. Enforced by poisoning the .rdd property and exercising both
    helpers on a scan and on a shuffled (un-checkpointed) frame; also
    pins the behavior contract: a single-file scan still widens to
    session parallelism, and pin_groups floors at the shuffle width."""
    import pytest
    from pyspark.sql import functions as F

    from arcon_spark import io

    docs = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shuffled = docs.groupBy((F.col("doc_id") % 64).alias("g")).count()
    cls = type(docs)  # the CONCRETE class: the classic DataFrame
    # subclass shadows the abstract base's .rdd, so patch the runtime
    # type, and prove the poison is armed before trusting the test
    orig = cls.rdd

    def _poisoned(self):  # pragma: no cover - must never run
        raise AssertionError("io helpers must not touch DataFrame.rdd")

    monkeypatch.setattr(cls, "rdd", property(_poisoned))
    with pytest.raises(AssertionError):
        docs.rdd  # noqa: B018 - poison armed?
    wide = io.spread(docs)
    pinned_scan = io.pin_groups(docs, "doc_id")
    pinned_shuf = io.pin_groups(shuffled, "g")
    monkeypatch.setattr(cls, "rdd", orig)

    target = spark.sparkContext.defaultParallelism
    assert wide.rdd.getNumPartitions() == target  # single file -> widened
    assert pinned_scan.rdd.getNumPartitions() >= target
    shuffle_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert pinned_shuf.rdd.getNumPartitions() >= max(target, shuffle_w)


def test_scan_width_estimate_survives_exotic_byte_confs(spark, sf_dir):
    """spark.sql.files.maxPartitionBytes accepts byte strings beyond
    k/m/g — '1t', '2p' — and a sizing HINT must never turn those legal
    configs into a hard crash of every spread()/pin_groups() caller
    (ADVICE r8). The parse itself is a pure helper, so the fallback
    paths Spark's own conf validation won't let us set ('0.5g',
    garbage) are pinned directly on _parse_byte_conf."""
    from arcon_spark import io

    # pure-parse contract: full suffix table + never-raise fallback
    assert io._parse_byte_conf("1t") == 1 << 40
    assert io._parse_byte_conf("2p") == 2 << 50
    assert io._parse_byte_conf("0.5g") == 1 << 29
    assert io._parse_byte_conf("128mb") == 128 << 20
    assert io._parse_byte_conf("134217728") == 128 << 20
    assert io._parse_byte_conf("not-bytes") == 128 << 20  # fallback
    assert io._parse_byte_conf("") == 128 << 20  # fallback

    # end-to-end: every Spark-settable form keeps spread() working
    docs = io.load_table(spark, sf_dir, "documents").select("doc_id")
    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    try:
        for raw in ("1t", "2p", "128mb", "134217728"):
            spark.conf.set(key, raw)
            w = io._scan_width_estimate(docs)
            assert w is not None and w >= 1, (raw, w)
        spark.conf.set(key, "1k")  # tiny split -> many estimated splits
        assert io._scan_width_estimate(docs) > 1
    finally:
        spark.conf.set(key, orig)


def test_table_rowcount_matches_spark_count(spark, sf_dir):
    """io.table_rowcount reads parquet FOOTER metadata (no Spark job)
    and must agree exactly with a full scan count — it sizes the
    block-tile grids, so a wrong count silently changes physical
    plans (ADVICE r8 moved the tile kernels off df.count() to it)."""
    from arcon_spark import io

    for name in ("embeddings", "customer", "documents"):
        meta = io.table_rowcount(spark, sf_dir, name)
        scanned = io.load_table(spark, sf_dir, name).count()
        assert meta == scanned, (name, meta, scanned)
