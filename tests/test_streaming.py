"""Streaming window semantics — the reference's assigner.rs scenario
tapes (arcon/src/stream/operator/window/assigner.rs:404-584, FIXTURES
F6) replayed through Structured Streaming.

Timestamps are epoch seconds within the first minute of 1970 for
readability; the window arithmetic is identical at any epoch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arcon_spark.streaming import Sliding, Stream, Tumbling
from tests.streaming_util import run_tape

import pytest

SCHEMA = "key long, value long, ts timestamp"


def _ts(sec: float):
    import datetime

    return datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=sec)


def _win_counts(df):
    return {
        (r.win_start.second + r.win_start.minute * 60, getattr(r, "key", None)): r.n
        for r in df.collect()
    }


def _tumbling(src_df, length="10 seconds", late="0 seconds", keyed=False):
    s = Stream(src_df, ts_col="ts")
    if keyed:
        s = s.key_by("key")
    return s.window(Tumbling(length, late)).agg(F.count(F.lit(1)).alias("n")).df


def test_window_discard_late_arrival(spark):
    """assigner.rs window_discard_late_arrival (:431-452): 2 on-time
    elements, watermark past window end, then a late element → exactly
    one window of 2; the late element is dropped.

    Batch structure note (SURVEY §7 'What's hard' #2): the reference
    interleaves explicit Watermark messages between elements; Spark
    applies a new watermark only at the next micro-batch. The spacer
    segment reproduces the reference's ordering — watermark advanced
    *before* the late element arrives. Same-batch arrival is Spark's
    documented best-effort zone (late data 'may or may not' be
    dropped), intentionally not asserted."""
    segments = [
        [(1, 10, _ts(1)), (1, 11, _ts(9))],  # window [0,10)
        [(1, 12, _ts(25))],  # advances max event time to 25s
        [(1, 99, _ts(24))],  # spacer: watermark 25s now in force
        [(1, 13, _ts(5))],  # late for [0,10) → dropped
        [(1, 14, _ts(45))],  # flush
    ]
    out = run_tape(spark, SCHEMA, segments, _tumbling)
    counts = {r.win_start.second: r.n for r in out.collect()}
    assert counts[0] == 2
    assert counts.get(20, 2) == 2  # ts25 + ts24 spacer
    assert 40 not in counts or counts[40] == 1


def test_window_allow_late_arrival(spark):
    """assigner.rs window_allow_late_arrival (:475-500): with a 10s
    grace the late element lands in its (still open) window."""
    segments = [
        [(1, 10, _ts(9))],  # window [0,10)
        [(1, 11, _ts(15))],  # watermark after: 15-10 = 5s < 10s → [0,10) open
        [(1, 12, _ts(5))],  # late but within grace → accepted into [0,10)
        [(1, 13, _ts(45))],  # flush
    ]
    out = run_tape(
        spark, SCHEMA, segments, lambda df: _tumbling(df, late="10 seconds")
    )
    counts = {r.win_start.second: r.n for r in out.collect()}
    assert counts[0] == 2, counts  # late element counted — grace honored


def test_window_too_late_late_arrival(spark):
    """assigner.rs window_too_late_late_arrival (:453-474): even with a
    grace, an element older than watermark - grace is dropped."""
    segments = [
        [(1, 10, _ts(9))],
        [(1, 11, _ts(35))],  # max event time 35s → watermark 25s
        [(1, 99, _ts(34))],  # spacer: watermark 25s in force, [0,10) closed
        [(1, 12, _ts(5))],  # beyond grace → dropped
        [(1, 13, _ts(60))],  # flush
    ]
    out = run_tape(
        spark, SCHEMA, segments, lambda df: _tumbling(df, late="10 seconds")
    )
    counts = {r.win_start.second: r.n for r in out.collect()}
    assert counts[0] == 1, counts


def test_window_by_key(spark):
    """assigner.rs window_by_key (:404-429): keyed windows with counts
    [2, 3, 1] across 3 keys."""
    segments = [
        [
            (1, 1, _ts(1)),
            (1, 2, _ts(3)),
            (2, 3, _ts(1)),
            (2, 4, _ts(2)),
            (2, 5, _ts(4)),
            (3, 6, _ts(11)),
        ],
        [(9, 0, _ts(45))],  # flush
    ]
    out = run_tape(
        spark, SCHEMA, segments, lambda df: _tumbling(df, keyed=True)
    )
    counts = {(r.win_start.second, r.key): r.n for r in out.collect()}
    assert counts[(0, 1)] == 2
    assert counts[(0, 2)] == 3
    assert counts[(10, 3)] == 1


def test_window_overlapping(spark):
    """assigner.rs window_overlapping (:547-568): sliding 10s/5s —
    each element in exactly 2 windows."""
    segments = [
        [(1, 1, _ts(6)), (1, 2, _ts(7)), (1, 3, _ts(11))],
        [(1, 0, _ts(45))],  # flush
    ]

    def transform(df):
        return (
            Stream(df, ts_col="ts")
            .window(Sliding("10 seconds", "5 seconds", "2 seconds"))
            .agg(F.count(F.lit(1)).alias("n"))
            .df
        )

    out = run_tape(spark, SCHEMA, segments, transform)
    counts = {r.win_start.second: r.n for r in out.collect() if r.n}
    assert counts[0] == 2  # [0,10): 6,7
    assert counts[5] == 3  # [5,15): 6,7,11
    assert counts[10] == 1  # [10,20): 11


def test_sliding_asserts_length_multiple_of_slide():
    """assigner.rs asserts window_length % slide == 0 (:93-108)."""
    with pytest.raises(ValueError):
        Sliding("10 seconds", "3 seconds")


def test_float_keys_forbidden(spark):
    df = spark.createDataFrame([(1.5, 1)], "k double, v long")
    with pytest.raises(TypeError):
        Stream(df).key_by("k")


def test_debug_capture_watermarks_and_epochs(spark):
    """DebugNode parity (reference debug.rs accumulates data,
    watermarks, epochs): the capture sink records the per-batch
    watermark progression and committed epoch ids."""
    from arcon_spark.streaming import Stream, Tumbling
    from tests.streaming_util import write_segments

    segments = [
        [(1, 1, _ts(5))],
        [(1, 2, _ts(30))],
        [(1, 3, _ts(60))],
    ]
    root = write_segments(spark, SCHEMA, segments)
    src = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(root)
    s = (
        Stream(src, ts_col="ts")
        .window(Tumbling("10 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cap = s.to_debug_capture("dbg_cap_1").run()
    assert len(cap.epochs) >= 3  # one epoch per segment (+ flush batch)
    # watermark sequence is monotonically non-decreasing and reaches 60s
    wms = cap.watermarks
    assert wms == sorted(wms)
    assert any(w.startswith("1970-01-01T00:01:00") for w in wms), wms
    assert cap.data.count() >= 2  # windows [0,10) and [30,40) flushed


def test_engine_reports_late_rows_dropped(spark):
    """The engine's own accounting must corroborate the late-drop
    semantics: the watermark-dropped element shows up in the state
    operator's numRowsDroppedByWatermark metric (the MeasureSink-style
    observability surface for lateness at 100 TB — you alert on this
    counter, not on missing rows)."""
    import uuid as _uuid

    from tests.streaming_util import write_segments as _ws

    segments = [
        [(1, 10, _ts(1)), (1, 11, _ts(9))],  # window [0,10)
        [(1, 12, _ts(25))],  # advances max event time
        [(1, 99, _ts(24))],  # spacer: watermark 25s in force
        [(1, 13, _ts(5))],  # late for [0,10) → dropped by the engine
        [(1, 14, _ts(45))],  # flush
    ]
    root = _ws(spark, SCHEMA, segments)
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    out = _tumbling(src)
    q = (
        out.writeStream.format("memory")
        .queryName(f"late_metrics_{_uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    dropped = sum(
        int(so.get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        for so in (p.get("stateOperators") or [])
    )
    q.stop()
    assert dropped == 1, f"expected exactly the one late row dropped, got {dropped}"


def test_late_side_output_split_and_monotonic_watermark(spark):
    """run_with_late_side_output must (a) classify with the engine's
    one-batch-late watermark rule, (b) keep the watermark monotonic —
    a batch whose max ts regresses must not re-open the window — and
    (c) partition the input exactly (no loss, no duplication)."""
    import os
    import tempfile

    from arcon_spark.streaming.side_output import run_with_late_side_output
    from tests.streaming_util import write_segments as _ws

    segments = [
        [(1, 10, _ts(10)), (1, 11, _ts(9))],  # batch 1: wm None → all main; wm := 10
        [(1, 12, _ts(5)), (1, 13, _ts(20))],  # ts 5 <= 10 late; 20 main; wm := 20
        [(1, 14, _ts(15))],  # max regresses but wm stays 20 → 15 late
        [(1, 15, _ts(20))],  # exactly-at-watermark is late (<=, ingress rule)
        [(1, 16, _ts(21))],  # strictly above → main
    ]
    root = _ws(spark, SCHEMA, segments)
    out = tempfile.mkdtemp(prefix="side_out_test_")
    side_dir, main_dir = os.path.join(out, "late"), os.path.join(out, "main")
    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    wm = run_with_late_side_output(
        spark,
        src,
        ts_col="ts",
        delay_sec=0.0,
        side_dir=side_dir,
        main_writer=lambda df, eid: df.write.mode("append").parquet(main_dir),
    )
    late = {r.value for r in spark.read.parquet(side_dir).collect()}
    main = {r.value for r in spark.read.parquet(main_dir).collect()}
    assert late == {12, 14, 15}, late
    assert main == {10, 11, 13, 16}, main
    assert late | main == set(range(10, 17)) and not (late & main)
    assert wm == 21_000_000  # µs: final watermark = max ts seen


# ---------------------------------------------------------------------------
# tape split constants: driver-side, memoized, Spark-free (round-2 fix
# for the per-query ev.agg(...).collect() scans at construction time)
# ---------------------------------------------------------------------------


def test_drain_stops_and_restores_partitions_when_a_batch_fails(spark):
    """A failing foreachBatch re-raises through _drain, leaves no
    active query behind, and restores the session's shuffle
    partitions."""
    from arcon_spark.streaming.queries import STREAM_STATE_PARTITIONS, _drain
    from arcon_spark.streaming.tape import read_segments
    from tests.streaming_util import write_segments

    root = write_segments(spark, "k long", [[(1,)], [(2,)]])

    def boom(batch_df, batch_id):
        raise RuntimeError("injected batch failure")

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_STATE_PARTITIONS + 1))
    try:
        with pytest.raises(Exception, match="injected batch failure"):
            _drain(spark, read_segments(spark, root, "k long").writeStream.foreachBatch(boom))
        assert spark.streams.active == []
        assert spark.conf.get(key) == str(STREAM_STATE_PARTITIONS + 1)
    finally:
        spark.conf.set(key, prev)


def test_drain_latest_keeps_each_keys_last_update(spark):
    """Update-mode readout over a two-segment tape: A updates in both
    batches, B only in the first. The view holds A's batch-2 row and
    B's batch-1 row, in the aggregate's own columns."""
    from arcon_spark.streaming.queries import _drain_latest
    from arcon_spark.streaming.tape import read_segments
    from tests.streaming_util import write_segments

    schema = "k string, v long"
    root = write_segments(spark, schema, [[("A", 1), ("B", 5)], [("A", 2)]])
    agg = (
        read_segments(spark, root, schema)
        .groupBy("k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    out = _drain_latest(spark, agg, ["k"])
    assert out.columns == ["k", "total", "n"]
    assert sorted(tuple(r) for r in out.collect()) == [("A", 3, 2), ("B", 5, 1)]


def test_tape_stats_need_no_spark():
    """The split-constant helper must run without any Spark session —
    it is a duckdb parquet metadata read, so registered streaming
    queries launch ZERO Spark jobs to derive their tape constants."""
    from arcon_spark.streaming.queries import _tape_stats_us

    _tape_stats_us.cache_clear()
    lo, med, hi = _tape_stats_us("/root/testdata/sf0.001")
    assert lo < med < hi
    # memoized: second call is the cached tuple
    assert _tape_stats_us("/root/testdata/sf0.001") == (lo, med, hi)
    # typed-subset variant (used by stream_absence_alert)
    lo2, med2, hi2 = _tape_stats_us("/root/testdata/sf0.001", ("purchase", "click"))
    assert lo <= lo2 < med2 < hi2 <= hi


def test_tape_split_is_a_parameter_seam(monkeypatch):
    """Production thresholds are config inputs; the helper is the
    injection point — monkeypatching it moves the epoch split."""
    import arcon_spark.streaming.queries as q

    fixed = (0, 1_000_000, 2_000_000)
    monkeypatch.setattr(q, "_tape_stats_us", lambda sf, types=None: fixed)
    assert q._tape_split_ts("whatever") == q._us_to_naive_utc(1_000_000)


def test_cumulate_window_fluent(spark):
    """Cumulate assigner on the fluent API (Flink CUMULATE semantics):
    period 40s / step 10s; an element at t belongs to every growing
    window [H, H+10j) with end > t, and each window's row emits in
    APPEND mode once the watermark passes its end (the step-tumbling
    re-window construction). Elements at 5s and 15s in the first
    period: 5s is in all 4 windows, 15s in windows ending 20/30/40."""
    from arcon_spark.streaming import Cumulate

    def xform(src_df):
        return (
            Stream(src_df, ts_col="ts")
            .window(Cumulate("40 seconds", "10 seconds"))
            .agg(F.count(F.lit(1)).alias("n"))
            .df
        )

    segments = [
        [(1, 10, _ts(5)), (1, 11, _ts(15))],
        [(1, 12, _ts(200))],  # watermark pusher: closes period 1 windows
    ]
    out = run_tape(spark, SCHEMA, segments, xform)
    got = {
        (r.win_start.second, r.win_end.second + 60 * r.win_end.minute): r.n
        for r in out.collect()
        if r.win_start.minute == 0 and r.win_start.second == 0
    }
    assert got == {(0, 10): 1, (0, 20): 2, (0, 30): 2, (0, 40): 2}


def test_cumulate_asserts_period_multiple_of_step():
    from arcon_spark.streaming import Cumulate

    with pytest.raises(ValueError):
        Cumulate("50 seconds", "15 seconds")


def test_stream_operator_fluent(spark):
    """Stream.operator(): the custom-Operator slot on the fluent
    builder (reference stream.operator(OperatorBuilder), dataflow/
    stream/operator.rs:39-81) — a keyed running count with state
    surviving across micro-batches."""
    from arcon_spark.streaming import Operator

    class Counter(Operator):
        def handle_element(self, key, pdf, ctx):
            st = ctx.value("n")
            n = (st.get() or 0) + len(pdf)
            st.put(n)
            return [{"key": int(key[0]), "n": int(n)}]

    def xform(src_df):
        return (
            Stream(src_df, ts_col=None)
            .key_by("key")
            .operator(Counter(), "key long, n long")
            .df
        )

    segments = [
        [(1, 10, _ts(1)), (1, 11, _ts(2)), (2, 20, _ts(3))],
        [(1, 12, _ts(4))],
    ]
    out = run_tape(spark, SCHEMA, segments, xform)
    rows = {(r.key, r.n) for r in out.collect()}
    assert (1, 2) in rows and (1, 3) in rows and (2, 1) in rows


def test_stream_operator_requires_keys(spark):
    from arcon_spark.streaming import Operator

    class Noop(Operator):
        def handle_element(self, key, pdf, ctx):
            return None

    src = spark.createDataFrame([(1, 2, _ts(1))], SCHEMA)
    with pytest.raises(ValueError):
        Stream(src, ts_col=None).operator(Noop(), "key long")


def test_stream_operator_tws_fluent(spark):
    """Stream.operator_tws(): the same slot on native
    transformWithStateInPandas (typed ValueState via the vendored
    protobuf runtime)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.streaming.tws import ROCKSDB_PROVIDER, TWS_AVAILABLE

    if not TWS_AVAILABLE:
        pytest.skip("protobuf bootstrap failed")

    class Counter(StatefulProcessor):
        def init(self, handle) -> None:
            self.n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self.n.get()[0] if self.n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.n.update((n,))
            yield pd.DataFrame({"key": [int(key[0])], "n": [int(n)]})

        def close(self) -> None:
            pass

    def xform(src_df):
        return (
            Stream(src_df, ts_col=None)
            .key_by("key")
            .operator_tws(Counter(), "key long, n long")
            .df
        )

    key_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key_conf, None)
    spark.conf.set(key_conf, ROCKSDB_PROVIDER)
    try:
        segments = [
            [(1, 10, _ts(1)), (2, 20, _ts(2))],
            [(1, 11, _ts(3))],
        ]
        out = run_tape(spark, SCHEMA, segments, xform)
        rows = {(r.key, r.n) for r in out.collect()}
        assert (1, 1) in rows and (1, 2) in rows and (2, 1) in rows
    finally:
        if prev is not None:
            spark.conf.set(key_conf, prev)
        else:
            spark.conf.unset(key_conf)


def test_cumulate_millisecond_granularity_accepted():
    """Integer-microsecond divisibility: 1s/100ms is exactly 10 steps
    (float-second modulo used to reject this)."""
    from arcon_spark.streaming import Cumulate

    c = Cumulate("1 second", "100 milliseconds")
    assert c.n_steps == 10
    assert Cumulate("1 minute", "100 milliseconds").n_steps == 600


def test_tape_cache_keys_do_not_collide_across_schemas(spark, sf_dir):
    """Regression: stream_dp_release_ledger once cached its 2-column
    (doc_id, lang) tape under the key stream_dsir_scores uses for its
    3-column (doc_id, lang, text) tape; run in that order in one
    session, dsir read null text through the poisoned tape and emitted
    ZERO rows (r5 closing-gate catch). Run both in the failure order
    and require dsir to score every document."""
    from arcon_spark.io import load_table
    from arcon_spark.streaming.queries import (
        stream_dp_release_ledger,
        stream_dsir_scores,
    )

    n_docs = load_table(spark, sf_dir, "documents").count()
    assert stream_dp_release_ledger(spark, sf_dir).count() > 0
    assert stream_dsir_scores(spark, sf_dir).count() == n_docs


def test_appended_release_rows_are_retry_absorbable(spark, sf_dir):
    """The exactly-once insurance of the appending foreachBatch
    queries is `distinct()` over recomputed rows — which only works
    while every output column is a pure function of the DATA (no
    batch_id, no wall clock, no nondeterministic noise). Assert the
    contract directly: doubling the output rows and distinct()-ing
    yields the identical frame. A future edit that adds a
    batch-dependent column silently breaks retry absorption; this
    test makes it loud."""
    from arcon_spark.streaming.queries import (
        stream_dp_release_ledger,
        stream_dsir_scores,
    )

    for fn in (stream_dp_release_ledger, stream_dsir_scores):
        out = fn(spark, sf_dir)
        doubled = out.unionAll(out).distinct()
        assert doubled.count() == out.count(), fn.__name__
        assert doubled.exceptAll(out).count() == 0, fn.__name__


def test_incremental_dedup_index_sizing_and_compaction(spark, sf_dir, monkeypatch):
    """The ingest band index appends row-sized files and compacts when
    the segment count passes the tier cap. Force BOTH paths with tiny
    thresholds (multi-file appends per wave + a compaction after every
    wave) and assert the emitted pair set is identical to the default
    configuration — compaction must never change what a probe sees."""
    from arcon_spark.streaming import queries as sq

    base = sorted(
        (r.doc_a, r.doc_b)
        for r in sq.stream_incremental_dedup(spark, sf_dir).collect()
    )
    monkeypatch.setattr(sq, "_INC_INDEX_ROWS_PER_FILE", 10)
    monkeypatch.setattr(sq, "_INC_INDEX_COMPACT_FILES", 1)
    forced = sorted(
        (r.doc_a, r.doc_b)
        for r in sq.stream_incremental_dedup(spark, sf_dir).collect()
    )
    assert forced == base and len(base) > 0
