"""transformWithState (Spark 4 native typed state) — end to end.

The tWS Python worker requires google.protobuf; this container has no
wheel, so the engine vendors a spec-conformant runtime
(arcon_spark/protoshim, conformance in test_protoshim.py) that
session.py bootstraps onto the worker PYTHONPATH. The runtime test
below therefore executes for real here: the worker speaks the protobuf
state protocol to the JVM TransformWithStateInPandasStateServer
(ValueState + ListState + MapState against RocksDB), which parses with
the real Java protobuf runtime — full wire conformance or loud failure.
"""

from __future__ import annotations

import pytest

from arcon_spark.streaming import Stream
from arcon_spark.streaming.tws import ROCKSDB_PROVIDER, TWS_AVAILABLE, run_first_seen

_KEY = "spark.sql.streaming.stateStore.providerClass"


def _stream(spark):
    return Stream.from_collection(
        spark,
        [(i % 4, i, "ab"[i % 2]) for i in range(40)],
        "k long, v long, t string",
    )


def test_tws_plan_builds(spark):
    """Unresolved plan construction + schema validation work without
    running the query (no protobuf needed for analysis)."""
    out = run_first_seen(_stream(spark).df)
    assert [f.name for f in out.schema.fields] == ["k", "v", "first_v", "n_seen"]
    assert out.isStreaming


@pytest.mark.skipif(not TWS_AVAILABLE, reason="protobuf bootstrap failed")
def test_tws_event_time_timer_fires(spark):
    """Native per-key event-time timers (the reference's quad-wheel,
    arcon/src/stream/node/timer.rs:61-274, on the tWS timer protocol:
    RegisterTimer / ListTimers / ExpiryTimerRequest shim messages flow
    to the JVM timer state). Each key registers a timer at
    first_ts + 10s; a later batch advances the watermark past it; the
    expired-timer callback emits one row per key."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.streaming.tape import write_segments

    class TimerEmit(StatefulProcessor):
        def init(self, handle) -> None:
            self.handle = handle
            self.count = handle.getValueState("count", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self.count.get()[0] if self.count.exists() else 0
            first_batch = n == 0
            ts_min = None
            for pdf in rows:
                n += len(pdf)
                if len(pdf):
                    m = int(pdf["ts_ms"].min())
                    ts_min = m if ts_min is None else min(ts_min, m)
            self.count.update((n,))
            if first_batch and ts_min is not None:
                self.handle.registerTimer(ts_min + 10_000)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            n = self.count.get()[0] if self.count.exists() else 0
            yield pd.DataFrame(
                {
                    "k": [key[0]],
                    "n": [n],
                    "fired_at": [expiredTimerInfo.getExpiryTimeInMs()],
                }
            )

        def close(self) -> None:
            pass

    base = 1_700_000_000_000  # ms epoch
    rows1 = [(i % 3, base + i * 100) for i in range(12)]
    rows2 = [(9, base + 3_600_000)]  # watermark pusher, 1h later
    seg1 = spark.createDataFrame(rows1, "k long, ts_ms long")
    seg2 = spark.createDataFrame(rows2, "k long, ts_ms long")
    root = write_segments([seg1, seg2])
    src = (
        spark.readStream.schema("k long, ts_ms long")
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
        .withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        .withWatermark("ts", "1 second")
    )
    out = src.groupBy("k").transformWithStateInPandas(
        TimerEmit(), "k long, n long, fired_at long", "Append", "EventTime"
    )
    prev = spark.conf.get(_KEY, None)
    spark.conf.set(_KEY, ROCKSDB_PROVIDER)
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("tws_timers")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {(r.k, r.n) for r in spark.table("tws_timers").collect()}
        # keys 0,1,2 got 4 elements each in batch 1; timers fired once
        # the pusher row advanced the watermark past first_ts + 10s
        assert got == {(0, 4), (1, 4), (2, 4)}
    finally:
        if prev is not None:
            spark.conf.set(_KEY, prev)
        else:
            spark.conf.unset(_KEY)


@pytest.mark.skipif(not TWS_AVAILABLE, reason="protobuf bootstrap failed")
def test_tws_state_survives_restart(spark):
    """Native typed state across a stop/restart (reference §2.7 aligned
    epoch checkpointing + state restore, node/mod.rs:461-507): a
    per-key ValueState counter keeps counting after the query is torn
    down and restarted from its checkpoint — proving the RocksDB state
    snapshot round-trips through the checkpoint, not just within one
    run — and the parquet sink stays exactly-once across the restart."""
    import os
    import shutil
    import tempfile
    import time

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.streaming.tape import write_segments

    class RunningCount(StatefulProcessor):
        def init(self, handle) -> None:
            self.n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n = self.n.get()[0] if self.n.exists() else 0
            for pdf in rows:
                pdf = pdf.sort_values("v", kind="mergesort")
                out_n = []
                for _ in range(len(pdf)):
                    n += 1
                    out_n.append(n)
                yield pd.DataFrame(
                    {"k": pdf["k"].astype("int64"), "v": pdf["v"].astype("int64"), "nth": out_n}
                )
            self.n.update((n,))

        def close(self) -> None:
            pass

    seg1 = spark.createDataFrame([(i % 2, i) for i in range(6)], "k long, v long")
    seg2 = spark.createDataFrame([(i % 2, i) for i in range(6, 12)], "k long, v long")
    root = write_segments([seg1])
    ckpt = tempfile.mkdtemp(prefix="arcon_tws_ckpt_")
    sink = tempfile.mkdtemp(prefix="arcon_tws_sink_") + "/out"

    def start_query():
        src = spark.readStream.schema("k long, v long").parquet(root)
        out = src.groupBy("k").transformWithStateInPandas(
            RunningCount(), "k long, v long, nth long", "Append", "None"
        )
        return (
            out.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    prev = spark.conf.get(_KEY, None)
    spark.conf.set(_KEY, ROCKSDB_PROVIDER)
    try:
        q = start_query()
        q.processAllAvailable()
        q.stop()
        assert spark.read.parquet(sink).count() == 6

        # seg2 lands while the query is DOWN (mtime after seg1)
        tmp = root + "_tmp"
        seg2.coalesce(1).write.parquet(tmp)
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(tmp)
            for f in fs
            if f.endswith(".parquet")
        ]
        dst = os.path.join(root, "later.parquet")
        shutil.copyfile(files[0], dst)
        now = time.time() + 60
        os.utime(dst, (now, now))
        shutil.rmtree(tmp)

        q2 = start_query()
        q2.processAllAvailable()
        q2.stop()
        rows = {(r.k, r.v): r.nth for r in spark.read.parquet(sink).collect()}
        assert len(rows) == 12  # exactly once per input row
        # per key: v-ordered rows numbered 1..6 — counts CONTINUED across
        # the restart (phase-2 rows got nth 4..6, not 1..3 again)
        for k in (0, 1):
            vs = sorted(v for (kk, v) in rows if kk == k)
            assert [rows[(k, v)] for v in vs] == [1, 2, 3, 4, 5, 6]
    finally:
        if prev is not None:
            spark.conf.set(_KEY, prev)
        else:
            spark.conf.unset(_KEY)


@pytest.mark.skipif(not TWS_AVAILABLE, reason="protobuf bootstrap failed")
def test_tws_first_seen_runs(spark):
    prev = spark.conf.get(_KEY, None)
    spark.conf.set(_KEY, ROCKSDB_PROVIDER)
    try:
        q = (
            run_first_seen(_stream(spark).df)
            .writeStream.format("memory")
            .queryName("tws_first_seen")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.table("tws_first_seen").collect()
        assert len(rows) == 40
        # first value per key k is k itself (elements arrive in i order)
        assert {(r.k, r.first_v) for r in rows} == {(k, k) for k in range(4)}
    finally:
        if prev is not None:
            spark.conf.set(_KEY, prev)
        else:
            spark.conf.unset(_KEY)


def test_tws_runs_under_foreign_session(spark):
    """DRIVER-SIMULATION: an external harness builds its own bare
    SparkSession (JVM env captured WITHOUT the protoshim PYTHONPATH)
    and only then calls our registered tWS query. The runtime attach
    (protoshim.ensure_protobuf_on_session: sc.environment PYTHONPATH +
    addPyFile zip) must make the python workers resolve
    google.protobuf anyway. Run in a clean subprocess so the parent's
    env bootstrap can't leak through the JVM."""
    import os
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "4g")
            .getOrCreate()
        )
        import __spark_entry__ as e
        df = e.queries()["stream_first_seen_tws"](spark, "/root/testdata/sf0.001")
        print("TWS_ROWS:", df.count())
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # `python -c` puts its working directory first on sys.path, so the
    # subprocess imports this checkout's __spark_entry__ and package
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "TWS_ROWS:" in out.stdout, out.stderr[-2000:]
    n = int(out.stdout.split("TWS_ROWS:")[1].split()[0])
    assert n > 0
