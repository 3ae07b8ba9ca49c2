"""Throughput measurement harness — the MeasureSink equivalent
(reference arcon/src/stream/operator/sink/measure.rs:9-96, logging
style credited there to the Yahoo streaming benchmark; pinned example
workload: examples/custom_operator.rs pushes (0..10_000_000) through a
map operator and a timer operator with .measure(1_000_000)).

Measures Structured Streaming micro-batch throughput with a
StreamingQueryListener over four pipelines at the reference's 10M
element scale:

1. stateless  — map (u64 → struct) + filter chain, the reference
   example's MyOperator shape, all JVM.
2. windowed   — keyed tumbling window aggregation (the Phase-0
   minimum slice shape), JVM stateful.
2b. stream_join — stream-stream interval join, watermarked both
   sides (the symmetric-hash-join state path).
3. python_op  — the custom Operator (per-key state + timers) path via
   applyInPandasWithState at N/10 (Python-state path; scaled count is
   reported and normalized to events/sec).

Usage: python tools/throughput.py [N]  (default 10_000_000)
Prints one JSON line per pipeline plus a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arcon_spark.session import get_spark
from arcon_spark.streaming.tape import drain, read_segments, write_segments


def _run(spark, df, name: str) -> dict:
    qname = f"tp_{name}"
    t0 = time.time()
    q = drain(df.writeStream.format("noop").queryName(qname).outputMode("append"))
    wall = time.time() - t0
    rows = sum(p.numInputRows for p in q.recentProgress)
    return {"pipeline": name, "rows": rows, "sec": round(wall, 2),
            "events_per_sec": int(rows / wall)}


def main() -> None:
    from pyspark.sql import functions as F

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark("throughput")
    results = []

    # -- 1. stateless map+filter (reference MyOperator shape: u64 -> struct)
    base = spark.range(n).selectExpr(
        "id", "timestamp_millis(id) as ts", "cast(id % 1024 as long) as k"
    )
    root = write_segments([base])
    src = spark.readStream.schema("id long, ts timestamp, k long").parquet(root)
    stateless = (
        src.withColumn("name", F.concat(F.lit("event_"), F.col("id")))
        .withColumn("price", (F.col("id") % 10_000).cast("long"))
        .filter(F.col("price") > 100)
        .select("id", "name", "price")
    )
    results.append(_run(spark, stateless, "stateless"))

    # -- 2. keyed tumbling window aggregation (Phase-0 slice shape)
    windowed = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "10 seconds"), "k")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("id").alias("s"))
    )
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    results.append(_run(spark, windowed, "windowed"))

    # -- 2b. stream-stream interval join (watermarked both sides):
    #        evens joined to odds on key within 10s after — measures the
    #        symmetric-hash-join state path at n
    sj_a = (
        src.withWatermark("ts", "0 seconds")
        .filter("id % 2 = 0")
        .selectExpr("id as id_a", "ts as ts_a", "k as k_a")
    )
    sj_b = (
        src.withWatermark("ts", "0 seconds")
        .filter("id % 2 = 1")
        .selectExpr("id as id_b", "ts as ts_b", "k as k_b")
    )
    sjoin = sj_a.join(
        sj_b,
        F.expr(
            "k_a = k_b AND ts_b > ts_a AND ts_b <= ts_a + INTERVAL 10 SECONDS"
        ),
    )
    results.append(_run(spark, sjoin, "stream_join"))

    # -- 3. python custom operator with timers, at n/10
    from arcon_spark.streaming.stateful import Operator, apply_operator

    class TimerOp(Operator):
        def handle_element(self, key, pdf, ctx):
            last = int(pdf["tms"].max())
            ctx.schedule_at(last + 1000, payload=int(pdf["id"].max()))
            out = pdf[["id"]].copy()
            out["fired"] = False
            return out

        def handle_timeout(self, key, time_ms, payload, ctx):
            return [{"id": payload, "fired": True}]

    n_py = n // 10
    pyb = spark.range(n_py).selectExpr(
        "id", "cast(id as long) as tms", "timestamp_millis(id) as ts",
        "cast(id % 64 as long) as k"
    )
    flush = spark.range(1).selectExpr(
        f"cast({n_py} + 1000000 as bigint) as id",
        f"cast({n_py} + 1000000 as bigint) as tms",
        f"timestamp_millis(cast({n_py} + 1000000 as bigint)) as ts",
        "cast(0 as long) as k",
    )
    py_root = write_segments([pyb, flush])
    py_src = read_segments(spark, py_root, "id long, tms long, ts timestamp, k long")
    py_out = apply_operator(
        py_src, ["k"], TimerOp(), "id long, fired boolean", ts_col="ts"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    results.append(_run(spark, py_out, "python_op"))
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    # -- 4. the SAME custom-operator workload on Spark 4's native
    #       transformWithStateInPandas (typed ValueState + native
    #       event-time timers over RocksDB, protobuf state protocol via
    #       the vendored runtime) — apples-to-apples against python_op.
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.streaming.tws import ROCKSDB_PROVIDER

    class TimerTws(StatefulProcessor):
        def init(self, handle) -> None:
            self.handle = handle
            self.mx = handle.getValueState("mx", "v long")

        def handleInputRows(self, key, rows, timerValues):
            last_t = -1
            last_id = -1
            for pdf in rows:
                if len(pdf):
                    last_t = max(last_t, int(pdf["tms"].max()))
                    last_id = max(last_id, int(pdf["id"].max()))
                    out = pdf[["id"]].copy()
                    out["fired"] = False
                    yield out
            if last_t >= 0:
                self.mx.update((last_id,))
                self.handle.registerTimer(last_t + 1000)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self.mx.exists():
                yield pd.DataFrame(
                    {"id": [int(self.mx.get()[0])], "fired": [True]}
                )

        def close(self) -> None:
            pass

    tws_src = read_segments(
        spark, py_root, "id long, tms long, ts timestamp, k long"
    ).withWatermark("ts", "0 seconds")
    tws_out = tws_src.groupBy("k").transformWithStateInPandas(
        TimerTws(), "id long, fired boolean", "Append", "EventTime"
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev_prov = spark.conf.get(prov_key, None)
    spark.conf.set(prov_key, ROCKSDB_PROVIDER)
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        results.append(_run(spark, tws_out, "tws_op"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        if prev_prov is not None:
            spark.conf.set(prov_key, prev_prov)
        else:
            spark.conf.unset(prov_key)

    for r in results:
        print(json.dumps(r))
    print(json.dumps({
        "metric": "streaming_throughput_events_per_sec",
        "n": n,
        "pipelines": {r["pipeline"]: r["events_per_sec"] for r in results},
    }))


if __name__ == "__main__":
    main()
