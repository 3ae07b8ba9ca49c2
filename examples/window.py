"""Port of the reference's examples/window.rs: an event-time sliding
window sum over an iterator source.

Reference shape (window.rs): (0..100000).to_stream(event time =
element value) → WindowAssigner(Sliding 1000s/500s/0 grace) with an
AppenderWindow materializing sum(buffer) → .print().

Here: Stream.from_collection → with_timestamp_extractor →
window(Sliding(...)).agg(sum) → debug sink (console print of the
collected windows).

Run: python examples/window.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arcon_spark import get_spark
from arcon_spark.streaming import Sliding, Stream

N = 100_000


def main() -> None:
    spark = get_spark("example_window")
    rows = [(i, i * 1000) for i in range(N)]  # value, event-time millis = value seconds
    out = (
        Stream.from_collection(spark, rows, "value long, t long")
        .with_timestamp_extractor("t")
        .window(Sliding("1000 seconds", "500 seconds", "0 seconds"))
        .agg(F.sum("value").alias("window_sum"))
    )
    result = out.to_debug_capture("window_example").run().data.orderBy("win_start")
    result.show(10, truncate=False)
    print(f"{result.count()} windows emitted")
    spark.stop()


if __name__ == "__main__":
    main()
