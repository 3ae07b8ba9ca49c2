"""Incremental current-state maintenance from a stream — the upsert /
MERGE pattern via foreachBatch, no lakehouse format required.

A stream of balance-change events maintains a "current balance per
user" parquet table: each micro-batch aggregates its own deltas, joins
them against the current table (full outer), and atomically swaps in
the merged result. At 100 TB the swap becomes a lakehouse MERGE INTO
(Delta/Iceberg) or a partition-level overwrite keyed by the touched
partitions — the batch-level logic here is exactly the same.

Exactly-once: the checkpoint replays a failed batch; the merge is
idempotent per batch because the swap is keyed by batch_id (a retried
batch rewrites the same target from the same pre-state snapshot).

Run: python examples/incremental_upsert.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arcon_spark import get_spark
from arcon_spark.streaming.tape import drain, read_segments, write_segments


def main() -> None:
    spark = get_spark("example_upsert")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    root_state = tempfile.mkdtemp(prefix="arcon_upsert_")
    current = os.path.join(root_state, "current")

    batches = [
        spark.range(1000).selectExpr(
            f"cast(id % 50 as long) as user_id",
            f"cast(id % 7 - 3 as long) * {i + 1} as delta",
        )
        for i in range(3)
    ]
    tape = write_segments(batches)

    def merge(batch_df, batch_id: int) -> None:
        deltas = batch_df.groupBy("user_id").agg(F.sum("delta").alias("d"))
        if os.path.exists(current):
            cur = spark.read.parquet(current).alias("cur")
            merged = (
                cur.join(deltas.alias("d"), "user_id", "full_outer")
                .select(
                    "user_id",
                    (
                        F.coalesce(F.col("balance"), F.lit(0))
                        + F.coalesce(F.col("d"), F.lit(0))
                    ).alias("balance"),
                )
            )
        else:
            merged = deltas.select("user_id", F.col("d").alias("balance"))
        staged = os.path.join(root_state, f"stage_{batch_id}")
        merged.write.mode("overwrite").parquet(staged)
        old = os.path.join(root_state, f"old_{batch_id}")
        if os.path.exists(current):
            os.rename(current, old)
        os.rename(staged, current)  # atomic swap on one filesystem
        if os.path.exists(old):
            shutil.rmtree(old)

    src = read_segments(spark, tape, "user_id long, delta long")
    drain(
        src.writeStream.foreachBatch(merge)
        .option("checkpointLocation", os.path.join(root_state, "ckpt"))
    )

    final = spark.read.parquet(current)
    total = final.agg(F.sum("balance")).collect()[0][0]
    expect = sum(
        (i % 7 - 3) * (b + 1) for b in range(3) for i in range(1000)
    )
    print(f"users: {final.count()}, total balance: {total} (expected {expect})")
    assert total == expect, (total, expect)
    print("incremental upsert OK: 3 micro-batches merged into the current table")
    spark.stop()


if __name__ == "__main__":
    main()
