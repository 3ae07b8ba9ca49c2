"""The TSS promise, end-to-end: per-epoch state snapshots you can
query with full SQL — including time travel across epochs.

The reference's SnapshotManager commits a Snapshot{epoch, path} per
state on every epoch (arcon/src/manager/snapshot.rs:8-135) for an
announced-but-never-built "TSS query language" (arcon/src/lib.rs:20).
Here: a keyed running aggregate over a 3-batch event tape, each
micro-batch (≅ epoch) snapshotted by SnapshotCatalog; afterwards we
read the per-user counts AT each epoch and diff two epochs — the
snapshot-as-DataFrame query surface TSS only promised.

Run: python examples/snapshot_time_travel.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arcon_spark import get_spark
from arcon_spark.streaming.snapshot import SnapshotCatalog
from arcon_spark.streaming.tape import drain, read_segments, write_segments

N_PER_BATCH = 1000
N_USERS = 16


def main() -> None:
    spark = get_spark("example_snapshot_tt")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    # tape: 3 micro-batches of events
    batches = [
        spark.range(N_PER_BATCH).selectExpr(
            f"id + {i * N_PER_BATCH} as event_id",
            f"cast((id + {i * N_PER_BATCH}) % {N_USERS} as long) as user_id",
        )
        for i in range(3)
    ]
    root = write_segments(batches)
    src = read_segments(spark, root, "event_id long, user_id long")

    # keyed running count — ValueState-per-key in complete mode
    counts = src.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))

    catalog = SnapshotCatalog(spark, tempfile.mkdtemp(prefix="arcon_tss_"))
    drain(
        counts.writeStream.foreachBatch(catalog.writer("user_counts"))
        .outputMode("complete")
    )

    eps = catalog.epochs("user_counts")
    print(f"committed epochs: {eps}")
    for e in eps:
        total = catalog.read("user_counts", e).agg(F.sum("n_events")).collect()[0][0]
        print(f"  epoch {e}: total events counted = {total}")

    # time travel: what changed for each user between epoch 0 and the latest?
    first = catalog.read("user_counts", eps[0]).selectExpr(
        "user_id", "n_events as n_then"
    )
    last = catalog.latest("user_counts").selectExpr("user_id", "n_events as n_now")
    delta = (
        first.join(last, "user_id")
        .select("user_id", (F.col("n_now") - F.col("n_then")).alias("delta"))
        .orderBy("user_id")
    )
    delta.show(5)
    n_total = last.agg(F.sum("n_now")).collect()[0][0]
    assert n_total == 3 * N_PER_BATCH, n_total
    assert len(eps) == 3
    print("time travel OK: 3 epochs, monotone totals, per-user deltas queryable")
    spark.stop()


if __name__ == "__main__":
    main()
