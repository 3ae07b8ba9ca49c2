"""Port of the reference's examples/stateful.rs: a keyed stateful map
whose state is exported as a queryable table.

Reference shape (stateful.rs): Event{id, data} stream → key_by(id) →
Map::stateful putting each event into an EagerValue tagged
`#[table = "events"]` → .ignore(). The `#[table]` tag is the hook the
reference's (never-built) TSS query language would read.

Here the #[table] export is DELIVERED: the stateful pipeline runs
through foreachBatch into a SnapshotCatalog, and the state is then
queried back as a DataFrame per epoch — the time-travel the reference
promised.

Run: python examples/stateful.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arcon_spark import get_spark
from arcon_spark.schema import ArconSchema, float32, record, uint64
from arcon_spark.streaming import SnapshotCatalog, Stream
from arcon_spark.streaming.tape import drain

Event: ArconSchema = record("Event", id=uint64(), data=float32())

N = 100_000


def main() -> None:
    spark = get_spark("example_stateful")
    events = spark.range(N).select(
        F.col("id"), F.lit(1.5).cast("float").alias("data")
    )
    Event.validate(events)

    catalog = SnapshotCatalog(spark, tempfile.mkdtemp(prefix="arcon_tss_"))

    # stream the events; each micro-batch commits the keyed state table
    # snapshot (the #[table = "events"] export)
    tmp = tempfile.mkdtemp(prefix="arcon_stateful_src_") + "/data"
    events.write.parquet(tmp)
    src = spark.readStream.schema(events.schema).parquet(tmp)
    stateful = src.groupBy("id").agg(F.last("data").alias("data"))  # EagerValue put

    drain(
        stateful.writeStream.outputMode("update")
        .foreachBatch(catalog.writer("events"))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="arcon_ckpt_"))
    )

    # TSS: query the committed state snapshot as a table
    epochs = catalog.epochs("events")
    snap = catalog.latest("events")
    print(f"epochs committed: {epochs}")
    print(f"state rows at latest epoch: {snap.count()}")
    snap.orderBy("id").show(5)
    spark.stop()


if __name__ == "__main__":
    main()
