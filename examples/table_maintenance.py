"""Storage-layout maintenance lifecycle, end-to-end: a streaming sink
produces many small files; compaction rewrites them to size-targeted
files; a Z-order rewrite clusters the data on two dimensions so scans
filtered on either one skip most files; snapshot retention vacuums old
epochs.

The reference has no storage-layout machinery at all (its state
backends are row stores, arcon/src/manager/snapshot.rs keeps every
epoch forever); these are the maintenance jobs that keep a 100 TB
lakehouse deployment scannable. Locally everything is directories of
parquet — on a cluster the same plans run per partition directory and
commit through the table format's metadata transaction.

Run: python examples/table_maintenance.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arcon_spark import get_spark
from arcon_spark.io import compact_files
from arcon_spark.operators.maintenance import zorder_key
from arcon_spark.streaming import Stream
from arcon_spark.streaming.snapshot import SnapshotCatalog
from arcon_spark.streaming.tape import drain, read_segments, write_segments


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(dp, n)
        for dp, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet")
    ]


def main() -> None:
    spark = get_spark("example_table_maintenance")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    work = tempfile.mkdtemp(prefix="arcon_maint_")

    # 1. a streaming job lands many small files (one+ per micro-batch)
    schema = "x bigint, y bigint, ts timestamp"
    batches = [
        spark.range(b * 500, b * 500 + 500).selectExpr(
            "id % 256 as x",
            "(id * 37) % 256 as y",
            "timestamp('1970-01-01') as ts",
        )
        for b in range(8)
    ]
    tape = write_segments(batches)
    src = read_segments(spark, tape, schema)
    table = os.path.join(work, "t")
    drain(
        src.repartition(4)
        .writeStream.format("parquet")
        .option("path", table)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
    )
    n_small = len(parquet_files(table))
    print(f"streaming sink produced {n_small} files for 4000 rows")
    assert n_small >= 8

    # 2. compaction: size-targeted rewrite, atomic swap
    n_out = compact_files(spark, table, target_file_bytes=64 * 1024 * 1024)
    print(f"compacted to {n_out} file(s); rows preserved:",
          spark.read.parquet(table).count())
    assert spark.read.parquet(table).count() == 4000

    # 3. Z-order rewrite: cluster on (x, y); per-file stats get tight
    #    on BOTH dimensions, which is what enables row-group skipping
    zdir = os.path.join(work, "t_zorder")
    df = spark.read.parquet(table)
    df.repartitionByRange(8, zorder_key(F.col("x"), F.col("y"))).write.parquet(zdir)
    stats = (
        spark.read.parquet(zdir)
        .groupBy(F.input_file_name())  # one box per written file
        .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"))
    )
    boxes = [tuple(r)[1:] for r in stats.collect()]
    span = sum((x1 - x0 + 1) * (y1 - y0 + 1) for x0, x1, y0, y1 in boxes)
    print(f"z-ordered files: {len(boxes)}; sum of bounding boxes {span} "
          f"vs naive {len(boxes) * 256 * 256}")
    assert span < len(boxes) * 256 * 256 / 2

    # 4. snapshot retention: keep the last 2 epochs only
    cat = SnapshotCatalog(spark, os.path.join(work, "snaps"))
    src2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", "2").parquet(tape)
    drain(
        src2.groupBy("x").count()
        .writeStream.outputMode("complete")
        .foreachBatch(cat.writer("counts"))
        .option("checkpointLocation", os.path.join(work, "ckpt2"))
    )
    eps = cat.epochs("counts")
    expired = cat.expire("counts", keep_last=2)
    print(f"epochs {eps} -> expired {expired}, kept {cat.epochs('counts')}")
    assert len(cat.epochs("counts")) == 2
    print("latest snapshot rows:", cat.latest("counts").count())
    print("OK")


if __name__ == "__main__":
    main()
