"""Segmented file-source writer: one parquet file per micro-batch.

The reference's tests drive operators with explicit ordered event /
watermark message sequences (SURVEY.md §5 item 6). Structured
Streaming's unit of progress is the micro-batch, and the file source +
``maxFilesPerTrigger=1`` replays a directory one file per batch in
modification-time order — so a "tape" is a list of DataFrames written
as sequentially-stamped files.

``read_segments`` and ``drain`` are the one bounded-run path: read the
tape one file per trigger, then run the writer to completion and stop.
"""

from __future__ import annotations

from arcon_spark.scratch import scratch_dir

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import StructType


def write_segments(dfs: list[DataFrame], root: str | None = None) -> str:
    """Write each DataFrame as one parquet file with strictly
    increasing mtime; returns the directory to readStream from."""
    root = root or scratch_dir("arcon_tape_")
    base = time.time()
    for i, df in enumerate(dfs):
        part = os.path.join(root, f"_seg_{i:03d}")
        df.coalesce(1).write.parquet(part)
        files = [
            os.path.join(dp, n)
            for dp, _, names in os.walk(part)
            for n in names
            if n.endswith(".parquet")
        ]
        (f,) = files
        final = os.path.join(root, f"{i:03d}.parquet")
        os.rename(f, final)
        os.utime(final, (base + i, base + i))
        shutil.rmtree(part)
    return root


def read_segments(spark: SparkSession, root: str, schema: StructType | str) -> DataFrame:
    """Stream the tape under `root` back one file per micro-batch."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(root)


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start `writer` as an availableNow run, process everything the
    sources hold, and stop it even if a batch fails. Returns the
    stopped query; its `recentProgress` stays readable."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q
