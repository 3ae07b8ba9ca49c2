"""Tape driver for streaming-semantics tests.

Replicates the reference's DebugNode test idiom (SURVEY.md §5 item 6,
FIXTURES.md F6): inject an explicit sequence of (element, watermark)
actions, observe exactly which windows/records are emitted.

Spark mechanics: one parquet file per tape segment; readStream with
maxFilesPerTrigger=1 processes them as separate micro-batches in
mtime order. The watermark visible to batch N is max(event time) of
batches < N minus the delay — so "inject watermark at T" is encoded
as a segment whose max ts is T + delay (the reference's explicit
Watermark(T) message does the same to the assigner's view).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from arcon_spark.io import local_df
from arcon_spark.streaming import tape


def write_segments(spark: SparkSession, schema: str, segments: list[list[tuple]]) -> str:
    """Write each segment of rows as one tape file (one micro-batch)."""
    return tape.write_segments([local_df(spark, rows, schema) for rows in segments])


def run_tape(
    spark: SparkSession,
    schema: str,
    segments: list[list[tuple]],
    transform,
    name: str | None = None,
) -> DataFrame:
    """readStream over the tape (one batch per segment) → transform →
    memory sink; returns the accumulated output table."""
    root = write_segments(spark, schema, segments)
    out = transform(tape.read_segments(spark, root, schema))
    qname = name or f"tape_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(qname)
