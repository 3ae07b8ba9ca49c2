"""Late-data side-output: quarantine late rows instead of dropping.

The reference's WindowAssigner silently DROPS elements older than
`current_watermark - late_arrival`
(`/root/reference/arcon/src/stream/operator/window/assigner.rs:160-165`)
and its node ingress drops `ts <= sender watermark`
(`/root/reference/arcon/src/stream/node/mod.rs:294-305`); Spark's
stateful operators likewise drop and only count
(`numRowsDroppedByWatermark`). At 100 TB a silent drop is a data-loss
incident: production pipelines route late rows to a quarantine table
for audit/replay (Flink's OutputTag side-output). Spark has no native
side-output, so the idiomatic vehicle is `foreachBatch`:

- The driver tracks the watermark with the engine's own rule — the
  watermark in force for batch N is max(event time) over batches < N
  minus the delay, monotonically non-decreasing (Spark applies the
  watermark one batch late; see streaming_util.py).
- Each micro-batch splits into on-time rows (ts > watermark, handed to
  the caller's main-sink logic) and late rows (ts <= watermark,
  appended to the side table). The `<=` mirrors the reference's
  ingress rule exactly (node/mod.rs:294-305).

Driver-side watermark state and restarts: within one query run the
holder is authoritative; across restarts, production callers pass
`init_watermark_us` recovered from the last committed
`StreamingQueryProgress.eventTime.watermark` (or persist the holder in
the same transaction as the side write). Without it, a restarted query
starts permissive (no rows late until the first batch completes) —
rows are never *lost*, only re-classified as on-time, the safe
direction for a quarantine.

Scale notes: the split is two partition-local filters over the cached
micro-batch (no shuffle added); the watermark probe is a
partial-aggregated `max()` — one row per partition to the driver. The
side table is append-only parquet partitioned however the caller's
directory layout dictates.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arcon_spark.streaming.tape import drain

__all__ = ["run_with_late_side_output"]


def run_with_late_side_output(
    spark: SparkSession,
    src: DataFrame,
    ts_col: str,
    delay_sec: float,
    side_dir: str,
    main_writer: Callable[[DataFrame, int], None],
    init_watermark_us: int | None = None,
) -> int:
    """Run the streaming DataFrame `src` to completion (availableNow),
    splitting every micro-batch into on-time rows (passed to
    `main_writer(df, epoch_id)`) and late rows (appended as parquet
    under `side_dir`). Returns the final watermark in µs (or -1 if no
    rows were seen)."""
    holder = {"wm_us": init_watermark_us}
    delay_us = int(delay_sec * 1_000_000)

    def fb(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            ts_us = F.unix_micros(F.col(ts_col))
            wm = holder["wm_us"]
            if wm is None:
                late = batch_df.filter(F.lit(False))
                on_time = batch_df
            else:
                late = batch_df.filter(ts_us <= F.lit(wm))
                on_time = batch_df.filter(ts_us > F.lit(wm))
            late.write.mode("append").parquet(side_dir)
            main_writer(on_time, epoch_id)
            mx = batch_df.agg(F.max(ts_us).alias("m")).first().m
            if mx is not None:
                cand = mx - delay_us
                holder["wm_us"] = cand if wm is None else max(wm, cand)
        finally:
            batch_df.unpersist()

    drain(src.writeStream.foreachBatch(fb).outputMode("update"))
    return holder["wm_us"] if holder["wm_us"] is not None else -1
