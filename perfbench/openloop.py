"""The open-loop phase of the stream workload.

A generator loop in the benchmark process writes one seeded segment,
one parquet file every ``INTERVAL_S`` seconds, on a fixed schedule that
does not slow down when Spark does. Every event carries the wall-clock
time its file was due (``c``, microseconds). A keyed event-time
window aggregate reads the directory with a ``processingTime`` trigger
of the same interval, in update mode, and hands each batch to
``foreachBatch``, which notes when the batch ended. Batches are small
here, so the per-trigger fixed cost (offset log, commit log, planning,
state-store commit) dominates; the drains of ``stream.PIPELINES``
amortise it away.

- *Latency* of an emitted row: the end of its batch minus the time the
  newest event that contributed to it was due, so a generator that runs
  late adds to the latency of what it sends.
- *Generator lag*: how late each file landed against its schedule.
- *Backlog*: the files one batch had to take. The source takes every
  file that is waiting, so this is the backlog at the batch's start. At
  a rate the pipeline holds it stays at one or two files; a backlog that
  grows means the run measured an overloaded pipeline, not a slow one.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.datagen import T0_US, ZIPF_S

# A little under half of what the `windowed` drain sustains on a 4-core
# host (10 000-event batches in ~0.75 s). A batch of this pipeline costs
# ~0.5 s there whatever its size, so one file a second keeps the trigger
# about half busy.
RATE = 5_000
INTERVAL_S = 1.0
FILES = 5  # five seconds of load after the warm file
KEYS = 64
WINDOW_S = 2
LATENESS_S = 1  # file i holds times in [i, i + 1) intervals: none is ever late
PER_FILE = int(RATE * INTERVAL_S)
SCHEMA = "k long, ts timestamp, v long, c long"
_INTERVAL_US = int(INTERVAL_S * 1_000_000)
_WIN_US = WINDOW_S * 1_000_000


def segment(seed: int, i: int) -> pd.DataFrame:
    """File ``i`` of the seeded segment without its creation time:
    Zipf-skewed keys, event times inside the file's own interval."""
    rng = np.random.default_rng([seed, 1_000 + i])
    return pd.DataFrame(
        {
            "k": (rng.zipf(ZIPF_S, PER_FILE) - 1) % KEYS,
            "ts": T0_US + i * _INTERVAL_US + rng.integers(0, _INTERVAL_US, PER_FILE),
            "v": rng.integers(1, 100, PER_FILE),
        }
    )


def _write(src_dir: str, seed: int, i: int, due: float) -> None:
    """Write file ``i``, due at ``due`` (epoch seconds), under a hidden
    name, which the file source skips, and rename it into place once it
    is whole."""
    pdf = segment(seed, i)
    table = pa.table(
        {
            "k": pa.array(pdf["k"], pa.int64()),
            "ts": pa.array(pdf["ts"], pa.timestamp("us")),
            "v": pa.array(pdf["v"], pa.int64()),
            "c": pa.array(np.full(PER_FILE, int(due * 1_000_000)), pa.int64()),
        }
    )
    tmp = os.path.join(src_dir, f".part-{i:04d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src_dir, f"part-{i:04d}.parquet"))


def reference(seed: int) -> list[tuple]:
    """Final (k, window start, count, sum) of every window over the warm
    file and the scheduled ones."""
    ev = pd.concat([segment(seed, i) for i in range(FILES + 1)], ignore_index=True)
    g = ev.assign(w=(ev["ts"] // _WIN_US) * _WIN_US).groupby(["k", "w"]).agg(n=("v", "size"), s=("v", "sum"))
    return sorted(map(tuple, g.reset_index()[["k", "w", "n", "s"]].astype("int64").values.tolist()))


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def run(spark, seed: int, tmp: str) -> dict:
    """Drive the phase once. Returns the final window rows, per-row
    latencies, per-file generator lag, per-batch backlog and the
    query's progress after the warm batch."""
    from pyspark.sql import functions as F

    src_dir = os.path.join(tmp, "open_loop_src")
    os.makedirs(src_dir)
    batches: list[tuple[int, float, list]] = []

    def sink(df, batch_id):
        rows = df.collect()
        batches.append((batch_id, time.time(), rows))

    agg = (
        spark.readStream.schema(SCHEMA)
        .parquet(src_dir)
        .withWatermark("ts", f"{LATENESS_S} seconds")
        .groupBy("k", F.window("ts", f"{WINDOW_S} seconds"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("c").alias("c"))
        .select("k", F.unix_micros(F.col("window.start")).alias("w"), "n", "s", "c")
    )
    _write(src_dir, seed, 0, time.time())  # the warm file: plans the query before the clock starts
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(tmp, "open_loop_ckpt"))
        .trigger(processingTime=f"{int(INTERVAL_S * 1000)} milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        warm_batches = len(batches)
        # the generator: a fixed schedule that never waits for Spark
        # (foreachBatch runs on the py4j callback threads meanwhile). The
        # trigger fires on multiples of the interval since the epoch; the
        # files land half an interval after them, so that the wait for
        # the next trigger does not depend on when the phase began.
        lag_s: list[float] = []
        t0 = (time.time() // INTERVAL_S + 1.5) * INTERVAL_S
        for i in range(1, FILES + 1):
            due = t0 + (i - 1) * INTERVAL_S
            if due > time.time():
                time.sleep(due - time.time())
            _write(src_dir, seed, i, due)
            lag_s.append(time.time() - due)
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()

    final: dict[tuple[int, int], tuple[int, int]] = {}
    latency_ms = []
    for n_batch, (_, end, rows) in enumerate(batches):  # foreachBatch calls run one at a time
        for r in rows:
            final[(r["k"], r["w"])] = (r["n"], r["s"])
            if n_batch >= warm_batches:
                latency_ms.append(end * 1000.0 - r["c"] / 1000.0)
    t_warm = batches[warm_batches - 1][1]
    scheduled = [p for p in progress if _epoch_s(p.timestamp) > t_warm]
    return {
        "rows": sorted((k, w, n, s) for (k, w), (n, s) in final.items()),
        "latency_ms": latency_ms,
        "lag_ms": [x * 1000.0 for x in lag_s],
        "backlog_files": [p.numInputRows / PER_FILE for p in scheduled if p.numInputRows],
        "progress": scheduled,
        "events": (FILES + 1) * PER_FILE,
    }
