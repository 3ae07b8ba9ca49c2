"""Registry entries that run REAL streaming queries (not batch
re-expressions): the driver's oracle checks the streaming engine's
output against the same SQL it uses for the batch form — proving the
window semantics are identical across both execution modes.

Flush protocol: append-mode windowed aggregation only emits a window
once the watermark passes its end, and the watermark applied to batch
N is derived from batches < N. So the tape is:

    [events] [sentinel₁] [sentinel₂]

sentinel₁ (far-future event) advances the max event time; sentinel₂
forces one more batch so that watermark takes effect and every real
window flushes. Sentinel windows themselves never emit (watermark
never passes them) and are filtered from the result anyway.
"""

from __future__ import annotations

from arcon_spark.scratch import scratch_dir

import datetime as _dt
import os
import uuid
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from arcon_spark.io import load_table, table_schema
from arcon_spark.plans.compat import _INT_DOT, EVENTS_NORM, msum, sql_msum
from arcon_spark.plans.registry import register
from arcon_spark.streaming.tape import drain, read_segments, write_segments

_SENTINEL = "__sentinel__"


@lru_cache(maxsize=None)
def _tape_stats_us(sf_dir: str, types: tuple[str, ...] | None = None) -> tuple[int, int, int]:
    """(min, median, max) event-time in µs for the tape — the
    epoch-boundary split constants. Computed ONCE per sf_dir with a
    driver-side duckdb parquet scan and memoized, so registered
    streaming queries run ZERO Spark actions at construction time
    (previously each did its own `ev.agg(...).collect()` full scan).
    In production these are config inputs; this helper is the
    parameter seam — tests monkeypatch it to pin custom splits. Any
    mid-tape value is a valid split (it only forces state to cross an
    epoch boundary), so exact engine-interpolation parity with the
    old Spark percentile() is not required, only determinism."""
    import duckdb

    where = ""
    if types:
        inlist = ", ".join(f"'{t}'" for t in types)
        where = f"WHERE event_type IN ({inlist})"
    [(lo, med, hi)] = duckdb.sql(
        "SELECT CAST(min(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT),"
        " CAST(quantile_cont(epoch_us(CAST(ts AS TIMESTAMP)), 0.5) AS BIGINT),"
        " CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT)"
        f" FROM '{sf_dir}/events.parquet' {where}"
    ).fetchall()
    return int(lo), int(med), int(hi)


def _us_to_naive_utc(us: int) -> _dt.datetime:
    # naive datetime == session-tz (UTC) wall time for F.lit()
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)


def _tape_split_ts(sf_dir: str, types: tuple[str, ...] | None = None) -> _dt.datetime:
    """Median-of-tape split timestamp (µs precision, naive UTC)."""
    return _us_to_naive_utc(_tape_stats_us(sf_dir, types)[1])

# State-store partition count for the tape queries. Streaming state
# partitioning is fixed for a checkpoint's lifetime, so it must be
# sized to the workload: the tapes carry ~1e5 rows and a few thousand
# state groups, where 32 partitions just multiply per-batch state-store
# commit overhead (measured 4.9s → 2.6s at sf0.1 going 32 → 8). A
# production deployment sizes this to cluster cores / throughput at
# first start — the engine-level knob, not a per-query rewrite.
STREAM_STATE_PARTITIONS = 8


def _drain(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """`drain` the writer under STREAM_STATE_PARTITIONS, restoring the
    session's batch shuffle parallelism afterwards."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        return drain(writer)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _drain_latest(spark: SparkSession, agg: DataFrame, keys: list[str]) -> DataFrame:
    """Update-mode readout: drain `agg` with each batch's updated rows
    appended to a batch_id-tagged history, then keep the latest row
    per key — the current view, in `agg`'s columns."""
    out = scratch_dir("arcon_update_") + "/history"

    def fb(batch_df: DataFrame, eid: int) -> None:
        batch_df.withColumn("batch_id", F.lit(eid)).write.mode("append").parquet(out)

    _drain(spark, agg.writeStream.foreachBatch(fb).outputMode("update"))
    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
    return (
        spark.read.parquet(out)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*agg.columns)
    )


_TAPE_CACHE: dict[tuple[str, int], str] = {}


def _ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to TIMESTAMP regardless of how the
    generator wrote it: int64 TIMESTAMP(NANOS) (read as bigint under
    nanosAsLong) → floor to µs; timestamp[us] without tz → cast NTZ→LTZ
    (identical instant under the UTC session zone); already TIMESTAMP → no-op.
    Mirrors io.load_table on the batch path."""
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if t == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _streamed_events(spark: SparkSession, sf_dir: str, n_sentinels: int = 2) -> DataFrame:
    """events as a 2-batch stream: the ORIGINAL parquet file (hard-copied,
    never rewritten — at sf0.1 that saves rewriting 100k rows per query)
    followed by sentinel segments. The raw file stores ts as
    TIMESTAMP(NANOS) → read as int64 nanos and floor to µs in-stream,
    the same conversion io.load_table applies on the batch path.

    maxFilesPerTrigger=2 pairs the base file with sentinel₁ in the
    first micro-batch: all real data was always in batch 1, so this
    only advances the watermark one batch earlier, and every real
    window/timer flushes in batch 2 instead of 3 — one fewer
    state-store commit + shuffle round per query (measured 5.4 s →
    3.6 s per streaming query at sf0.1).

    The sentinel files are written directly with pyarrow (single-row
    parquet, schema-compatible with the nanosAsLong read schema) and
    the max event time comes from the parquet footer statistics — the
    whole tape build runs zero Spark jobs.

    The tape directory is immutable once written, so it is memoized per
    (sf_dir, n_sentinels) for the life of the process — the parity gate
    runs a dozen streaming queries over the same events tape, and
    rebuilding it per query is pure setup overhead. Each query still
    gets its own readStream/checkpoint over the shared directory."""
    ev_schema = table_schema(spark, sf_dir, "events")
    root = _TAPE_CACHE.get((sf_dir, n_sentinels))
    if root is None:
        root = _TAPE_CACHE[(sf_dir, n_sentinels)] = _sentinel_tape(sf_dir, n_sentinels)
    src = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(root)
    )
    return _ts_to_timestamp(src)


def _sentinel_tape(sf_dir: str, n_sentinels: int) -> str:
    """Hard-copy events.parquet and write the sentinel files after it."""
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_file = f"{sf_dir}/events.parquet"
    pf = pq.ParquetFile(src_file)
    ts_idx = pf.schema_arrow.get_field_index("ts")
    ts_type = pf.schema_arrow.field(ts_idx).type
    # The generator has shipped events.ts as int64 TIMESTAMP(NANOS) and as
    # plain timestamp[us]; sentinels must match the base file's physical type
    # so one read schema covers the whole directory.
    unit = "ns" if ts_type == pa.int64() else ts_type.unit
    max_ts = max(
        pf.metadata.row_group(g).column(ts_idx).statistics.max
        for g in range(pf.metadata.num_row_groups)
    )
    if not isinstance(max_ts, int):  # timestamp stats decode as datetime
        max_ts = int(pa.scalar(max_ts, pa.timestamp(unit)).value)
    day = {"s": 86_400, "ms": 86_400_000, "us": 86_400_000_000,
           "ns": 86_400_000_000_000}[unit]
    root = scratch_dir("arcon_stream_ev_")
    dst = os.path.join(root, "base.parquet")  # ordered first via older mtime
    shutil.copyfile(src_file, dst)
    past = time.time() - 3600
    os.utime(dst, (past, past))
    base_t = time.time()
    for k in range(n_sentinels):
        t = max_ts + (30 + k) * day
        ts_arr = (
            pa.array([t], pa.int64())
            if ts_type == pa.int64()
            else pa.array([t], pa.int64()).cast(ts_type)
        )
        tbl = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array([_SENTINEL], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        f = os.path.join(root, f"{k:03d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (base_t + k, base_t + k))
    return root


@register(
    "stream_tumbling_window_agg",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value', 2)} AS sum_value
    FROM {EVENTS_NORM} GROUP BY 1, 2
    """,
    tags=("streaming", "window", "survey2.4"),
)
def stream_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling_window_agg query executed by the STREAMING engine:
    file-source tape → withWatermark → windowed agg → memory sink; the
    flushed append-mode output must hash-match the batch oracle exactly
    (reference WindowAssigner semantics, assigner.rs:61-229)."""
    src = _streamed_events(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), msum(F.col("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "sum_value"
        )
    )
    return _run_to_memory(spark, agg, "stream_tumble").filter(
        F.col("event_type") != _SENTINEL
    )


def _run_to_memory(spark: SparkSession, df: DataFrame, prefix: str) -> DataFrame:
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    _drain(spark, df.writeStream.format("memory").queryName(name).outputMode("append"))
    return spark.table(name)


_SPLIT_TAPE_CACHE: dict[tuple[str, object], tuple[str, object]] = {}


def _split_flush_tape(spark: SparkSession, sf_dir: str):
    """Three-segment events tape for the first-seen stateful twins:
    even event_ids, odd event_ids, then one flush marker per user
    (event_id = -1, far-future ts). Memoized per sf_dir for the life
    of the process — the tape is immutable fixture data, and building
    it costs three Spark write jobs (~3 s at sf0.1) that would
    otherwise dominate the stateful operator being measured. Returns
    (root, schema); ts stays µs-long so both the apipws and tWS twins
    share one tape."""
    cached = _SPLIT_TAPE_CACHE.get((sf_dir, True))
    if cached is not None and os.path.isdir(cached[0]):
        return cached
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    flush = (
        ev.groupBy("user_id")
        .agg((F.max("ts_us") + F.lit(3_456_000_000_000)).alias("ts_us"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            "ts_us",
            F.lit(0.0).alias("value"),
        )
    )
    root = write_segments(
        [
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
            flush,
        ]
    )
    out = (root, ev.schema)
    _SPLIT_TAPE_CACHE[(sf_dir, True)] = out
    return out


@register(
    "stream_stateful_first_value",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, min_by(value, printf('%030d', epoch_us(ts)) || printf('%020d', event_id)) AS first_val
      FROM {EVENTS_NORM} GROUP BY user_id
    )
    SELECT user_id, first_val FROM firsts
    """,
    tags=("streaming", "stateful", "survey2.2"),
)
def stream_stateful_first_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyby_integration stateful enrichment run by the STREAMING
    engine via applyInPandasWithState (reference keyby_integration.rs:
    68-91): per-key ValueState survives across micro-batches; the
    first-seen value per key (in event-time order) must match the batch
    oracle. The tape splits events into two batches to force state
    persistence across an epoch boundary."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    class FirstValEmitting(Operator):
        """ValueState keeping the (ts_us, event_id)-min value per key;
        a flush-marker element (event_id < 0, final segment) emits it —
        the reference's drain-on-final-watermark protocol without
        needing event-time timers."""

        def handle_element(self, key, pdf, ctx):
            st = ctx.value("first")
            marker = pdf["event_id"] < 0
            data = pdf[~marker].sort_values(["ts_us", "event_id"], kind="mergesort")
            if len(data):
                row = data.iloc[0]
                cand = (
                    float(row["value"]),
                    (int(row["ts_us"]), int(row["event_id"])),
                )
                cur = st.get()
                if cur is None or cand[1] < tuple(cur[1]):
                    st.put(cand)
            if marker.any():
                cur = st.get()
                if cur is not None and not ctx.value("emitted").get(False):
                    ctx.value("emitted").put(True)
                    return [{"user_id": int(key[0]), "first_val": cur[0]}]
            return None

    root, schema = _split_flush_tape(spark, sf_dir)
    src = read_segments(spark, root, schema)
    out = apply_operator(
        src,
        ["user_id"],
        FirstValEmitting(),
        "user_id long, first_val double",
        ts_col=None,  # no timers needed; flush marker drives emission
    )
    return _run_to_memory(spark, out, "stream_first")


# Bucket count for the first-seen MapState layout: enough buckets to
# spread work across STREAM_STATE_PARTITIONS state tasks with several
# buckets each, few enough that per-bucket maps stay iterator-friendly.
_TWS_FIRST_SEEN_BUCKETS = 64


@register(
    "stream_first_seen_tws",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, min_by(value, printf('%030d', epoch_us(ts)) || printf('%020d', event_id)) AS first_val
      FROM {EVENTS_NORM} GROUP BY user_id
    )
    SELECT user_id, first_val FROM firsts
    """,
    tags=("streaming", "stateful", "tws", "survey2.6"),
)
def stream_first_seen_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same keyby_integration stateful enrichment as
    stream_stateful_first_value, but on Spark 4's NATIVE
    transformWithStateInPandas (typed ValueState in the RocksDB state
    store — the direct analogue of the reference's state backend
    handles, arcon/arcon_state/src/backend/mod.rs:144-242) instead of
    the applyInPandasWithState fallback. The Python worker speaks the
    protobuf state protocol via the vendored runtime
    (arcon_spark/protoshim). Two data segments force the state to
    survive a micro-batch boundary; a flush-marker third segment
    triggers emission, and the result must hash-match the same batch
    oracle as the apipws twin.

    r11 layout (VERDICT #7 settled by measurement): the stream groups
    by a BUCKET key (pmod(user_id, _TWS_FIRST_SEEN_BUCKETS)) and holds
    one MapState keyed by user per bucket, instead of per-user keys
    over a ValueState. Why: handleInputRows fires once per grouping
    key per batch, so per-user keys paid one python call + 1-2 state
    round-trips per user per batch (1500 users at sf0.1), and the
    flush batch paid another per-user get(); the bucketed form does
    ONE vectorized lexsort per bucket, reads current entries through
    the PAGED map iterator, pays updateValue round-trips only for
    winning candidates, and emits via the iterator — same-process
    probe 3.78 -> 3.43 s min. The iterate-all-entries read is right
    for this tape because every batch touches most users; a
    sparse-batch workload would flip to getValue-per-candidate. The
    per-key ValueState surface this query used to certify stays
    certified by stream_absence_emit_tws (two ValueStates + timers)
    and the tws.py fluent API."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.protoshim import ensure_protobuf_on_session
    from arcon_spark.streaming.tws import ROCKSDB_PROVIDER, TWS_AVAILABLE

    if not TWS_AVAILABLE:  # pragma: no cover - shim makes this unreachable here
        raise RuntimeError("transformWithState requires protobuf (vendored shim failed)")
    # the caller's session may have launched its JVM without the
    # PYTHONPATH bootstrap (external harness): attach at runtime
    ensure_protobuf_on_session(spark)

    class FirstSeenTws(StatefulProcessor):
        """One MapState (user -> (v, ts_us, eid)) per bucket. The
        (ts_us, event_id)-argmin per user is one np.lexsort over the
        whole bucket with a first-occurrence mask; current entries are
        read via the paged map iterator; updateValue fires only when
        the candidate actually wins; the flush marker (event_id < 0)
        emits every held entry exactly once via the iterator."""

        def init(self, handle) -> None:
            self.m = handle.getMapState(
                "first", "user_id long", "v double, ts_us long, eid long"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            frames = list(rows)
            pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
            eid = pdf["event_id"].to_numpy()
            marker = eid < 0
            saw_marker = bool(marker.any())
            keep = ~marker
            if keep.any():
                u = pdf["user_id"].to_numpy()[keep]
                ts = pdf["ts_us"].to_numpy()[keep]
                ke = eid[keep]
                v = pdf["value"].to_numpy()[keep]
                order = np.lexsort((ke, ts, u))
                us = u[order]
                firsts = order[np.concatenate(([True], us[1:] != us[:-1]))]
                cur = {k[0]: val for k, val in self.m.iterator()}
                for i in firsts:
                    uid = int(u[i])
                    cand = (int(ts[i]), int(ke[i]))
                    old = cur.get(uid)
                    if old is None or cand < (int(old[1]), int(old[2])):
                        self.m.updateValue((uid,), (float(v[i]), cand[0], cand[1]))
            if saw_marker:
                uids, vals = [], []
                for k, val in self.m.iterator():
                    uids.append(int(k[0]))
                    vals.append(float(val[0]))
                if uids:
                    yield pd.DataFrame({"user_id": uids, "first_val": vals})

        def close(self) -> None:
            pass

    root, schema = _split_flush_tape(spark, sf_dir)
    # maxFilesPerTrigger=2 pairs the two data segments into one
    # micro-batch, flush marker in the second: halves the per-batch
    # tWS fixed cost (python worker + state-server channel + RocksDB
    # open/commit per partition per batch) while the ValueState still
    # MUST survive the data→flush boundary or the output is empty —
    # measured 4.4 s → 3.2 s at sf0.1 (MEASURE.md); the apipws twin
    # keeps maxFilesPerTrigger=1 as the 3-batch cross-batch-merge
    # proof on the default engine lane
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(root)
    )
    out = (
        src.withColumn(
            "bucket", F.pmod(F.col("user_id"), F.lit(_TWS_FIRST_SEEN_BUCKETS))
        )
        .groupBy("bucket")
        .transformWithStateInPandas(
            FirstSeenTws(),
            "user_id long, first_val double",
            "Append",
            "None",
        )
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        return _run_to_memory(spark, out, "tws_first_seen")
    finally:
        if prev is not None:
            spark.conf.set(provider_key, prev)
        else:
            spark.conf.unset(provider_key)


@register(
    "stream_type_counts_tws",
    oracle=f"""
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM {EVENTS_NORM} GROUP BY user_id, event_type
    """,
    tags=("streaming", "stateful", "tws", "map_state", "survey2.6"),
)
def stream_type_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user per-event-type counts held in NATIVE MapState
    (transformWithStateInPandas) across micro-batches — the
    HashTable-index parity (reference arcon/src/index/hash_table/
    mod.rs:59-120) on the typed-state API, exercising the MapState
    protocol (GetValue/UpdateValue/Iterator round-trips through the
    vendored protobuf runtime) under the DuckDB oracle. Two data
    segments split by event_id parity force every map entry to
    survive a batch boundary; the flush-marker segment triggers one
    emission per (user, type) by iterating the map."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.protoshim import ensure_protobuf_on_session
    from arcon_spark.streaming.tws import ROCKSDB_PROVIDER, TWS_AVAILABLE

    if not TWS_AVAILABLE:  # pragma: no cover
        raise RuntimeError("transformWithState requires protobuf (vendored shim failed)")
    ensure_protobuf_on_session(spark)

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    first_half = ev.filter(F.col("event_id") % 2 == 0)
    second_half = ev.filter(F.col("event_id") % 2 == 1)
    flush = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            F.lit("flush").alias("event_type"),
        )
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle) -> None:
            self.counts = handle.getMapState("counts", "t string", "n long")

        def handleInputRows(self, key, rows, timerValues):
            saw_marker = False
            for pdf in rows:
                marker = pdf["event_id"] < 0
                saw_marker = saw_marker or bool(marker.any())
                data = pdf[~marker]
                if len(data):
                    for t, n in data.groupby("event_type").size().items():
                        prev = (
                            self.counts.getValue((t,))
                            if self.counts.containsKey((t,))
                            else None
                        )
                        self.counts.updateValue(
                            (t,), (int(prev[0] if prev else 0) + int(n),)
                        )
            if saw_marker:
                items = [
                    (str(k[0]), int(v[0])) for k, v in self.counts.iterator()
                ]
                if items:
                    yield pd.DataFrame(
                        {
                            "user_id": [int(key[0])] * len(items),
                            "event_type": [t for t, _ in items],
                            "n": [n for _, n in items],
                        }
                    )

        def close(self) -> None:
            pass

    root = write_segments([first_half, second_half, flush])
    src = read_segments(spark, root, ev.schema)
    out = src.groupBy("user_id").transformWithStateInPandas(
        TypeCounts(),
        "user_id long, event_type string, n long",
        "Append",
        "None",
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        return _run_to_memory(spark, out, "tws_type_counts")
    finally:
        if prev is not None:
            spark.conf.set(provider_key, prev)
        else:
            spark.conf.unset(provider_key)


@register(
    "stream_last5_sum_tws",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rn
      FROM {EVENTS_NORM}
    )
    SELECT user_id,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS last5_cents
    FROM ranked WHERE rn <= 5 GROUP BY user_id
    """,
    tags=("streaming", "stateful", "tws", "vec_state", "bounded_state", "survey2.6"),
)
def stream_last5_sum_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded per-key buffer in NATIVE ListState — the reference's
    VecState window buffer (arcon_state backend/mod.rs:194-202) on
    transformWithState: each key keeps only its 5 most recent
    (event-time, event_id)-ordered elements, re-trimmed with
    ListStatePut after every batch (exercising AppendList + Get + Put
    on the list protocol), and emits the exact integer-cents sum of
    that buffer at flush. Trim-then-merge is correct across batch
    boundaries because top-5-by-(ts,eid) is a mergeable selection.
    Oracle: window row_number over the batch table."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.protoshim import ensure_protobuf_on_session
    from arcon_spark.streaming.tws import ROCKSDB_PROVIDER, TWS_AVAILABLE

    if not TWS_AVAILABLE:  # pragma: no cover
        raise RuntimeError("transformWithState requires protobuf (vendored shim failed)")
    ensure_protobuf_on_session(spark)

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    )
    first_half = ev.filter(F.col("event_id") % 2 == 0)
    second_half = ev.filter(F.col("event_id") % 2 == 1)
    flush = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(0).cast("long").alias("ts_us"),
            F.lit(0).cast("long").alias("cents"),
        )
    )

    class Last5(StatefulProcessor):
        def init(self, handle) -> None:
            self.buf = handle.getListState("buf", "ts_us long, eid long, cents long")

        def handleInputRows(self, key, rows, timerValues):
            saw_marker = False
            fresh: list[tuple[int, int, int]] = []
            for pdf in rows:
                marker = pdf["event_id"] < 0
                saw_marker = saw_marker or bool(marker.any())
                data = pdf[~marker]
                fresh.extend(
                    (int(t), int(e), int(c))
                    for t, e, c in zip(data["ts_us"], data["event_id"], data["cents"])
                )
            if fresh:
                cur = [
                    (int(r[0]), int(r[1]), int(r[2])) for r in self.buf.get()
                ] if self.buf.exists() else []
                merged = sorted(cur + fresh, key=lambda r: (r[0], r[1]), reverse=True)[:5]
                self.buf.put([tuple(r) for r in merged])
            if saw_marker and self.buf.exists():
                total = sum(int(r[2]) for r in self.buf.get())
                yield pd.DataFrame(
                    {"user_id": [int(key[0])], "last5_cents": [total]}
                )

        def close(self) -> None:
            pass

    root = write_segments([first_half, second_half, flush])
    src = read_segments(spark, root, ev.schema)
    out = src.groupBy("user_id").transformWithStateInPandas(
        Last5(), "user_id long, last5_cents long", "Append", "None"
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        return _run_to_memory(spark, out, "tws_last5")
    finally:
        if prev is not None:
            spark.conf.set(provider_key, prev)
        else:
            spark.conf.unset(provider_key)


@register(
    "stream_absence_emit_tws",
    oracle=f"""
    SELECT user_id, CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_seen_us
    FROM {EVENTS_NORM} GROUP BY user_id
    """,
    tags=("streaming", "stateful", "tws", "timers", "survey2.4"),
)
def stream_absence_emit_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timer-driven absence emission on NATIVE event-time timers (the
    quad-wheel parity, arcon/src/stream/node/timer.rs:61-274, on the
    tWS timer protocol): every event re-arms its user's timer at
    last_ts + 40 days (DeleteTimer + RegisterTimer per batch); when a
    synthetic watermark pusher finally advances event time past the
    gap, handleExpiredTimer fires once per real user and emits the
    last-seen timestamp from ValueState — emission driven purely by
    the timer wheel, no flush-marker rows in the data. Hash-matches
    the per-user max-timestamp oracle, so the timer path itself is
    under the correctness gate (previously pytest-only)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    from arcon_spark.protoshim import ensure_protobuf_on_session
    from arcon_spark.streaming.tws import ROCKSDB_PROVIDER, TWS_AVAILABLE

    if not TWS_AVAILABLE:  # pragma: no cover
        raise RuntimeError("transformWithState requires protobuf (vendored shim failed)")
    ensure_protobuf_on_session(spark)

    _GAP_MS = 40 * 24 * 3600 * 1000  # 40 days, past the dataset span
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    first_half = ev.filter(F.col("event_id") % 2 == 0)
    second_half = ev.filter(F.col("event_id") % 2 == 1)
    # watermark pusher: one far-future synthetic row for a SENTINEL user
    # (excluded from the oracle); its own timer never fires
    pusher = ev.agg(F.max("ts").alias("mts")).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("mts") + F.expr("INTERVAL 100 DAYS")).alias("ts"),
        F.lit(0).cast("long").alias("ts_us"),
    )

    class AbsenceEmit(StatefulProcessor):
        def init(self, handle) -> None:
            self.handle = handle
            self.last = handle.getValueState("last", "ts_us long")
            self.armed = handle.getValueState("armed", "t long")

        def handleInputRows(self, key, rows, timerValues):
            mx = None
            for pdf in rows:
                data = pdf[pdf["event_id"] >= 0]
                if len(data):
                    m = int(data["ts_us"].max())
                    mx = m if mx is None else max(mx, m)
            if mx is not None:
                prev = self.last.get()[0] if self.last.exists() else -1
                if mx > prev:
                    self.last.update((mx,))
                    if self.armed.exists():  # re-arm: drop the stale timer
                        self.handle.deleteTimer(self.armed.get()[0])
                    new_t = mx // 1000 + _GAP_MS
                    self.handle.registerTimer(new_t)
                    self.armed.update((new_t,))
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self.last.exists():
                yield pd.DataFrame(
                    {
                        "user_id": [int(key[0])],
                        "last_seen_us": [int(self.last.get()[0])],
                    }
                )

        def close(self) -> None:
            pass

    root = write_segments([first_half, second_half, pusher])
    src = read_segments(spark, root, ev.schema).withWatermark("ts", "0 seconds")
    out = src.groupBy("user_id").transformWithStateInPandas(
        AbsenceEmit(), "user_id long, last_seen_us long", "Append", "EventTime"
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    try:
        res = _run_to_memory(spark, out, "tws_absence")
        return res.filter(F.col("user_id") >= 0)
    finally:
        if prev is not None:
            spark.conf.set(provider_key, prev)
        else:
            spark.conf.unset(provider_key)


def _incremental_dedup_oracle() -> str:
    from arcon_spark.functions.dedup import (
        _SQL_HASH_PAIR_CTE,
        _SQL_SHINGLE_CTE,
        _sql_mh_list,
        NUM_BANDS,
        ROWS_PER_BAND,
    )

    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws('_', "
        + ", ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + ")) AS band_hash FROM mh"
        for b in range(NUM_BANDS)
    )
    return f"""
    WITH {_SQL_SHINGLE_CTE},
    {_SQL_HASH_PAIR_CTE},
    mh AS (
      SELECT doc_id, {_sql_mh_list()}
      FROM hp GROUP BY doc_id
    ),
    bands AS ({bands_union})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND (a.doc_id % 3) < (b.doc_id % 3)
    GROUP BY 1, 2
    """


# Band-index file sizing for the incremental-dedup ingest index: a
# band row is ~30 B on disk, so ~4M rows lands in the guide §6
# 128 MB-1 GB window; the compact tier cap bounds per-probe file opens
# for long-running ingests (tests override both to force the paths).
_INC_INDEX_ROWS_PER_FILE = 4_000_000
_INC_INDEX_COMPACT_FILES = 64


@register(
    "stream_incremental_dedup",
    oracle=_incremental_dedup_oracle(),
    tags=("streaming", "dedup", "lsh", "pipeline", "incremental"),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup detection: documents arrive in waves
    (three micro-batches here, split by doc_id % 3) and every new
    batch is LSH-matched against the ACCUMULATED corpus index before
    being appended to it — the streaming form of the MinHash+LSH
    pipeline, i.e. "is this incoming document a near-dup of anything
    we already ingested?". Emitted pairs are (doc_a = already-indexed,
    doc_b = newly arrived); within-batch pairs are deliberately not
    emitted (the batch indexes atomically after the probe), which the
    oracle mirrors with the segment-order predicate
    (doc_a % 3) < (doc_b % 3).

    Scale shape: per batch, ONE band-key equi join of the batch's band
    rows (docs × NUM_BANDS rows) against the parquet band index, plus
    one append — the index grows as O(corpus × NUM_BANDS) small rows
    and is the same partitioned table a 100 TB ingest would bucket by
    band_hash; signature computation is the batch-parameterized twin
    of the batch pipeline (shingles_of → signatures_of_shingles →
    lsh_bands_of), so both paths share one implementation."""
    from arcon_spark.functions.dedup import (
        lsh_bands_of,
        shingles_of,
        signatures_of_shingles,
    )

    # the 3-wave docs tape is immutable fixture data — memoize per
    # sf_dir like the events tapes, so repeat runs measure the
    # streaming pipeline, not three tape-write jobs
    cached = _SPLIT_TAPE_CACHE.get((sf_dir, "docs3"))
    if cached is not None and os.path.isdir(cached[0]):
        root = cached[0]
    else:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        root = write_segments(
            [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
        )
        _SPLIT_TAPE_CACHE[(sf_dir, "docs3")] = (root, None)
    work = scratch_dir("arcon_incdedup_")
    index_dir = os.path.join(work, "band_index")
    results_dir = os.path.join(work, "pairs")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        import math

        from arcon_spark.io import spread

        # spread: each wave arrives as ONE tape file → one input split,
        # so the signature build (shingle explode → md5 minhash — the
        # only data-scaled component, exp 0.55 in the r9 decomposition)
        # ran entirely on one core before its first exchange. At real
        # ingest scale a batch spans many files and this is a no-op.
        bands = lsh_bands_of(
            signatures_of_shingles(shingles_of(spread(batch_df)))
        ).persist()
        n_bands = bands.count()  # materializes the cache the join reuses
        if os.path.isdir(index_dir):
            idx = spark.read.parquet(index_dir)
            (
                idx.alias("a")
                .join(bands.alias("b"), ["band_id", "band_hash"])
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
                .distinct()
                .write.mode("append")
                .parquet(results_dir)
            )
        # Index append is sized by ROWS, not by the batch's partition
        # count: un-coalesced, every wave appended one near-empty file
        # per shuffle partition (32 x ~4 KB at sf0.1), so the probe at
        # wave w scheduled 32*w file opens while the whole index held
        # under 1 MB — the guide §6 small-files trap measured in the
        # r11 nine-wave decomposition. At ingest scale the same
        # formula yields many ~128 MB files; locally it yields one.
        bands.coalesce(
            max(1, math.ceil(n_bands / _INC_INDEX_ROWS_PER_FILE))
        ).write.mode("append").parquet(index_dir)
        bands.unpersist()
        # Size-tiered compaction: a long-running ingest still
        # accumulates one file per wave, so when the segment count
        # passes the tier cap, fold the whole index into row-sized
        # files. O(index) rewrite every ~_INC_INDEX_COMPACT_FILES
        # waves keeps per-probe file opens bounded without touching
        # what any probe reads logically. The dir swap is safe: a
        # foreachBatch runs waves strictly one at a time.
        seg_files = [
            f for f in os.listdir(index_dir) if f.endswith(".parquet")
        ]
        if len(seg_files) > _INC_INDEX_COMPACT_FILES:
            full = spark.read.parquet(index_dir).persist()
            n_idx = full.count()
            tmp_dir = index_dir + ".compact"
            full.coalesce(
                max(1, math.ceil(n_idx / _INC_INDEX_ROWS_PER_FILE))
            ).write.mode("overwrite").parquet(tmp_dir)
            full.unpersist()
            old_dir = index_dir + ".old"
            os.rename(index_dir, old_dir)
            os.rename(tmp_dir, index_dir)
            import shutil

            shutil.rmtree(old_dir, ignore_errors=True)

    src = read_segments(spark, root, "doc_id long, text string")
    ckpt = os.path.join(work, "ckpt")
    _drain(spark, src.writeStream.foreachBatch(handle).option("checkpointLocation", ckpt))
    if not os.path.isdir(results_dir):  # pragma: no cover - corpus has dups
        return spark.createDataFrame([], "doc_a long, doc_b long")
    return spark.read.parquet(results_dir).distinct()


def _dsir_scores_oracle() -> str:
    from arcon_spark.functions.text import _SQL_DSIR_SCORES

    return _SQL_DSIR_SCORES


@register(
    "stream_dsir_scores",
    oracle=_dsir_scores_oracle(),
    tags=("streaming", "curation", "dsir", "incremental", "pipeline"),
)
def stream_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based filtering at INGEST: the DSIR bucket model is
    trained once on the reference corpus (a fixed 1024-row micronat
    log-ratio artifact), then documents arrive in waves (three
    micro-batches, split by doc_id % 3) and every wave is scored
    against the broadcast model as it lands — the streaming form of
    dsir_importance_weights, sharing its feature/model/scoring
    implementation verbatim, so the union of the per-batch outputs
    must equal the batch query row-for-row (one oracle serves both).

    Scale shape: per micro-batch, one in-row feature expansion + one
    broadcast join against the fixed-size model + one per-doc hash
    aggregate — no state store, no shuffle wider than the batch; the
    trained artifact is what a 100 TB ingest pipeline would pin in
    executor memory for the lifetime of the stream."""
    from arcon_spark.functions.text import _dsir_features, _dsir_lr, _dsir_score

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # train once, batch-side; materialize the tiny model so each
    # micro-batch joins a literal 1024-row table, not a replayed plan
    # (the feature stream is persisted across the two training jobs —
    # the totals action inside _dsir_lr and the model collect)
    feat_static = _dsir_features(docs).persist()
    lr = spark.createDataFrame(
        _dsir_lr(feat_static).collect(), "bucket bigint, lr_micro bigint"
    )
    feat_static.unpersist()
    cached = _SPLIT_TAPE_CACHE.get((sf_dir, "docs3lang"))
    if cached is not None and os.path.isdir(cached[0]):
        root = cached[0]
    else:
        root = write_segments(
            [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
        )
        _SPLIT_TAPE_CACHE[(sf_dir, "docs3lang")] = (root, None)
    work = scratch_dir("arcon_dsirstream_")
    results_dir = os.path.join(work, "scores")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _dsir_score(_dsir_features(batch_df), lr).write.mode("append").parquet(
            results_dir
        )

    src = read_segments(spark, root, "doc_id long, lang string, text string")
    ckpt = os.path.join(work, "ckpt")
    _drain(spark, src.writeStream.foreachBatch(handle).option("checkpointLocation", ckpt))
    # per-doc scores are deterministic, so distinct() also absorbs the
    # duplicate append a retried foreachBatch would leave behind (same
    # exactly-once insurance as stream_incremental_dedup)
    return spark.read.parquet(results_dir).distinct()


def _ivf_probe_oracle() -> str:
    from arcon_spark.functions.similarity import _IVF_ORACLE

    return _IVF_ORACLE


@register(
    "stream_ann_ivf_probe",
    oracle=_ivf_probe_oracle(),
    tags=("streaming", "similarity", "ann", "ivf", "incremental", "pipeline"),
)
def stream_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector search at INGEST: the IVF index (deterministic coarse
    quantizer + cell-labeled corpus) is built ONCE batch-side and
    materialized as a parquet table; query embeddings then arrive in
    waves (three micro-batches, split by query_id % 3) and each wave
    probes its nprobe nearest cells and re-ranks exactly within them
    as it lands — the online serving lane of ann_ivf_topk, sharing its
    quantizer, probe table, and scoring expressions, so the union of
    per-batch outputs must equal the batch query row-for-row (one
    oracle serves both; per-query top-k is batch-local because each
    query arrives exactly once).

    Scale shape: per micro-batch, one broadcast of the batch's probe
    rows against the cell-partitioned index (candidate space bounded
    by cell occupancy, never O(n·q)), one exact integer re-rank, one
    per-query WindowGroupLimit — no state store; the index is the same
    bucketed table a 100 TB vector platform pins behind its query
    tier."""
    from arcon_spark.functions.similarity import TOP_K, _ivf_assignment, _query_ids_df

    assigned, probes = _ivf_assignment(spark, sf_dir)
    work = scratch_dir("arcon_annstream_")
    index_dir = os.path.join(work, "ivf_index")
    results_dir = os.path.join(work, "topk")
    assigned.write.parquet(index_dir)  # one-time index build

    qemb = (
        load_table(spark, sf_dir, "embeddings")
        .join(F.broadcast(_query_ids_df(spark, sf_dir)), "vec_id")
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    )
    cached = _SPLIT_TAPE_CACHE.get((sf_dir, "annq3"))
    if cached is not None and os.path.isdir(cached[0]):
        root = cached[0]
    else:
        root = write_segments(
            [qemb.filter(F.col("query_id") % 3 == k) for k in range(3)]
        )
        _SPLIT_TAPE_CACHE[(sf_dir, "annq3")] = (root, None)

    dot = F.expr(_INT_DOT.format(a="embedding", b="qe"))
    n2a = F.expr(_INT_DOT.format(a="embedding", b="embedding"))
    n2q = F.expr(_INT_DOT.format(a="qe", b="qe"))

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        idx = spark.read.parquet(index_dir)
        cand = (
            batch_df.join(F.broadcast(probes), "query_id")
            .join(idx, "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
        )
        scored = cand.select(
            "query_id",
            F.col("vec_id").alias("candidate_id"),
            (
                dot.cast("double")
                / (F.sqrt(n2a.cast("double")) * F.sqrt(n2q.cast("double")))
            ).alias("cosine"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("candidate_id")
        )
        (
            scored.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= TOP_K)
            .write.mode("append")
            .parquet(results_dir)
        )

    src = read_segments(spark, root, "query_id long, qe array<float>")
    ckpt = os.path.join(work, "ckpt")
    _drain(spark, src.writeStream.foreachBatch(handle).option("checkpointLocation", ckpt))
    # rows are deterministic per query, so distinct() also absorbs the
    # duplicate append a retried foreachBatch would leave behind (same
    # exactly-once insurance as stream_incremental_dedup)
    return spark.read.parquet(results_dir).distinct()


@register(
    "stream_sliding_window_agg",
    oracle=f"""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - (o.j * INTERVAL '15 minutes') AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value', 2)} AS sum_value
    FROM {EVENTS_NORM}, UNNEST([0, 1]) AS o(j)
    GROUP BY 1
    """,
    tags=("streaming", "window", "sliding", "survey2.4"),
)
def stream_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 30min/15min window by the STREAMING engine — same oracle
    as the batch sliding_window_agg (reference Assigner::Sliding)."""
    src = _streamed_events(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), msum(F.col("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    out = _run_to_memory(spark, agg, "stream_slide").filter(
        F.col("event_type") != _SENTINEL
    )
    # oracle aggregates across event types → roll the per-type partials up
    from arcon_spark.plans.compat import msum as _msum  # noqa: F401

    return (
        out.groupBy("win_start")
        .agg(
            F.sum("n").alias("n"),
            (F.sum(F.round(F.col("sum_value") * 100).cast("decimal(38,0)")).cast("double") / 100.0).alias("sum_value"),
        )
    )


@register(
    "stream_session_window_agg",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       < INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_session
      FROM {EVENTS_NORM}
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value', 2)} AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
    tags=("streaming", "window", "session", "survey2.4"),
)
def stream_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) merged BY THE STREAMING ENGINE —
    the state store merges overlapping sessions across micro-batches;
    output must match the batch lag/cumsum oracle. (Sessions are absent
    from the reference entirely — SURVEY §2.4.)"""
    src = _streamed_events(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), msum(F.col("value"), 2).alias("sum_value"))
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(spark, agg, "stream_session").filter(F.col("user_id") >= 0)


@register(
    "stream_stream_range_join",
    oracle=f"""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM (SELECT * FROM {EVENTS_NORM} WHERE event_id % 2 = 0) a
    JOIN (SELECT event_id, ts, user_id FROM {EVENTS_NORM.replace(') events', ') e2')} WHERE event_id % 2 = 1) b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
    tags=("streaming", "join", "range", "survey2.4"),
)
def stream_stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join with an event-time range condition —
    the even-id event stream joined to the odd-id stream (same user,
    odd within 30 min after even). Both sides are live streams; the
    engine buffers join state and emits matches as both sides arrive.
    Structurally impossible in the reference (operators have exactly
    one upstream, dfg.rs:61-114); the result must equal the batch
    theta-join oracle exactly.

    Scale note: in production both sides carry watermarks and the time
    bound lets the engine evict join state; with bounded tapes the
    inner join is complete without eviction."""
    ev_schema = table_schema(spark, sf_dir, "events")

    def side(pred: str) -> DataFrame:
        import shutil

        root = scratch_dir("arcon_ssj_")
        shutil.copyfile(f"{sf_dir}/events.parquet", os.path.join(root, "b.parquet"))
        src = spark.readStream.schema(ev_schema).parquet(root)
        return (
            _ts_to_timestamp(src)
            .filter(F.expr(pred))
            .select("event_id", "ts", "user_id")
        )

    a = side("event_id % 2 = 0").alias("a")
    b = side("event_id % 2 = 1").alias("b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("gap_us"),
    )
    return _run_to_memory(spark, joined, "stream_ssj")


@register(
    "stream_static_enrich",
    oracle=f"""
    SELECT event_id, user_id, value, c_mktsegment
    FROM {EVENTS_NORM} JOIN customer ON c_custkey = user_id
    """,
    tags=("streaming", "join", "enrichment", "survey2.9"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the live event stream joined to the
    static customer dimension. The dim side is broadcast — each
    micro-batch probes an executor-local hash table, zero shuffle of
    the stream; at 100 TB/day this is THE pattern for attaching
    slowly-changing dimensions to a firehose (re-broadcast per batch
    keeps the dim fresh). Impossible in the reference (single-upstream
    operators, dfg.rs:61-114); output equals the batch join oracle."""
    import shutil

    ev_schema = table_schema(spark, sf_dir, "events")
    root = scratch_dir("arcon_sse_")
    shutil.copyfile(f"{sf_dir}/events.parquet", os.path.join(root, "b.parquet"))
    src = _ts_to_timestamp(
        spark.readStream.schema(ev_schema).parquet(root)
    ).select("event_id", "user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = src.join(F.broadcast(dim), src.user_id == dim.c_custkey).select(
        "event_id", "user_id", "value", "c_mktsegment"
    )
    return _run_to_memory(spark, joined, "stream_enrich")


@register(
    "stream_distinct_pairs",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "distinct", "survey2.9"),
)
def stream_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates over the live event
    stream — the engine keeps a state-store set of seen keys across
    micro-batches and emits each (user_id, event_type) exactly once;
    output equals the batch DISTINCT oracle. (In production add
    withWatermark + the event-time column to bound the state.)"""
    import shutil

    ev_schema = table_schema(spark, sf_dir, "events")
    root = scratch_dir("arcon_sdd_")
    shutil.copyfile(f"{sf_dir}/events.parquet", os.path.join(root, "b.parquet"))
    src = (
        read_segments(spark, root, ev_schema)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _run_to_memory(spark, src, "stream_distinct")


@register(
    "stream_stream_left_outer_join",
    oracle=f"""
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM (SELECT * FROM {EVENTS_NORM} WHERE event_id % 2 = 0) a
    LEFT JOIN (SELECT event_id, ts, user_id
               FROM {EVENTS_NORM.replace(') events', ') e2')}
               WHERE event_id % 2 = 1) b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
    tags=("streaming", "join", "outer", "survey2.4"),
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join: every even-id event, matched to
    odd-id events of the same user within the following 30 minutes, or
    emitted with nulls once the watermark proves no match can arrive.
    This exercises the semantics an inner join doesn't: the engine may
    only emit the null row after BOTH watermarks pass the end of the
    event's match window — the join-state eviction contract. The tape's
    sentinel batches advance the watermark far past every real event, so
    the streamed result must equal the batch LEFT JOIN oracle exactly.

    Scale: both sides carry watermarks and the time bound, so join
    state is O(events inside the 30-minute horizon), not O(stream);
    the equality key (user_id) hash-partitions both sides — one
    co-partitioned shuffle each."""
    # 3 sentinels: outer-join null rows for state evicted by the final
    # watermark are emitted in the NEXT micro-batch, so one extra
    # spacer batch must run after the watermark has fully advanced.
    src = _streamed_events(spark, sf_dir, n_sentinels=3)

    def side(pred: str, alias: str) -> DataFrame:
        # watermark BEFORE the filter: the sentinel rows must advance
        # this branch's event-time stats, then drop out of the data path
        return (
            src.withWatermark("ts", "0 seconds")
            .filter(F.expr(pred))
            .select("event_id", "ts", "user_id")
            .alias(alias)
        )

    # Sentinels must pass BOTH watermark nodes: Catalyst pushes the
    # event-id filters below EventTimeWatermark, so a side that filters
    # sentinels out would never advance its watermark and the global
    # (min-policy) watermark would stall at that side's last real event,
    # leaving tail unmatched-lefts unemitted forever. Sentinel rows
    # (user_id -1, 1 day apart) can never satisfy the join condition and
    # are filtered from the output.
    a = side("event_id % 2 = 0 OR event_id = -1", "a")
    b = side("event_id % 2 = 1 OR event_id = -1", "b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.user_id").alias("user_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("gap_us"),
    )
    return _run_to_memory(spark, joined, "stream_ssloj").filter(F.col("id_a") >= 0)


@register(
    "stream_stream_left_semi_join",
    oracle=f"""
    SELECT a.event_id, a.user_id
    FROM (SELECT * FROM {EVENTS_NORM} WHERE event_id % 2 = 0) a
    WHERE EXISTS (
      SELECT 1 FROM (SELECT event_id, ts, user_id
                     FROM {EVENTS_NORM.replace(') events', ') e2')}
                     WHERE event_id % 2 = 1) b
      WHERE b.user_id = a.user_id
        AND b.ts > a.ts
        AND b.ts <= a.ts + INTERVAL '30 minutes')
    """,
    tags=("streaming", "join", "semi", "survey2.4"),
)
def stream_stream_left_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT SEMI join — completes the streaming join
    matrix (inner/left/right/full outer elsewhere in this module):
    each even-id event is emitted ONCE iff some odd-id event of the
    same user follows within 30 minutes. The engine emits the left row
    on its first match and must then suppress every later match — the
    dedup-on-match contract that distinguishes semi from inner — and
    drops unmatched state only once both watermarks pass the bound.
    Output equals the batch EXISTS oracle exactly.

    Scale: same state bound as the inner join (both sides watermarked,
    time-bounded → state is O(30-minute horizon per side)); the output
    never duplicates a left row regardless of match fan-out, so the
    sink write is bounded by the left stream, not the pair count."""
    src = _streamed_events(spark, sf_dir, n_sentinels=3)

    def side(pred: str, alias: str) -> DataFrame:
        return (
            src.withWatermark("ts", "0 seconds")
            .filter(F.expr(pred))
            .select("event_id", "ts", "user_id")
            .alias(alias)
        )

    a = side("event_id % 2 = 0 OR event_id = -1", "a")
    b = side("event_id % 2 = 1 OR event_id = -1", "b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_semi",
    ).select("event_id", "user_id")
    return _run_to_memory(spark, joined, "stream_sslsj").filter(F.col("event_id") >= 0)


@register(
    "stream_count_window",
    oracle=f"""
    WITH numbered AS (
      SELECT user_id, event_id, ts, value,
             (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 5
               AS win_idx
      FROM {EVENTS_NORM}
    )
    SELECT user_id, CAST(win_idx AS BIGINT) AS win_idx,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value', 2)} AS sum_value
    FROM numbered GROUP BY user_id, win_idx
    """,
    tags=("streaming", "stateful", "count_window", "survey2.4"),
)
def stream_count_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT windows (every 5 events per key) as a custom streaming
    Operator — the window type the reference lists as unimplemented and
    Spark has no built-in for either: VecState buffers the key's
    pending events; every 5th emits a window; the flush marker drains
    the final partial window. Events are split into two time-ordered
    segments (state and window numbering must survive the epoch
    boundary) + a marker segment. Output must equal the batch
    count-window oracle exactly.

    Value sums run in integer cents inside the operator (same rounding
    as the oracle's round(value*100)), so Python, JVM and DuckDB agree
    bit-for-bit."""
    import numpy as np

    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    lo_us, _, hi_us = _tape_stats_us(sf_dir)
    mid = _us_to_naive_utc((lo_us + hi_us) // 2)

    class CountWindowOp(Operator):
        def handle_element(self, key, pdf, ctx):
            buf = ctx.vec("buf")
            nwin = ctx.value("nwin")
            marker = pdf["event_id"] < 0
            data = pdf[~marker].sort_values(["ts", "event_id"], kind="mergesort")
            out = []
            for v in data["value"]:
                x = float(v) * 100.0
                buf.append(int(np.trunc(x + np.copysign(0.5, x))))
                if len(buf) == 5:
                    cents = buf.consume()
                    w = nwin.rmw(lambda c: (c or 0) + 1) - 1
                    out.append(
                        {
                            "user_id": int(key[0]),
                            "win_idx": w,
                            "n": 5,
                            "sum_value": float(sum(cents)) / 100.0,
                        }
                    )
            if marker.any() and len(buf):
                cents = buf.consume()
                w = nwin.get(0)
                out.append(
                    {
                        "user_id": int(key[0]),
                        "win_idx": w,
                        "n": len(cents),
                        "sum_value": float(sum(cents)) / 100.0,
                    }
                )
            return out or None

    first_half = ev.filter(F.col("ts") < F.lit(mid))
    second_half = ev.filter(F.col("ts") >= F.lit(mid))
    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("ts"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    root = write_segments([first_half, second_half, flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        CountWindowOp(),
        "user_id long, win_idx long, n long, sum_value double",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_cw")


@register(
    "stream_session_window_dynamic_gap",
    oracle=f"""
    WITH gapped AS (
      SELECT user_id, ts, event_id, value,
             ts + CASE WHEN event_type = 'click' THEN INTERVAL '10 minutes'
                       ELSE INTERVAL '30 minutes' END AS ival_end
      FROM {EVENTS_NORM}
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts < MAX(ival_end) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id
                                                ROWS BETWEEN UNBOUNDED PRECEDING
                                                         AND 1 PRECEDING)
                  THEN 0 ELSE 1 END AS new_session
      FROM gapped
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value', 2)} AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
    tags=("streaming", "window", "session", "dynamic_gap", "survey2.4"),
)
def stream_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic per-event-gap session windows merged BY THE STREAMING
    ENGINE (clicks 10 min, everything else 30) — the state store merges
    variable-width intervals across micro-batches; output must match
    the batch running-max-merge oracle (see session_window_dynamic_gap
    for the merge-rule derivation). Sentinel rows carry a gap too but
    their sessions never flush inside the tape horizon and are filtered
    on user_id."""
    src = _streamed_events(spark, sf_dir)
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), msum(F.col("value"), 2).alias("sum_value"))
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(spark, agg, "stream_dyn_session").filter(
        F.col("user_id") >= 0
    )


@register(
    "stream_late_data_side_output",
    oracle=f"""
    WITH cutoff AS (
      SELECT max(ts) AS mx FROM {EVENTS_NORM} WHERE event_id % 2 = 0
    )
    SELECT event_id, user_id, ts, event_type,
           CASE WHEN event_id % 2 = 1 AND ts <= (SELECT mx FROM cutoff)
                THEN 'late' ELSE 'main' END AS side
    FROM {EVENTS_NORM}
    """,
    tags=("streaming", "late_data", "side_output", "survey2.4"),
)
def stream_late_data_side_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data side-output (quarantine) run by the streaming engine:
    the events table replays as two micro-batches (even event_ids, then
    odd), and run_with_late_side_output routes each batch-2 row whose
    ts <= watermark (= max event time of batch 1, delay 0) to the side
    table instead of silently dropping it — the repair for the
    reference's drop-on-ingress rule (node/mod.rs:294-305).

    The result is the FULL partition of the input into side='main' /
    side='late', so the oracle proves no row is lost or duplicated by
    the split — a stronger contract than checking the quarantine alone.
    """
    from arcon_spark.streaming.side_output import run_with_late_side_output

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    root = write_segments(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)]
    )
    out = scratch_dir("arcon_side_out_")
    side_dir = os.path.join(out, "late")
    main_dir = os.path.join(out, "main")

    src = read_segments(spark, root, ev.schema)
    run_with_late_side_output(
        spark,
        src,
        ts_col="ts",
        delay_sec=0.0,
        side_dir=side_dir,
        main_writer=lambda df, eid: df.write.mode("append").parquet(main_dir),
    )
    late = spark.read.parquet(side_dir).withColumn("side", F.lit("late"))
    main = spark.read.parquet(main_dir).withColumn("side", F.lit("main"))
    return main.unionByName(late)


@register(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "distinct", "bounded_state", "survey2.9"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps a seen-key only until the watermark passes its event time +
    delay, then evicts — at 100 TB the state is O(keys within the
    lateness horizon), not O(every key ever) like plain dropDuplicates
    (stream_distinct_pairs). The delay (35 days) exceeds the tape's
    30-day span so no key evicts before its duplicates arrive and the
    output still equals the batch DISTINCT oracle; in production the
    delay is the real dedup horizon and eviction is the point.
    Representative-row choice within a batch is engine-order-dependent,
    so only the key columns are emitted."""
    src = _streamed_events(spark, sf_dir)
    deduped = (
        src.select("user_id", "event_type", "ts")
        .withWatermark("ts", "35 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(spark, deduped, "stream_dedup_wm").filter(
        F.col("user_id") >= 0
    )


@register(
    "stream_running_counts_update_mode",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value', 2)} AS sum_value
    FROM {EVENTS_NORM} GROUP BY user_id
    """,
    tags=("streaming", "update_mode", "ivm", "survey2.6"),
)
def stream_running_counts_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode incremental view maintenance by the streaming
    engine: per-user running count/sum maintained in the state store
    across two micro-batches (events split by event_id parity); each
    batch's updated rows land in a history table tagged with batch_id
    via foreachBatch, and the current view = latest batch_id per key —
    the engine-side form of the examples/incremental_upsert.py merge
    (a lakehouse MERGE INTO at 100 TB). The final state must equal the
    batch aggregate oracle, which proves the update stream really
    carried state across batches (batch-2 rows supersede, not append).
    Reference parity: this is the ReducerState/AggregatorState running
    fold (arcon_state backend/mod.rs:204-242) surfaced as a stream."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    root = write_segments(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)]
    )

    src = read_segments(spark, root, ev.schema)
    agg = src.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"), msum(F.col("value"), 2).alias("sum_value")
    )

    return _drain_latest(spark, agg, ["user_id"])


@register(
    "stream_cumulate_window_agg",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           time_bucket(INTERVAL '1 hour', ts) + o.j * INTERVAL '15 minutes' AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_msum('value', 2)} AS sum_value
    FROM {EVENTS_NORM}, UNNEST([1, 2, 3, 4]) AS o(j)
    WHERE ts < time_bucket(INTERVAL '1 hour', ts) + o.j * INTERVAL '15 minutes'
    GROUP BY 1, 2
    """,
    tags=("streaming", "window", "cumulate", "update_mode", "survey2.4"),
)
def stream_cumulate_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATE windows maintained by the STREAMING engine in update
    mode: the growing [H, H+15m·j) partials (batch twin
    cumulate_window_agg — Flink's third windowing TVF) emitted per
    micro-batch as events arrive, each window's row superseding its
    previous value; final state must equal the batch oracle. This is
    exactly the "dashboard fills in over the hour" production shape:
    early partials are REAL emitted rows, not recomputations. Same
    exact fan-out projection as the batch twin (map-side, ≤4 rows per
    event), one keyed state aggregate."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    root = write_segments(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)]
    )

    src = read_segments(spark, root, ev.schema)
    fanned = (
        src.select("ts", "value", F.date_trunc("hour", F.col("ts")).alias("win_start"))
        .withColumn(
            "j",
            F.explode(
                F.expr(
                    "sequence(cast((unix_micros(ts) - unix_micros(win_start)) div 900000000 + 1 as int), 4)"
                )
            ),
        )
        .withColumn(
            "win_end", F.expr("win_start + make_interval(0, 0, 0, 0, 0, 15 * j, 0)")
        )
    )
    agg = fanned.groupBy("win_start", "win_end").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        msum(F.col("value"), 2).alias("sum_value"),
    )

    return _drain_latest(spark, agg, ["win_start", "win_end"])


@register(
    "stream_ohlc_hourly",
    oracle=f"""
    WITH t AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, value,
             CAST(lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0')
                  || lpad(CAST(event_id AS VARCHAR), 12, '0')
                  || lpad(CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR), 10, '0')
                  AS HUGEINT) AS packed
      FROM {EVENTS_NORM}
    )
    SELECT hour, event_type,
           CAST(MIN(packed) % 10000000000 AS DOUBLE) / 100.0 AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           CAST(MAX(packed) % 10000000000 AS DOUBLE) / 100.0 AS close,
           CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM t GROUP BY 1, 2
    """,
    tags=("streaming", "window", "ohlc", "survey2.4"),
)
def stream_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars computed by the STREAMING engine: tumbling 1-hour
    windows per event_type, open/close decoded from MIN/MAX of the
    38-digit decimal micros‖event_id‖cents packing (deterministic
    first/last within the window — the batch ohlc_hourly_value
    contract, emitted append-mode on watermark; see that docstring for
    why packing beats min_by). MIN/MAX of a decimal keep the streaming
    state per (window, type) at one fixed-width partial row — the same
    O(groups) bound as sum/count."""
    src = _streamed_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    # sentinel rows (negative value/event_id) can't digit-pack; they
    # only exist to advance the watermark and their groups are filtered
    # below, so pack NULL for them
    packed = F.when(
        (F.col("event_type") != _SENTINEL) & (cents >= 0) & (F.col("event_id") >= 0),
        F.concat(
            F.lpad(F.unix_micros(F.col("ts")).cast("string"), 16, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
            F.lpad(cents.cast("string"), 10, "0"),
        ).cast("decimal(38,0)"),
    )
    ten10 = F.lit(10_000_000_000).cast("decimal(38,0)")
    agg = (
        src.withColumn("packed", packed)
        .withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.min("packed").alias("_minp"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("packed").alias("_maxp"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            ((F.col("_minp") % ten10).cast("double") / F.lit(100.0)).alias("open"),
            "high",
            "low",
            ((F.col("_maxp") % ten10).cast("double") / F.lit(100.0)).alias("close"),
            "n_trades",
        )
    )
    return _run_to_memory(spark, agg, "stream_ohlc").filter(
        F.col("event_type") != _SENTINEL
    )


def _ewma_oracle() -> str:
    """Same contract as the batch form — reuse its registered oracle
    (operators.maintenance is imported before this module in
    registry._load_all, so the entry exists)."""
    import arcon_spark.operators.maintenance  # noqa: F401
    from arcon_spark.plans.registry import REGISTRY

    return REGISTRY["ewma_user_value"].oracle


@register(
    "stream_ewma_user_value",
    oracle=_ewma_oracle(),
    tags=("streaming", "stateful", "ewma", "timeseries"),
)
def stream_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-frame EWMA run by the STREAMING engine with a custom
    Operator: per key, state is a deque of the last depth-1
    (micros, event_id, cents) observations — the O(depth) state bound
    the batch ewma_user_value docstring claims, made real. The tape
    splits events at the midpoint TIMESTAMP (not by id) so per-key
    sequences stay time-ordered across the epoch boundary and the
    deque carried over from batch 1 is exactly the lag window batch 2
    needs. Arithmetic mirrors the batch form: integer cents × 2^k
    weights, one float division chain at the end — hash-identical to
    the same DuckDB oracle."""
    from arcon_spark.operators.maintenance import _EWMA_DEPTH
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    lo_us, _, hi_us = _tape_stats_us(sf_dir)
    mid = _us_to_naive_utc((lo_us + hi_us) // 2)

    class EwmaOperator(Operator):
        """Vectorized: the weighted lag sum is an integer convolution
        over the (carried lags ‖ batch) cents array — one numpy pass
        per Arrow batch, no per-row Python. Exactness is preserved:
        int64 convolution, then the same float64 division chain as the
        batch form (IEEE correctly-rounded, hash-identical)."""

        def handle_element(self, key, pdf, ctx):
            import numpy as np
            import pandas as pd

            st = ctx.value("lags")
            carried = [int(c) for c in (st.get() or [])]  # oldest → newest cents
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            cents = np.round(pdf["value"].to_numpy(dtype=np.float64) * 100).astype(
                np.int64
            )
            arr = np.concatenate([np.asarray(carried, dtype=np.int64), cents])
            kernel = np.array(
                [2 ** (_EWMA_DEPTH - 1 - i) for i in range(_EWMA_DEPTH)],
                dtype=np.int64,
            )  # kernel[i] = weight of lag i (newest first)
            num = np.convolve(arr, kernel)[: len(arr)]
            idx = np.arange(len(arr))
            den = np.where(
                idx >= _EWMA_DEPTH - 1,
                int(kernel.sum()),
                np.cumsum(kernel)[np.minimum(idx, _EWMA_DEPTH - 1)],
            )
            m = len(carried)
            ewma = num[m:].astype(np.float64) / den[m:].astype(np.float64) / 100.0
            st.put([int(c) for c in arr[-(_EWMA_DEPTH - 1):]])
            return pd.DataFrame(
                {
                    "user_id": int(key[0]),
                    "event_id": pdf["event_id"].to_numpy(dtype=np.int64),
                    "ewma": ewma,
                }
            )

    first_half = ev.filter(F.col("ts") <= F.lit(mid))
    second_half = ev.filter(F.col("ts") > F.lit(mid))
    root = write_segments([first_half, second_half])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src, ["user_id"], EwmaOperator(), "user_id long, event_id long, ewma double"
    )
    return _run_to_memory(spark, out, "stream_ewma")


@register(
    "stream_mad_anomaly",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, MAX(m.med) AS med, median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value, d.med, d.mad,
           (abs(e.value - d.med) > 3.0 * d.mad) AS is_outlier
    FROM events e JOIN mad d ON e.event_type = d.event_type
    """,
    tags=("streaming", "anomaly", "enrichment", "pipeline"),
)
def stream_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly flagging against batch-fitted robust stats:
    the per-event_type median/MAD profile (see mad_outlier_events) is
    computed on the static history table, broadcast, and every live
    event is flagged in-flight when it sits beyond 3 MADs — the
    fit-offline / score-online deployment shape of a production
    anomaly detector. The stream side is a stateless projection + an
    executor-local hash probe: no state store, no shuffle, unbounded
    throughput; refreshing the profile is a re-broadcast, not a
    restart."""
    import shutil

    from arcon_spark.functions.curation import mad_outlier_events

    stats = mad_outlier_events(spark, sf_dir).select("event_type", "med", "mad")
    ev_schema = table_schema(spark, sf_dir, "events")
    root = scratch_dir("arcon_smad_")
    shutil.copyfile(f"{sf_dir}/events.parquet", os.path.join(root, "b.parquet"))
    src = _ts_to_timestamp(
        spark.readStream.schema(ev_schema).parquet(root)
    ).select("event_id", "event_type", "value")
    flagged = src.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        "mad",
        (F.abs(F.col("value") - F.col("med")) > 3.0 * F.col("mad")).alias("is_outlier"),
    )
    return _run_to_memory(spark, flagged, "stream_mad")


_STREAM_TOPK = 3


@register(
    "stream_appender_topk_window",
    oracle=f"""
    WITH ranked AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_id, value,
             row_number() OVER (
               PARTITION BY time_bucket(INTERVAL '1 hour', ts)
               ORDER BY value DESC, event_id) AS rk
      FROM {EVENTS_NORM}
    )
    SELECT win_start, CAST(rk AS BIGINT) AS rk, event_id, value
    FROM ranked WHERE rk <= {_STREAM_TOPK}
    """,
    tags=("streaming", "window", "appender", "topk", "survey2.4"),
)
def stream_appender_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING AppenderWindow (reference: appender buffers raw
    elements per window, materializer runs on fire —
    index/window/appender.rs:10-91): per hourly window, buffer
    (value, event_id) pairs in the windowed aggregation state and on
    watermark-flush materialize the top-3 by (value desc, event_id).
    Spark form: windowed collect_list + in-row comparator sort + slice
    — the append-mode flush IS the window-fire timing, and the
    materializer is a codegen array expression, not a UDF. State is
    O(rows in open windows), exactly the appender contract; for a
    bounded-state variant at higher k see the note on sketch-based
    top-k in COVERAGE.md."""
    src = _streamed_events(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.collect_list(F.struct("value", "event_id")).alias("buf"))
        .select(
            F.col("win.start").alias("win_start"),
            F.expr(
                f"""slice(array_sort(buf, (l, r) -> CASE
                       WHEN l.value > r.value THEN -1
                       WHEN l.value < r.value THEN 1
                       WHEN l.event_id < r.event_id THEN -1
                       WHEN l.event_id > r.event_id THEN 1
                       ELSE 0 END), 1, {_STREAM_TOPK})"""
            ).alias("top"),
        )
        .select(
            "win_start",
            F.posexplode("top").alias("i", "e"),
        )
        .select(
            "win_start",
            (F.col("i") + 1).cast("long").alias("rk"),
            F.col("e.event_id").alias("event_id"),
            F.col("e.value").alias("value"),
        )
    )
    return _run_to_memory(spark, agg, "stream_topk").filter(F.col("event_id") >= 0)


@register(
    "stream_cep_purchase_error",
    oracle=f"""
    WITH carried AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lp,
             last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ls
      FROM {EVENTS_NORM}
    )
    SELECT user_id, event_id AS error_id,
           epoch_us(ts) - epoch_us(lp) AS gap_us
    FROM carried
    WHERE event_type = 'error' AND lp IS NOT NULL
      AND epoch_us(ts) - epoch_us(lp) <= {60 * 60_000_000}
      AND (ls IS NULL OR ls < lp)
    """,
    tags=("streaming", "stateful", "cep"),
)
def stream_cep_purchase_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP on the STREAMING engine: purchase → error within 60 min, no
    signup between, matched by a custom Operator whose per-key
    ValueStates carry the NFA state (last purchase / last signup)
    across micro-batch boundaries — the reference's stateful-operator
    idiom (Operator trait + ValueState, operator/mod.rs:21-54) doing
    pattern detection. Matches emit immediately on the error event
    (no flush protocol needed). The tape is split at the time median
    so every user's state MUST survive an epoch boundary; events are
    in event-time order per key (in-order delivery, the reference's
    single-upstream channel guarantee), so the batch window-pass
    oracle (cep_purchase_error_pattern) gives identical pairs."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    split_ts = _tape_split_ts(sf_dir)
    first_half = ev.filter(F.col("ts") <= F.lit(split_ts))
    second_half = ev.filter(F.col("ts") > F.lit(split_ts))

    class CepOperator(Operator):
        def handle_element(self, key, pdf, ctx):
            lp = ctx.value("last_purchase")
            ls = ctx.value("last_signup")
            out = []
            data = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in data.iterrows():
                ts_us = int(row["ts"].timestamp() * 1_000_000)
                et = row["event_type"]
                if et == "error":
                    p = lp.get()
                    s = ls.get()
                    if (
                        p is not None
                        and ts_us - p <= 60 * 60_000_000
                        and (s is None or s < p)
                    ):
                        out.append(
                            {
                                "user_id": int(key[0]),
                                "error_id": int(row["event_id"]),
                                "gap_us": ts_us - p,
                            }
                        )
                if et == "purchase":
                    lp.put(ts_us)
                elif et == "signup":
                    ls.put(ts_us)
            return out or None

    root = write_segments([first_half, second_half])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        CepOperator(),
        "user_id long, error_id long, gap_us long",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_cep")


@register(
    "stream_funnel_conversion",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
      FROM {EVENTS_NORM} GROUP BY user_id
    ),
    v AS (
      SELECT events.user_id, s.signup_ts,
             min(CASE WHEN events.event_type = 'view'
                       AND events.ts > s.signup_ts THEN events.ts END) AS view_ts
      FROM {EVENTS_NORM}
      JOIN s ON events.user_id = s.user_id
      WHERE s.signup_ts IS NOT NULL
      GROUP BY events.user_id, s.signup_ts
    ),
    p AS (
      SELECT events.user_id, v.view_ts,
             min(CASE WHEN events.event_type = 'purchase'
                       AND events.ts > v.view_ts THEN events.ts END) AS purchase_ts
      FROM {EVENTS_NORM}
      JOIN v ON events.user_id = v.user_id
      GROUP BY events.user_id, v.view_ts
    )
    SELECT user_id,
           CASE WHEN purchase_ts IS NOT NULL THEN 3
                WHEN view_ts IS NOT NULL THEN 2 ELSE 1 END AS stage
    FROM p
    """,
    tags=("streaming", "stateful", "funnel"),
)
def stream_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel as a per-user streaming STATE MACHINE: stage and
    stage timestamps live in ValueState, advance on qualifying events
    in event-time order, and the final stage per user emits on the
    flush marker (the reference's drain-on-final-watermark protocol).
    Must equal the batch funnel oracle — a state machine fed in-order
    is the streaming dual of the window-pass plan
    (funnel_conversion)."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    split_ts = _tape_split_ts(sf_dir)
    first_half = ev.filter(F.col("ts") <= F.lit(split_ts))
    second_half = ev.filter(F.col("ts") > F.lit(split_ts))

    class FunnelOperator(Operator):
        def handle_element(self, key, pdf, ctx):
            st = ctx.value("stage")  # (stage, signup_us, view_us)
            marker = pdf["event_id"] < 0
            data = pdf[~marker].sort_values(["ts", "event_id"], kind="mergesort")
            stage, signup_us, view_us = st.get((0, None, None))
            for _, row in data.iterrows():
                ts_us = int(row["ts"].timestamp() * 1_000_000)
                et = row["event_type"]
                if stage == 0 and et == "signup":
                    stage, signup_us = 1, ts_us
                elif stage == 1 and et == "view" and ts_us > signup_us:
                    stage, view_us = 2, ts_us
                elif stage == 2 and et == "purchase" and ts_us > view_us:
                    stage = 3
            st.put((stage, signup_us, view_us))
            if marker.any():
                if stage > 0 and not ctx.value("emitted").get(False):
                    ctx.value("emitted").put(True)
                    return [{"user_id": int(key[0]), "stage": int(stage)}]
            return None

    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mts"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
            F.lit("__flush__").alias("event_type"),
        )
    )
    root = write_segments([first_half, second_half, flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        FunnelOperator(),
        "user_id long, stage int",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_funnel")


@register(
    "stream_interval_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + {5 * 60_000_000} AS e_us
      FROM {EVENTS_NORM}
    ),
    marked AS (
      SELECT user_id, s_us, e_us,
             CASE WHEN s_us <= max(e_us) OVER (
                    PARTITION BY user_id ORDER BY s_us, e_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 0 ELSE 1 END AS is_new
      FROM iv
    ),
    islands AS (
      SELECT user_id, s_us, e_us,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY s_us, e_us
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    spans AS (
      SELECT user_id, island, max(e_us) - min(s_us) AS span_us
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id, count(*) AS n_islands,
           CAST(sum(span_us) AS BIGINT) AS covered_us
    FROM spans GROUP BY user_id
    """,
    tags=("streaming", "stateful", "sweep"),
)
def stream_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage as STREAMING per-key state: the
    sweep-line needs only (current island start, current max end,
    islands so far, covered so far) per user — O(1) state, updated
    in event-time order, emitted on the flush marker. The streaming
    dual of the batch window-pass (interval_coverage_users), proven
    by sharing its oracle. State survives the mid-tape epoch
    boundary."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    split_ts = _tape_split_ts(sf_dir)
    halves = [
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
    ]

    class SweepOperator(Operator):
        WIDTH_US = 5 * 60_000_000

        def handle_element(self, key, pdf, ctx):
            st = ctx.value("sweep")  # (island_start, max_end, n_islands, covered)
            marker = pdf["event_id"] < 0
            data = pdf[~marker].sort_values(["ts", "event_id"], kind="mergesort")
            start, end, n, covered = st.get((None, None, 0, 0))
            for ts in data["ts"]:
                s_us = int(ts.timestamp() * 1_000_000)
                e_us = s_us + self.WIDTH_US
                if start is None:
                    start, end, n = s_us, e_us, 1
                elif s_us <= end:
                    end = max(end, e_us)
                else:
                    covered += end - start
                    start, end, n = s_us, e_us, n + 1
            st.put((start, end, n, covered))
            if marker.any() and not ctx.value("emitted").get(False):
                ctx.value("emitted").put(True)
                if start is not None:
                    covered += end - start
                return [
                    {
                        "user_id": int(key[0]),
                        "n_islands": int(n),
                        "covered_us": int(covered),
                    }
                ]
            return None

    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mts"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
        )
    )
    root = write_segments(halves + [flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        SweepOperator(),
        "user_id long, n_islands long, covered_us long",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_sweep")


@register(
    "stream_rolling_median",
    oracle=f"""
    SELECT user_id, event_id,
           quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS med10
    FROM {EVENTS_NORM}
    """,
    tags=("streaming", "stateful", "appender"),
)
def stream_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event rolling median on the STREAMING engine: a VecState
    ring buffer of the trailing 10 values per user (the reference's
    bounded AppenderIndex, index/appender/mod.rs:43-56), emitting one
    enriched element per input element — a per-element holistic
    aggregate no built-in streaming window expresses. Buffer state
    crosses the epoch boundary; output equals the batch bounded-frame
    window oracle (rolling_median_value)."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    split_ts = _tape_split_ts(sf_dir)
    halves = [
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
    ]

    class RollingMedian(Operator):
        K = 10

        def handle_element(self, key, pdf, ctx):
            buf = ctx.value("buf")
            vals = buf.get([])
            out = []
            data = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in data.iterrows():
                vals.append(float(row["value"]))
                if len(vals) > self.K:
                    vals.pop(0)
                s = sorted(vals)
                m = len(s)
                # (lo+hi)*0.5 is the exact even-count interpolation DuckDB
                # quantile_cont (and Spark percentile) produce — verified
                # empirically with exact-double inputs; lo+(hi-lo)*0.5
                # differs in the last ulp on ~13% of pairs.
                med = s[m // 2] if m % 2 else (s[m // 2 - 1] + s[m // 2]) * 0.5
                out.append(
                    {
                        "user_id": int(key[0]),
                        "event_id": int(row["event_id"]),
                        "med10": med,
                    }
                )
            buf.put(vals)
            return out

    root = write_segments(halves)
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        RollingMedian(),
        "user_id long, event_id long, med10 double",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_rollmed")


@register(
    "stream_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM {EVENTS_NORM}
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    )
    SELECT event_type, h AS kth_hash,
           round((12 - 1) / (CAST(h AS DOUBLE) / {16**15}.0), 4) AS est_users
    FROM ranked WHERE rn = 12
    """,
    tags=("streaming", "stateful", "sketch"),
)
def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV distinct sketch maintained as STREAMING state: per
    event_type, the k smallest distinct md5 hashes live in a bounded
    sorted list (O(k) state — the mergeable-sketch property is
    exactly what makes it a streaming/partial-aggregable structure),
    updated per batch and drained on the flush marker. Hashing runs
    JVM-side in the stream projection; Python only maintains the
    k-min set. Must equal the batch sketch oracle
    (kmv_distinct_users)."""
    import bisect

    from arcon_spark.streaming.stateful import Operator, apply_operator

    K = 12
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "cast(conv(substring(md5(concat('kmv:', cast(user_id as string))), 1, 15),"
            " 16, 10) as bigint)"
        ).alias("h"),
    )
    halves = [
        ev.filter(F.col("h") % 2 == 0),
        ev.filter(F.col("h") % 2 == 1),
    ]

    class KmvOperator(Operator):
        def handle_element(self, key, pdf, ctx):
            st = ctx.value("kmin")
            kmin = st.get([])
            marker = pdf["h"] < 0
            for h in pdf.loc[~marker, "h"]:
                h = int(h)
                i = bisect.bisect_left(kmin, h)
                if i < len(kmin) and kmin[i] == h:
                    continue  # distinct-only
                if len(kmin) < K:
                    kmin.insert(i, h)
                elif h < kmin[-1]:
                    kmin.insert(i, h)
                    kmin.pop()
            st.put(kmin)
            if marker.any() and not ctx.value("emitted").get(False):
                ctx.value("emitted").put(True)
                if len(kmin) == K:
                    kth = kmin[-1]
                    est = round((K - 1) / (kth / float(16**15)), 4)
                    return [
                        {
                            "event_type": str(key[0]),
                            "kth_hash": kth,
                            "est_users": est,
                        }
                    ]
            return None

    flush = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)))
        .select("event_type", F.lit(-1).cast("long").alias("h"))
    )
    root = write_segments(halves + [flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["event_type"],
        KmvOperator(),
        "event_type string, kth_hash long, est_users double",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_kmv")


@register(
    "stream_brown_trend",
    oracle=(lambda: f"""
    WITH t AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS c0,
             {", ".join(
                 f"lag(CAST(round(value * 100) AS BIGINT), {k}) OVER w AS c{k}"
                 for k in range(1, 15)
             )}
      FROM {EVENTS_NORM}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           (3.0 * (CAST(({" + ".join(f"c{k} * {2 ** (7 - k)}" for k in range(8))}) AS DOUBLE) / 255.0 / 100.0))
             - (2.0 * (CAST(({" + ".join(f"c{m} * {(8 - abs(m - 7)) * 2 ** (14 - m)}" for m in range(15))}) AS DOUBLE) / 65025.0 / 100.0)) AS forecast
    FROM t WHERE c14 IS NOT NULL
    """)(),
    tags=("streaming", "stateful", "forecast"),
)
def stream_brown_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double-exponential forecast as STREAMING per-key state:
    a 15-value cents ring buffer per user (O(depth) state — exactly
    what the bounded-frame formulation buys, see
    brown_trend_forecast), emitting the one-step forecast
    3·S1−2·S2 (level + trend at alpha = 1/2; through round 5 this
    carried only the level 2·S1−S2 — same mislabel as the batch twin,
    fixed together) on every element once the buffer is full. Same convolved-integer-weight
    arithmetic as the batch window pass; shares its oracle."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    W1 = [2 ** (7 - k) for k in range(8)]
    CONV = [(8 - abs(m - 7)) * 2 ** (14 - m) for m in range(15)]

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    split_ts = _tape_split_ts(sf_dir)
    halves = [
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
    ]

    class BrownOperator(Operator):
        DEPTH = 15

        def handle_element(self, key, pdf, ctx):
            st = ctx.value("ring")
            ring = st.get([])  # newest first
            out = []
            data = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in data.iterrows():
                # round half away from zero — F.round/DuckDB round semantics,
                # not Python's banker's round()
                v = float(row["value"]) * 100.0
                cents = int(v + 0.5) if v >= 0 else -int(-v + 0.5)
                ring.insert(0, cents)
                if len(ring) > self.DEPTH:
                    ring.pop()
                if len(ring) == self.DEPTH:
                    s1 = sum(c * w for c, w in zip(ring[:8], W1))
                    s2 = sum(c * w for c, w in zip(ring, CONV))
                    # level + trend at alpha=1/2: a+b = 3*S1 - 2*S2
                    # (round-5 fix, mirrors brown_trend_forecast)
                    forecast = 3.0 * (float(s1) / 255.0 / 100.0) - 2.0 * (
                        float(s2) / 65025.0 / 100.0
                    )
                    out.append(
                        {
                            "user_id": int(key[0]),
                            "event_id": int(row["event_id"]),
                            "forecast": forecast,
                        }
                    )
            st.put(ring)
            return out or None

    root = write_segments(halves)
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        BrownOperator(),
        "user_id long, event_id long, forecast double",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_brown")


@register(
    "stream_debounce",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  <= {5 * 60_000_000}
                  THEN 0 ELSE 1 END AS is_burst_start
      FROM {EVENTS_NORM}
    ),
    b AS (
      SELECT user_id, event_id, ts, event_type,
             sum(is_burst_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS burst
      FROM g
    ),
    r AS (
      SELECT user_id, event_id, burst,
             row_number() OVER (PARTITION BY user_id, burst
                                ORDER BY ts, event_id) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id, burst) AS BIGINT)
               AS n_suppressed
      FROM b
    )
    SELECT user_id, event_id, n_suppressed - 1 AS n_suppressed
    FROM r WHERE rn = 1
    """,
    tags=("streaming", "stateful", "debounce"),
)
def stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce on the STREAMING engine with O(1) per-key state
    (current burst head, suppressed-so-far, last event time): a new
    burst start flushes the previous head with its final suppressed
    count; the flush marker drains the open burst. This is the
    native habitat of the operator — alerting pipelines debounce
    live streams — and the state is three scalars however long the
    stream runs. Matches the batch lag-gap-island oracle
    (debounce_events)."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    GAP_US = 5 * 60_000_000
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    split_ts = _tape_split_ts(sf_dir)
    halves = [
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
    ]

    class DebounceOperator(Operator):
        def handle_element(self, key, pdf, ctx):
            st = ctx.value("burst")  # (head_event_id, n_suppressed, last_us)
            marker = pdf["event_id"] < 0
            data = pdf[~marker].sort_values(["ts", "event_id"], kind="mergesort")
            head, supp, last = st.get((None, 0, None))
            out = []
            for _, row in data.iterrows():
                ts_us = int(row["ts"].timestamp() * 1_000_000)
                if last is not None and ts_us - last <= GAP_US:
                    supp += 1
                else:
                    if head is not None:
                        out.append(
                            {
                                "user_id": int(key[0]),
                                "event_id": int(head),
                                "n_suppressed": int(supp),
                            }
                        )
                    head, supp = int(row["event_id"]), 0
                last = ts_us
            st.put((head, supp, last))
            if marker.any() and head is not None and not ctx.value("emitted").get(False):
                ctx.value("emitted").put(True)
                out.append(
                    {
                        "user_id": int(key[0]),
                        "event_id": int(head),
                        "n_suppressed": int(supp),
                    }
                )
            return out or None

    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mts"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
        )
    )
    root = write_segments(halves + [flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        DebounceOperator(),
        "user_id long, event_id long, n_suppressed long",
        ts_col=None,
    )
    return _run_to_memory(spark, out, "stream_debounce")


@register(
    "stream_stream_full_outer_join",
    oracle=f"""
    WITH a AS (SELECT event_id, ts, user_id FROM {EVENTS_NORM}
               WHERE event_id % 2 = 0),
    b AS (SELECT event_id, ts, user_id
          FROM {EVENTS_NORM.replace(') events', ') e2')}
          WHERE event_id % 2 = 1)
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           COALESCE(a.user_id, b.user_id) AS user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM a FULL OUTER JOIN b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
    tags=("streaming", "join", "full_outer"),
)
def stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the join
    matrix (inner: stream_stream_range_join; left outer:
    stream_stream_left_outer_join): null rows for unmatched state on
    BOTH sides may only emit after both watermarks pass the match
    horizon — symmetric join-state eviction. Sentinels drive the
    watermark past every real event so the streamed result must equal
    the batch FULL OUTER oracle exactly. Join state stays O(events in
    the 30-minute horizon) on each side."""
    src = _streamed_events(spark, sf_dir, n_sentinels=3)

    def side(pred: str, alias: str) -> DataFrame:
        return (
            src.withWatermark("ts", "0 seconds")
            .filter(F.expr(pred))
            .select("event_id", "ts", "user_id")
            .alias(alias)
        )

    # sentinels must pass both watermark nodes (see the left-outer note)
    a = side("event_id % 2 = 0 OR event_id = -1", "a")
    b = side("event_id % 2 = 1 OR event_id = -1", "b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTES")),
        "full_outer",
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("gap_us"),
    )
    out = _run_to_memory(spark, joined, "stream_ssfoj")
    # sentinel rows (user_id -1) surface as unmatched on both sides
    return out.filter(
        (F.coalesce(F.col("id_a"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("id_b"), F.lit(0)) >= 0)
    )


@register(
    "stream_absence_alert",
    oracle=f"""
    SELECT p.user_id, p.event_id AS purchase_id
    FROM {EVENTS_NORM.replace(') events', ') p')}
    WHERE p.event_type = 'purchase'
      AND NOT EXISTS (
        SELECT 1 FROM {EVENTS_NORM.replace(') events', ') c')}
        WHERE c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts > p.ts AND c.ts <= p.ts + INTERVAL '30 minutes'
      )
    """,
    tags=("streaming", "stateful", "cep", "timers"),
)
def stream_absence_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE CEP — "purchase NOT followed by a click within 30
    minutes" — the pattern class that REQUIRES event-time timers: a
    match is the non-arrival of an event, detectable only when the
    watermark proves the window empty. Each purchase registers a
    pending entry and schedules a timer at ts+30min (the reference's
    ctx.schedule_at, operator/mod.rs:129-137); clicks cancel pending
    purchases whose window they fall in; handle_timeout fires when
    the watermark passes the deadline and emits the still-pending
    alerts — exactly the quad-wheel advance-and-fire contract
    (timer.rs:252-269). Output equals the batch NOT EXISTS oracle."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    WINDOW_US = 30 * 60_000_000
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    ).select("user_id", "event_id", "ts", "event_type")
    split_ts = _tape_split_ts(sf_dir, ("purchase", "click"))
    halves = [
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
    ]
    # sentinel advances the watermark past every deadline (different key)
    flush = ev.agg(F.max("ts").alias("mts")).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("mts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
        F.lit("__sentinel__").alias("event_type"),
    )

    class AbsenceOperator(Operator):
        def handle_element(self, key, pdf, ctx):
            pend = ctx.map("pending")  # purchase_id -> (p_ts_us, deadline_us)
            data = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in data.iterrows():
                ts_us = int(row["ts"].timestamp() * 1_000_000)
                if row["event_type"] == "purchase":
                    deadline = ts_us + WINDOW_US
                    pend.put(int(row["event_id"]), (ts_us, deadline))
                    ctx.schedule_at(deadline // 1000)
                else:  # click cancels covered pending purchases
                    for pid, (p_us, dl_us) in list(pend.items()):
                        if p_us < ts_us <= dl_us:
                            pend.remove(pid)
            return None

        def handle_timeout(self, key, time_ms, payload, ctx):
            pend = ctx.map("pending")
            out = []
            for pid, (p_us, dl_us) in sorted(pend.items()):
                if dl_us // 1000 <= time_ms:
                    pend.remove(pid)
                    out.append(
                        {"user_id": int(key[0]), "purchase_id": int(pid)}
                    )
            return out or None

    root = write_segments(halves + [flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        AbsenceOperator(),
        "user_id long, purchase_id long",
        ts_col="ts",
    )
    return _run_to_memory(spark, out, "stream_absence").filter(F.col("user_id") >= 0)


@register(
    "stream_stream_right_outer_join",
    oracle=f"""
    WITH a AS (SELECT event_id, ts, user_id FROM {EVENTS_NORM}
               WHERE event_id % 2 = 0),
    b AS (SELECT event_id, ts, user_id
          FROM {EVENTS_NORM.replace(') events', ') e2')}
          WHERE event_id % 2 = 1)
    SELECT a.event_id AS id_a, b.event_id AS id_b,
           b.user_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM a RIGHT JOIN b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL '30 minutes'
    """,
    tags=("streaming", "join", "right_outer"),
)
def stream_stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the last cell of the
    outer-join matrix (inner / left_outer / full_outer already
    oracle-checked). Mirror semantics of the left-outer case: an
    odd-id event with no even-id predecessor in its 30-minute window
    emits with a null left side, and only once the left watermark has
    passed the window end — right-side rows hold in join state until
    the OTHER side's watermark proves no match can arrive, the
    asymmetric eviction case."""
    src = _streamed_events(spark, sf_dir, n_sentinels=3)

    def side(pred: str, alias: str) -> DataFrame:
        return (
            src.withWatermark("ts", "0 seconds")
            .filter(F.expr(pred))
            .select("event_id", "ts", "user_id")
            .alias(alias)
        )

    # sentinels must pass both watermark nodes (see the left-outer note)
    a = side("event_id % 2 = 0 OR event_id = -1", "a")
    b = side("event_id % 2 = 1 OR event_id = -1", "b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 30 MINUTES")),
        "right_outer",
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("b.user_id").alias("user_id"),
        (F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))).alias("gap_us"),
    )
    out = _run_to_memory(spark, joined, "stream_ssroj")
    # sentinel rows (user_id -1) surface as unmatched rights
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_time_weighted_avg",
    oracle=f"""
    WITH spans AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS dur_us
      FROM {EVENTS_NORM}
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(dur_us) AS BIGINT) AS window_us,
           round(CAST(SUM(CAST(cents AS HUGEINT) * CAST(dur_us AS HUGEINT))
                        AS DOUBLE)
                 / CAST(SUM(dur_us) AS DOUBLE) / 100.0, 6) AS twa_value
    FROM spans WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "twa", "timeseries"),
)
def stream_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOCF time-weighted average (batch twin:
    time_weighted_avg_user) as STREAMING per-key state — the textbook
    case for O(1) incremental state: each arrival closes the span the
    previous observation opened, so the state is just (last_micros,
    last_cents) plus three exact integer accumulators (span count,
    Σdur, Σcents·dur as an unbounded Python int ≅ the decimal(38)
    column). Emitted on the flush marker; the integral accumulated
    across the mid-tape epoch boundary must equal the batch window
    oracle exactly."""
    from arcon_spark.streaming.stateful import Operator, apply_operator
    from arcon_spark.streaming.tape import write_segments

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    split_ts = _tape_split_ts(sf_dir)
    halves = [
        ev.filter(F.col("ts") <= F.lit(split_ts)),
        ev.filter(F.col("ts") > F.lit(split_ts)),
    ]

    class TwaOperator(Operator):
        def handle_element(self, key, pdf, ctx):
            st = ctx.value("twa")  # (last_us, last_cents, n, den, num)
            marker = pdf["event_id"] < 0
            data = pdf[~marker].sort_values(["ts", "event_id"], kind="mergesort")
            last_us, last_cents, n, den, num = st.get((None, None, 0, 0, 0))
            for ts, val in zip(data["ts"], data["value"]):
                us = int(ts.timestamp() * 1_000_000)
                cents = int(round(val * 100))
                if last_us is not None:
                    dur = us - last_us
                    n += 1
                    den += dur
                    num += last_cents * dur
                last_us, last_cents = us, cents
            st.put((last_us, last_cents, n, den, num))
            if marker.any() and not ctx.value("emitted").get(False):
                ctx.value("emitted").put(True)
                if n == 0:
                    return None
                return [
                    {
                        "user_id": int(key[0]),
                        "n_spans": int(n),
                        "window_us": int(den),
                        "twa_value": round(float(num) / float(den) / 100.0, 6),
                    }
                ]
            return None

    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mts"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )
    root = write_segments(halves + [flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        TwaOperator(),
        "user_id long, n_spans long, window_us long, twa_value double",
    )
    return _run_to_memory(spark, out, "stream_twa")


@register(
    "stream_cdc_upsert",
    oracle="""
    WITH latest AS (
      SELECT o_custkey AS key,
             CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
             o_totalprice AS new_bal
      FROM (
        SELECT o_custkey, o_orderstatus, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT c.c_custkey, c.c_name,
           CASE WHEN l.op = 'U' THEN l.new_bal ELSE c.c_acctbal END AS acctbal,
           CASE WHEN l.op = 'U' THEN 'cdc' ELSE 'base' END AS version
    FROM customer c LEFT JOIN latest l ON c.c_custkey = l.key
    WHERE l.op IS NULL OR l.op <> 'D'
    """,
    tags=("streaming", "cdc", "merge", "upsert", "stateful"),
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MERGE INTO: the orders changelog replays as
    micro-batches (split by orderkey PARITY, deliberately uncorrelated
    with the change sequence) and foreachBatch maintains an upsert
    state table — per key, the stored row is replaced only when the
    incoming change's (o_orderdate, o_orderkey) sequence is NEWER, the
    compare-and-swap a Delta MERGE runs per batch. Because the batch
    split does not align with sequence order, a blind
    last-batch-overwrites merge would corrupt keys whose newest change
    arrived in batch 0 — the oracle (= cdc_merge_customer's batch
    collapse over ALL orders) proves the CAS semantics exactly.

    State is epoch-versioned parquet (the SnapshotCatalog layout):
    batch N reads epoch N-1, merges, writes epoch N — idempotent on
    retry, time-travelable, and the read-modify-write touches only the
    keys-sized state table, never the stream history. At 100 TB the
    state table is a bucketed/metastore table and the merge is a
    key-partitioned join per epoch."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    root = write_segments(
        [
            orders.filter(F.col("o_orderkey") % 2 == 0),
            orders.filter(F.col("o_orderkey") % 2 == 1),
        ]
    )
    state_root = scratch_dir("arcon_cdc_state_")
    holder: dict[str, str | None] = {"latest": None}
    wseq = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )

    def merge(bdf: DataFrame, bid: int) -> None:
        winner = (
            bdf.withColumn("rn", F.row_number().over(wseq))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if holder["latest"] is not None:
            prev = spark.read.parquet(holder["latest"])
            winner = (
                prev.unionByName(winner)
                .withColumn("rn", F.row_number().over(wseq))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        out = os.path.join(state_root, f"epoch={bid}")
        winner.write.mode("overwrite").parquet(out)
        holder["latest"] = out

    _drain(
        spark,
        read_segments(spark, root, orders.schema)
        .writeStream.foreachBatch(merge)
        .outputMode("update"),
    )

    state = spark.read.parquet(holder["latest"])
    latest = state.select(
        F.col("o_custkey").alias("key"),
        F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("new_bal"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    return (
        cust.join(latest, cust.c_custkey == latest.key, "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("op") == "U", F.col("new_bal"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            F.when(F.col("op") == "U", "cdc").otherwise("base").alias("version"),
        )
    )


@register(
    "stream_temporal_dim_join",
    oracle=f"""
    WITH u AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT) // 1000 END AS tier
      FROM {EVENTS_NORM} WHERE event_type IN ('purchase', 'view')
    ),
    e AS (
      SELECT *, last_value(tier IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS eff_tier
      FROM u
    )
    SELECT event_id, user_id, eff_tier FROM e WHERE event_type = 'view'
    """,
    tags=("streaming", "join", "temporal", "asof", "stateful"),
)
def stream_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL (event-time as-of) dimension join as a custom streaming
    Operator — Flink's temporal-table join, which the reference
    structurally cannot express (its dataflow graphs are linear chains,
    SURVEY §2.9 dfg.rs:61-114): purchase events are the dim-version
    stream (each sets the user's tier effective FROM its timestamp);
    view events are the fact stream, each enriched with the tier in
    effect strictly before it. One ValueState per user holds exactly
    the CURRENT dim version — O(keys) state, vs an interval join's
    O(horizon) buffering — and it survives the epoch boundary (the
    tape splits at the median timestamp, so half of every user's
    history replays in batch 2 against state built in batch 1).

    Versions and facts interleave in (ts, event_id) order inside each
    batch; cross-batch order holds because the split is BY TIME — the
    production contract (in-order-within-watermark) that a real
    deployment gets from withWatermark + the state-store sort. The
    oracle replays the identical semantics as a strictly-preceding
    IGNORE NULLS window over the unioned streams."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select("user_id", "event_id", "ts", "event_type", "value")
    cut = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("c")).first().c
    seg1 = ev.filter(F.unix_micros("ts") <= cut)
    seg2 = ev.filter(F.unix_micros("ts") > cut)

    class TemporalJoin(Operator):
        def handle_element(self, key, pdf, ctx):
            import numpy as np

            st = ctx.value("tier")
            out = []
            data = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in data.iterrows():
                if row["event_type"] == "purchase":
                    x = float(row["value"]) * 100.0
                    cents = int(np.trunc(x + np.copysign(0.5, x)))
                    st.put(cents // 1000)
                else:
                    out.append(
                        {
                            "event_id": int(row["event_id"]),
                            "user_id": int(key[0]),
                            "eff_tier": st.get(),
                        }
                    )
            return out or None

    root = write_segments([seg1, seg2])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        TemporalJoin(),
        "event_id long, user_id long, eff_tier long",
    )
    return _run_to_memory(spark, out, "stream_tdj")


@register(
    "stream_quantile_histogram",
    oracle=f"""
    WITH hist AS (
      SELECT event_type,
             LEAST(127, CAST(round(value * 100) AS BIGINT) // 400) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM {EVENTS_NORM} GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS total
      FROM hist
    ),
    probes AS (
      SELECT c.*, q.q, q.q * CAST(total AS DOUBLE) AS target
      FROM cum c, UNNEST([CAST('0.5e0' AS DOUBLE), CAST('0.9e0' AS DOUBLE)]) AS q(q)
    )
    SELECT event_type, q,
           (CAST(bin * 400 AS DOUBLE)
            + (target - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE) * 400)
           / 100.0 AS est_value
    FROM probes
    WHERE CAST(cum - cnt AS DOUBLE) < target AND target <= CAST(cum AS DOUBLE)
    """,
    tags=("streaming", "sketch", "quantile", "update_mode", "survey2.6"),
)
def stream_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable histogram quantile sketch maintained BY THE
    STREAMING ENGINE: per-(event_type, bin) counts run as an
    update-mode aggregate across two micro-batches (the sketch's
    mergeability IS what makes it streamable — counts are plain sums
    in the state store); the final per-key state, recovered as the
    latest update per key, feeds the identical cumulative/
    interpolation arithmetic as the batch quantile_histogram_sketch,
    and must hash-match the same oracle. At 100 TB the state is
    O(groups × 128 bins) regardless of stream length — the quantile
    sketch that never buffers values."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    root = write_segments(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)]
    )

    src = read_segments(spark, root, ev.schema)
    agg = src.groupBy(
        "event_type",
        F.least(
            F.lit(127), F.expr("cast(round(value * 100) as bigint) div 400")
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))

    final = _drain_latest(spark, agg, ["event_type", "bin"])
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    cum = final.select(
        "event_type",
        "bin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("total"),
    )
    probes = cum.select(
        "*", F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("q")
    ).withColumn("target", F.col("q") * F.col("total").cast("double"))
    prev = (F.col("cum") - F.col("cnt")).cast("double")
    return probes.filter(
        (prev < F.col("target")) & (F.col("target") <= F.col("cum").cast("double"))
    ).select(
        "event_type",
        "q",
        (
            (
                (F.col("bin") * 400).cast("double")
                + (F.col("target") - prev) / F.col("cnt").cast("double") * 400
            )
            / 100.0
        ).alias("est_value"),
    )


@register(
    "stream_gap_fill_locf",
    oracle=f"""
    WITH obs AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             arg_max(value, event_id) AS value
      FROM {EVENTS_NORM}
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(min(hour), max(hour),
                                    INTERVAL 1 HOUR)) AS hour
      FROM obs GROUP BY user_id
    ),
    joined AS (
      SELECT g.user_id, g.hour, o.value,
             o.user_id IS NULL AS no_obs
      FROM grid g
      LEFT JOIN obs o ON o.user_id = g.user_id AND o.hour = g.hour
    )
    SELECT user_id, hour,
           last_value(value IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY hour
                   ROWS UNBOUNDED PRECEDING) AS value_filled,
           CAST(no_obs AS BOOLEAN) AS is_gap
    FROM joined
    """,
    tags=("streaming", "stateful", "gapfill", "locf", "timeseries"),
)
def stream_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gap fill with LOCF — the hypertable repair
    (gap_fill_forward_hourly) as a live operator: per user, O(1) state
    holds the open hour's best observation (max event_id — the
    arg_max contract) and the last filled value; when an element opens
    a LATER hour, the operator finalizes the closed hour and emits the
    intervening empty hours carrying the last value forward (is_gap =
    true) — event-driven catch-up, so no per-hour timers and no dense
    grid materialization anywhere. The tape splits mid-corpus BY TIME
    (hours may straddle the epoch boundary — the open-hour state must
    survive it) and a per-user flush marker closes the final hour.
    Output equals the batch grid⟕obs oracle exactly."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    cut = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("c")).first().c
    seg1 = ev.filter(F.unix_micros("ts") <= cut)
    seg2 = ev.filter(F.unix_micros("ts") > cut)
    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mts"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
    )

    HOUR_US = 3_600_000_000

    class GapFill(Operator):
        def handle_element(self, key, pdf, ctx):
            st = ctx.value("gf")
            cur_h, best_eid, best_val, prev_filled = st.get((None, None, None, None))
            out = []
            uid = int(key[0])

            def close_hour(next_h):
                nonlocal cur_h, best_eid, best_val, prev_filled
                filled = best_val if best_val is not None else prev_filled
                out.append(
                    {"user_id": uid, "hour_us": cur_h, "value_filled": filled,
                     "is_gap": False}
                )
                prev_filled = filled
                if next_h is not None:
                    for h in range(cur_h + HOUR_US, next_h, HOUR_US):
                        out.append(
                            {"user_id": uid, "hour_us": h,
                             "value_filled": prev_filled, "is_gap": True}
                        )
                cur_h, best_eid, best_val = next_h, None, None

            data = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in data.iterrows():
                eid = int(row["event_id"])
                if eid < 0:
                    if cur_h is not None:
                        close_hour(None)
                    continue
                us = int(row["ts"].timestamp() * 1_000_000)
                h = us - us % HOUR_US
                if cur_h is None:
                    cur_h = h
                elif h > cur_h:
                    close_hour(h)
                if best_eid is None or eid > best_eid:
                    best_eid, best_val = eid, float(row["value"])
            st.put((cur_h, best_eid, best_val, prev_filled))
            return out or None

    root = write_segments([seg1, seg2, flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        GapFill(),
        "user_id long, hour_us long, value_filled double, is_gap boolean",
    )
    res = _run_to_memory(spark, out, "stream_gfl")
    return res.select(
        "user_id",
        F.expr("timestamp_micros(hour_us)").alias("hour"),
        "value_filled",
        "is_gap",
    )


@register(
    "stream_scd2_history",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM {EVENTS_NORM}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM ordered
    ),
    collapsed AS (
      SELECT user_id, CAST(run_id AS BIGINT) AS version, event_type,
             min(ts) AS valid_from,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, version, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
             AS valid_to,
           n_events,
           CAST(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from)
                  IS NULL AS BOOLEAN) AS is_current
    FROM collapsed
    """,
    tags=("streaming", "stateful", "scd2", "maintenance"),
)
def stream_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 — type-2 dimension versioning maintained live:
    per-user O(1) state holds the OPEN version (type, valid_from,
    event count); a type change CLOSES it — the closed row emits
    immediately with valid_to = the change's timestamp — and opens the
    next version; the flush marker emits the still-open row with
    is_current = true. This is how a warehouse dimension stays current
    under a CDC stream without nightly rebuilds; the run state (like
    stream_gap_fill_locf's open hour) must survive the epoch boundary
    (tape split mid-corpus by time). Output equals the batch
    scd2_user_type_history collapse exactly."""
    from arcon_spark.streaming.stateful import Operator, apply_operator

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    cut = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)").alias("c")).first().c
    seg1 = ev.filter(F.unix_micros("ts") <= cut)
    seg2 = ev.filter(F.unix_micros("ts") > cut)
    flush = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mts"))
        .select(
            "user_id",
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
            F.lit("__flush__").alias("event_type"),
        )
    )

    class Scd2(Operator):
        def handle_element(self, key, pdf, ctx):
            st = ctx.value("v")
            version, cur_type, from_us, n = st.get((0, None, None, 0))
            out = []
            uid = int(key[0])

            def emit(valid_to_us, current):
                out.append(
                    {
                        "user_id": uid,
                        "version": version,
                        "event_type": cur_type,
                        "from_us": from_us,
                        "to_us": valid_to_us,
                        "n_events": n,
                        "is_current": current,
                    }
                )

            data = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            for _, row in data.iterrows():
                eid = int(row["event_id"])
                us = int(row["ts"].timestamp() * 1_000_000)
                if eid < 0:
                    if cur_type is not None:
                        emit(None, True)
                    continue
                et = row["event_type"]
                if cur_type is None:
                    version, cur_type, from_us, n = 1, et, us, 1
                elif et != cur_type:
                    emit(us, False)
                    version, cur_type, from_us, n = version + 1, et, us, 1
                else:
                    n += 1
            st.put((version, cur_type, from_us, n))
            return out or None

    root = write_segments([seg1, seg2, flush])
    src = read_segments(spark, root, ev.schema)
    out = apply_operator(
        src,
        ["user_id"],
        Scd2(),
        "user_id long, version long, event_type string, from_us long,"
        " to_us long, n_events long, is_current boolean",
    )
    res = _run_to_memory(spark, out, "stream_scd2")
    return res.select(
        "user_id",
        "version",
        "event_type",
        F.expr("timestamp_micros(from_us)").alias("valid_from"),
        F.expr("timestamp_micros(to_us)").alias("valid_to"),
        "n_events",
        "is_current",
    )


@register(
    "stream_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
           CAST(COUNT(DISTINCT user_id // 63) AS BIGINT) AS n_buckets
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "sketch", "distinct", "update_mode", "survey2.6"),
)
def stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT streaming distinct count via integer bitmaps: the
    per-(event_type, bucket) `bit_or(1 << user_id mod 63)` runs as an
    update-mode aggregate in the state store across two micro-batches
    — OR is idempotent AND associative, so re-delivered rows and any
    batch split produce the same bitmaps (contrast a streaming
    COUNT(DISTINCT), which Spark disallows precisely because distinct
    state isn't a bounded mergeable value). State is one long per 63
    live users per type. The readout (latest state per key → Σ
    bit_count) must hash-match the plain-COUNT(DISTINCT) oracle —
    exactness, not an estimate, the property kmv/hll twins trade
    away. Batch twin: bitmap_distinct_users."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    root = write_segments(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)]
    )

    src = read_segments(spark, root, ev.schema)
    agg = src.groupBy(
        "event_type", F.expr("user_id div 63").alias("bucket")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(pmod(user_id, 63) as int)))").alias("bitmap")
    )

    final = _drain_latest(spark, agg, ["event_type", "bucket"])
    return final.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(bitmap)")).cast("long").alias("distinct_users"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )


@register(
    "stream_windowed_distinct",
    oracle=f"""
    WITH hours AS (
      SELECT DISTINCT date_trunc('hour', ts) AS hour FROM {EVENTS_NORM}
    )
    SELECT h.hour, CAST(COUNT(DISTINCT events.user_id) AS BIGINT) AS distinct_users_3h
    FROM hours h
    JOIN {EVENTS_NORM} ON date_trunc('hour', events.ts)
        BETWEEN h.hour - INTERVAL 2 HOUR AND h.hour
    GROUP BY h.hour
    """,
    tags=("streaming", "window", "distinct", "update_mode", "survey2.4"),
)
def stream_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window EXACT distinct as a STREAM: each event's bitmap
    bit is exploded to the 3 trailing-window hours it serves and
    bit_or-merged in the state store (update mode, two micro-batches).
    Sliding COUNT(DISTINCT) is unrunnable as a streaming aggregate in
    any SQL engine — distinct state is unbounded and non-mergeable —
    but the bitmap encoding turns it into a bounded, idempotent,
    commutative OR per (hour, bucket): replay-safe, batch-split-safe,
    and O(hours × buckets) state. Readout = latest state per key →
    Σ bit_count, hash-matched against the batch interval-join oracle
    (same truth as windowed_distinct_users_bitmap)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.expr("unix_micros(ts) div 3600000000").alias("hidx"),
        "user_id",
    )
    root = write_segments(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)]
    )

    src = read_segments(spark, root, ev.schema)
    agg = (
        src.select(
            F.explode(F.expr("sequence(hidx, hidx + 2)")).alias("target"),
            F.expr("user_id div 63").alias("bucket"),
            F.expr("shiftleft(1L, cast(pmod(user_id, 63) as int))").alias("bit"),
        )
        .groupBy("target", "bucket")
        .agg(F.expr("bit_or(bit)").alias("bitmap"))
    )

    final = _drain_latest(spark, agg, ["target", "bucket"])
    # emit only hours that actually observed events (exploded targets
    # overshoot by up to 2 hours past the last event)
    observed = ev.select("hidx").distinct().withColumnRenamed("hidx", "target")
    return (
        final.join(F.broadcast(observed), "target")
        .groupBy("target")
        .agg(F.sum(F.expr("bit_count(bitmap)")).cast("long").alias("distinct_users_3h"))
        .select(
            F.expr("timestamp_micros(target * 3600000000)").alias("hour"),
            "distinct_users_3h",
        )
    )


@register(
    "stream_table_checksum",
    oracle="""
    SELECT o_orderkey % 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor(CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                   CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
                   CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) || '|' ||
                   CAST(o_orderdate AS VARCHAR) || '|' || o_orderpriority), 1, 15)
                   AS BIGINT)) AS xor_digest
    FROM orders GROUP BY 1
    """,
    tags=("streaming", "integrity", "checksum", "update_mode"),
)
def stream_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merkle bucket checksum (table_checksum_compare's summary
    side) maintained BY THE STREAM as rows arrive: per-bucket COUNT +
    XOR-fold of row digests as an update-mode aggregate across two
    micro-batches. The readout must equal the batch checksum of the
    full table — the property that lets a CDC consumer prove it
    applied every change exactly once, by comparing its running
    checksum against the source's.

    The instructive contrast with stream_bitmap_distinct: OR is
    IDEMPOTENT, so the bitmap stream is correct even under at-least-
    once replay; XOR is only associative/commutative — a replayed row
    cancels itself out of the digest — so this checksum REQUIRES the
    engine's exactly-once state guarantee (checkpointed offsets +
    transactional state store). That asymmetry is exactly why
    anti-entropy protocols pick XOR digests (they WANT double-apply to
    surface as a mismatch) while streaming distinct-counts pick OR."""
    from arcon_spark.operators.maintenance import _CK_SPARK

    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    rows = load_table(spark, sf_dir, "orders").select(*cols)
    root = write_segments(
        [rows.filter(F.col("o_orderkey") % 2 == 0), rows.filter(F.col("o_orderkey") % 2 == 1)]
    )

    src = read_segments(spark, root, rows.schema)
    agg = src.groupBy((F.col("o_orderkey") % 256).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr(f"bit_xor({_CK_SPARK})").alias("xor_digest"),
    )

    return _drain_latest(spark, agg, ["bucket"])


@register(
    "stream_distribution_drift",
    oracle=f"""
    WITH tagged AS (
      SELECT event_type, event_id % 2 AS epoch,
             LEAST(15, CAST(round(value * 100) AS BIGINT) // 800) AS bin
      FROM {EVENTS_NORM}
    ),
    bins AS (
      SELECT event_type, bin,
             SUM(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS o0,
             SUM(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS o1
      FROM tagged GROUP BY event_type, bin
    ),
    tot AS (
      SELECT event_type, SUM(o0) AS n0, SUM(o1) AS n1
      FROM bins GROUP BY event_type
    )
    SELECT b.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM((b.o1 * t.n0 - b.o0 * t.n1) * (b.o1 * t.n0 - b.o0 * t.n1)
                    * 1000000
                    // ((b.o0 + b.o1) * t.n0 * t.n1)) AS BIGINT) AS drift_units
    FROM bins b JOIN tot t ON t.event_type = b.event_type
    GROUP BY b.event_type
    """,
    tags=("streaming", "drift", "quality", "monitoring", "update_mode"),
)
def stream_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift monitor RUN BY THE STREAM: per-(type, bin, epoch)
    histogram counts accumulate as an update-mode aggregate while the
    two epochs arrive as separate micro-batches (batch 0 = baseline
    traffic, batch 1 = today's); the χ² readout over the final state
    must hash-match the batch distribution_drift_chi2 oracle. This is
    the deployment shape of drift detection — the reference histogram
    is state, today's counts fold in per epoch, and the alert query
    reads the state store, never the raw history. Counts are plain
    sums (mergeable, replay adds handled by exactly-once state);
    the integer fixed-point χ² is computed exactly as in batch."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("event_id") % 2).alias("epoch"),
        F.least(F.lit(15), F.expr("cast(round(value * 100) as bigint) div 800")).alias("bin"),
    )
    root = write_segments(
        [ev.filter(F.col("epoch") == 0), ev.filter(F.col("epoch") == 1)]
    )

    src = read_segments(spark, root, ev.schema)
    agg = src.groupBy("event_type", "bin", "epoch").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )

    state = _drain_latest(spark, agg, ["event_type", "bin", "epoch"])
    bins = state.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("epoch") == 0, F.col("cnt")).otherwise(0)).alias("o0"),
        F.sum(F.when(F.col("epoch") == 1, F.col("cnt")).otherwise(0)).alias("o1"),
    )
    tot = bins.groupBy("event_type").agg(
        F.sum("o0").alias("n0"), F.sum("o1").alias("n1")
    )
    term = F.expr(
        "((o1 * n0 - o0 * n1) * (o1 * n0 - o0 * n1) * 1000000)"
        " div ((o0 + o1) * n0 * n1)"
    )
    return (
        bins.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum(term).cast("long").alias("drift_units"),
        )
    )


@register(
    "stream_union_two_sources",
    oracle=f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM {EVENTS_NORM}
    WHERE event_type IN ('view', 'purchase')
    GROUP BY 1, 2
    """,
    tags=("streaming", "union", "watermark", "multi_source", "survey2.1"),
)
def stream_union_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO independent streaming sources unioned into one windowed
    aggregate — the multi-source topology whose correctness hinges on
    Spark tracking the GLOBAL watermark as the MIN across sources
    (the reference's watermark min-alignment across input channels,
    arcon/src/stream/node/mod.rs watermark handling): the view tape
    and the purchase tape deliver THE SAME hours in opposite segment
    order, so at every trigger one source lags the other in event
    time; min-alignment (multipleWatermarkPolicy=min, the default)
    keeps the global watermark at the lagging source's. Each source
    carries its OWN withWatermark("ts") node — two watermark trackers
    whose min is the operator watermark, exactly the reference's
    channel min-alignment; the delay exceeds the tape's 30-day span
    so alignment is exercised with zero late drops and the final
    per-key state must equal the batch truth. Each source is its own
    readStream (two independent file trackers, two offset logs); the
    union then windows per (hour, type) in update mode."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    views = ev.filter(F.col("event_type") == "view")
    purch = ev.filter(F.col("event_type") == "purchase")
    half = F.col("event_id") % 2 == 0
    root_v = write_segments([views.filter(half), views.filter(~half)])
    # opposite delivery order: purchases send the second half FIRST
    root_p = write_segments([purch.filter(~half), purch.filter(half)])

    def src(root: str) -> DataFrame:
        return read_segments(spark, root, ev.schema).withWatermark("ts", "31 days")

    unioned = src(root_v).unionByName(src(root_p))
    agg = unioned.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))

    return _drain_latest(spark, agg, ["hour", "event_type"])


@register(
    "stream_cumulative_distinct",
    oracle=f"""
    WITH hours AS (
      SELECT DISTINCT date_trunc('hour', ts) AS hour FROM {EVENTS_NORM}
    ),
    firsts AS (
      SELECT user_id, MIN(date_trunc('hour', ts)) AS first_hour
      FROM {EVENTS_NORM} GROUP BY user_id
    ),
    new_per_hour AS (
      SELECT first_hour AS hour, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY first_hour
    )
    SELECT h.hour, COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0))
                OVER (ORDER BY h.hour ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS users_to_date
    FROM hours h LEFT JOIN new_per_hour n ON n.hour = h.hour
    """,
    tags=("streaming", "distinct", "cumulative", "update_mode", "survey2.4"),
)
def stream_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The users-to-date curve maintained BY THE STREAM: per-user
    MIN(first hour) runs as an update-mode aggregate (MIN is the
    mergeable first-seen state — a late batch can only move a user's
    first hour EARLIER, and the state store replays the smaller
    value), with the two micro-batches deliberately split so half of
    each user's events arrive in each epoch. Readout: latest state
    per user → count per first-hour → running sum, hash-matched
    against the batch identity (cumulative_distinct_users). State is
    one timestamp per user — the minimum any exact distinct-to-date
    needs — versus the naive stream that would carry the full seen-id
    set per hour."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.date_trunc("hour", "ts").alias("hour"), "user_id"
    )
    root = write_segments(
        [ev.filter(F.col("event_id") % 2 == 0), ev.filter(F.col("event_id") % 2 == 1)]
    )

    src = read_segments(spark, root, ev.schema)
    agg = src.groupBy("user_id").agg(F.min("hour").alias("first_hour"))

    firsts = _drain_latest(spark, agg, ["user_id"])
    new_per_hour = firsts.groupBy(F.col("first_hour").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    hours = ev.select("hour").distinct()
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hours.join(new_per_hour, "hour", "left")
        .select("hour", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .withColumn("users_to_date", F.sum("new_users").over(w).cast("long"))
    )


def _funnel_oracle() -> str:
    from arcon_spark.functions.curation import _SQL_FUNNEL

    return _SQL_FUNNEL


@register(
    "stream_curation_funnel",
    oracle=_funnel_oracle(),
    tags=("streaming", "curation", "quality", "incremental", "pipeline"),
)
def stream_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gating at INGEST: documents arrive in waves (three
    micro-batches, split by doc_id % 3) and each wave's per-doc
    Gopher/C4-style gate flags are computed in-row as it lands; the
    cumulative funnel report over everything ingested must equal the
    batch query's counts row-for-row (one oracle serves both —
    curation_funnel_counts' shared flag/count helpers are used
    verbatim).

    Scale shape: per micro-batch one codegen projection, no state
    store, no shuffle; the only aggregate is the final report over the
    appended flag table. Per-doc flag rows are deterministic, so
    distinct() absorbs duplicate appends from a retried foreachBatch
    (same exactly-once insurance as stream_incremental_dedup)."""
    from arcon_spark.functions.curation import _funnel_counts, _funnel_flags

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cached = _SPLIT_TAPE_CACHE.get((sf_dir, "docs3"))
    if cached is not None and os.path.isdir(cached[0]):
        root = cached[0]
    else:
        root = write_segments(
            [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
        )
        _SPLIT_TAPE_CACHE[(sf_dir, "docs3")] = (root, None)
    work = scratch_dir("arcon_funnelstream_")
    flags_dir = os.path.join(work, "flags")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _funnel_flags(batch_df).write.mode("append").parquet(flags_dir)

    src = read_segments(spark, root, "doc_id long, text string")
    ckpt = os.path.join(work, "ckpt")
    _drain(spark, src.writeStream.foreachBatch(handle).option("checkpointLocation", ckpt))
    return _funnel_counts(spark.read.parquet(flags_dir).distinct())


def _dp_wave_oracle() -> str:
    from arcon_spark.functions.curation import _lap_noise_mu

    noise = _lap_noise_mu(
        "'sdp:' || CAST(wave AS VARCHAR) || ':' || lang", 1, "duck"
    )
    return f"""
    WITH g AS (
      SELECT doc_id % 3 AS wave, lang, count(*) AS c
      FROM documents GROUP BY 1, 2
    )
    SELECT wave, lang,
           c * 1000000 + ({noise}) AS noisy_count_mu,
           round(CAST(c * 1000000 + ({noise}) AS DOUBLE) / 1000000.0, 6)
             AS noisy_count,
           CAST(1000000 AS BIGINT) AS epsilon_ppm
    FROM g
    """


@register(
    "stream_dp_release_ledger",
    oracle=_dp_wave_oracle(),
    tags=("streaming", "curation", "privacy", "dp", "incremental", "pipeline"),
)
def stream_dp_release_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP statistics published AT INGEST: documents arrive in three
    waves (doc_id % 3) and each micro-batch releases eps=1 Laplace
    noisy per-lang counts for ITS wave the moment it lands — the
    hourly-dashboard pattern where stats go public while the corpus is
    still loading. The waves partition the corpus, so the whole ledger
    costs eps=1 by parallel composition (a document is covered by
    exactly one release), and the running ledger the stream accumulates
    equals the batch release table row-for-row.

    Determinism under streaming: the wave id comes from the DATA
    (doc_id % 3), never from batch_id, and the noise is keyed on
    (wave, lang) — so the published values are identical under any
    micro-batch arrival order, and a retried foreachBatch recomputes
    byte-identical release rows that distinct() absorbs (the
    stream_incremental_dedup exactly-once insurance). The final ledger
    read re-aggregates by (wave, lang), reconstructing the raw count
    as noisy_mu − noise (the noise is deterministic per cell) and
    summing — an identity when each wave landed as one micro-batch,
    and the correct whole-wave recount if a tape change ever splits a
    wave across micro-batches (partial rows differ in c, survive
    distinct(), and must be merged, not published twice). Per batch
    the work is one in-batch hash aggregate plus the noise projection
    — no state store, no stream-side shuffle beyond the per-wave
    agg."""
    from arcon_spark.functions.curation import _lap_noise_mu

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # NOTE: the cache key embeds this tape's COLUMN SET. stream_dsir_scores
    # caches a (doc_id, lang, text) tape under "docs3lang"; reusing that key
    # here with a 2-column tape poisoned its read schema with null text and
    # zeroed its output in full-registry runs (caught by the r5 closing
    # gate). Tape keys must be unique per (split, schema).
    cached = _SPLIT_TAPE_CACHE.get((sf_dir, "docs3_id_lang"))
    if cached is not None and os.path.isdir(cached[0]):
        root = cached[0]
    else:
        root = write_segments(
            [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
        )
        _SPLIT_TAPE_CACHE[(sf_dir, "docs3_id_lang")] = (root, None)
    work = scratch_dir("arcon_dpledger_")
    ledger_dir = os.path.join(work, "ledger")
    noise = _lap_noise_mu("'sdp:' || CAST(wave AS STRING) || ':' || lang", 1, "spark")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                (F.col("doc_id") % 3).alias("wave"), F.col("lang")
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .select(
                "wave",
                "lang",
                F.expr(f"c * 1000000 + ({noise})").alias("noisy_count_mu"),
                F.expr(
                    f"round(CAST(c * 1000000 + ({noise}) AS DOUBLE)"
                    " / 1000000.0, 6)"
                ).alias("noisy_count"),
                F.lit(1_000_000).cast("long").alias("epsilon_ppm"),
            )
            .write.mode("append")
            .parquet(ledger_dir)
        )

    src = read_segments(spark, root, "doc_id long, lang string")
    ckpt = os.path.join(work, "ckpt")
    _drain(spark, src.writeStream.foreachBatch(handle).option("checkpointLocation", ckpt))
    # merge any wave that spanned micro-batches: per (wave, lang),
    # strip the deterministic noise, sum the raw micro-counts, re-add
    # the noise once — identity for the one-file-per-wave tape, the
    # whole-wave recount otherwise
    ledger = spark.read.parquet(ledger_dir).distinct()
    return (
        ledger.groupBy("wave", "lang")
        .agg(F.sum(F.expr(f"noisy_count_mu - ({noise})")).alias("c_mu"))
        .select(
            "wave",
            "lang",
            F.expr(f"c_mu + ({noise})").alias("noisy_count_mu"),
            F.expr(
                f"round(CAST(c_mu + ({noise}) AS DOUBLE) / 1000000.0, 6)"
            ).alias("noisy_count"),
            F.lit(1_000_000).cast("long").alias("epsilon_ppm"),
        )
    )
