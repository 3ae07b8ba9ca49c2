"""Fluent Stream API — the reference's dataflow surface on Structured
Streaming.

Reference surface being re-expressed (SURVEY.md §2.1-2.5, §3.2):

- ``collection.to_stream(|conf| ...)``  (arcon/src/dataflow/source/mod.rs:57-72)
- ``ArconTime::{Event, Process}`` + ``set_timestamp_extractor``
  (arcon/src/dataflow/conf.rs:83-122, arcon/src/stream/time/mod.rs:1-11)
- ``filter / map / flat_map``            (arcon/src/dataflow/stream/{filter,map}.rs)
- ``key_by``                             (arcon/src/dataflow/stream/partition.rs:28-54)
- ``window(Assigner::{Tumbling,Sliding})`` with ``late_arrival`` grace
  (arcon/src/stream/operator/window/assigner.rs:61-229,
   arcon/src/dataflow/builder.rs:121-133)
- sinks ``print/ignore/debug/measure``   (arcon/src/dataflow/sink/mod.rs:90-127)

Semantics mapping:
- The reference drops an element when ``ts <= sender_watermark``
  (node/mod.rs:294-305) and a window element when
  ``ts < watermark - late_arrival`` (assigner.rs:160-165). Spark's
  ``withWatermark(ts, late_arrival)`` + append-mode windowed agg gives
  the identical observable behavior: a window fires once the watermark
  (max seen ts - delay) passes its end, and older elements are dropped.
- The reference asserts ``length % slide == 0`` (assigner.rs:93-108);
  we keep that contract in Sliding.__post_init__.
- ``Death`` marker → ``query.stop()``; epochs → micro-batches (no user
  marker needed) — SURVEY §1.2.

The Stream wraps a (possibly streaming) DataFrame; transformations are
plain DataFrame ops, so Catalyst/AQE owns the physical plan on both the
batch and streaming paths.
"""

from __future__ import annotations

from arcon_spark.scratch import scratch_dir

from collections.abc import Callable, Iterable
from dataclasses import dataclass
from enum import Enum
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from arcon_spark.streaming.tape import drain


class ArconTime(Enum):
    """Event vs processing time (reference arcon/src/stream/time/mod.rs)."""

    EVENT = "event"
    PROCESS = "process"


@dataclass(frozen=True)
class Tumbling:
    """Tumbling event-time window (assigner.rs Assigner::Tumbling)."""

    length: str  # e.g. "10 seconds"
    late_arrival: str = "0 seconds"


@dataclass(frozen=True)
class Sliding:
    """Sliding window; length must be a multiple of slide
    (assigner.rs asserts length % slide == 0 at :93-108)."""

    length: str
    slide: str
    late_arrival: str = "0 seconds"

    def __post_init__(self) -> None:
        if _dur_us(self.length) % _dur_us(self.slide) != 0:
            raise ValueError(
                f"length {self.length} must be a multiple of slide {self.slide} "
                "(reference assigner.rs window_length % slide == 0)"
            )


@dataclass(frozen=True)
class Session:
    """Session window (gap-merged) — beyond-reference (SURVEY §2.4
    'Not implemented' in arcon); native in Spark."""

    gap: str
    late_arrival: str = "0 seconds"


def _dur_us(s: str) -> int:
    """Duration string → integer microseconds (float seconds would make
    divisibility checks fail on ms-granularity configs: 1.0 % 0.1 ≠ 0).
    Fractional counts like '1.5 seconds' are accepted when they resolve
    to whole microseconds; a sub-microsecond remainder is rejected with
    a clear error rather than a bare int() ValueError."""
    from fractions import Fraction

    n, unit = s.split()
    mult = {
        "microsecond": 1,
        "millisecond": 1_000,
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
    }[unit.rstrip("s")]
    us = Fraction(n) * mult
    if us.denominator != 1:
        raise ValueError(f"duration {s!r} is not a whole number of microseconds")
    return int(us)


@dataclass(frozen=True)
class Cumulate:
    """CUMULATE window (Flink's third windowing TVF; absent from both
    Spark and the reference): growing windows [H, H+step·j) within
    each `period`, emitting early partials of the eventual tumbling
    total. period must be a multiple of step. Implemented
    append-compatible: each element fans out to the windows containing
    it, re-stamped at win_end − 1µs, so a step-sized tumbling window
    over the re-stamp fires exactly when each cumulate window closes
    (Flink's emission semantics)."""

    period: str
    step: str
    late_arrival: str = "0 seconds"

    def __post_init__(self) -> None:
        if _dur_us(self.period) % _dur_us(self.step) != 0:
            raise ValueError(
                f"period {self.period} must be a multiple of step {self.step}"
            )

    @property
    def n_steps(self) -> int:
        return _dur_us(self.period) // _dur_us(self.step)


class Stream:
    """A (streaming or batch) DataFrame with event-time + key context.

    Mirrors the reference's ``Stream<T>`` fluent builder
    (arcon/src/dataflow/stream/mod.rs): each combinator returns a new
    Stream; nothing executes until a sink call (lazy, like the DFG
    build — SURVEY §3.2 — except Catalyst is the planner)."""

    def __init__(
        self,
        df: DataFrame,
        ts_col: str | None = None,
        keys: tuple[str, ...] = (),
        time: ArconTime = ArconTime.EVENT,
    ) -> None:
        self.df = df
        self.ts_col = ts_col
        self.keys = keys
        self.time = time

    # -- sources ----------------------------------------------------------

    @staticmethod
    def from_collection(
        spark: SparkSession,
        rows: Iterable[Any],
        schema: StructType | str,
        ts_col: str | None = None,
        streaming: bool = True,
        dir: str | None = None,
    ) -> "Stream":
        """Iterator source (reference dataflow/source/mod.rs:57-72).

        For streaming=True the rows are staged as a parquet file and
        read back with readStream — the MemoryStream idiom the driver's
        micro-batch engine replays exactly once (SURVEY §2.1)."""
        from arcon_spark.io import local_df

        batch = local_df(spark, rows, schema)
        if not streaming:
            return Stream(batch, ts_col=ts_col)
        out = dir or scratch_dir("arcon_stream_src_")
        batch.coalesce(1).write.mode("append").parquet(out)
        sdf = spark.readStream.schema(batch.schema).parquet(out)
        return Stream(sdf, ts_col=ts_col)

    @staticmethod
    def from_file(
        spark: SparkSession,
        path: str,
        fmt: str = "text",
        schema: StructType | str | None = None,
        ts_col: str | None = None,
        **options: str,
    ) -> "Stream":
        """LocalFileSource (reference stream/source/local_file.rs:17-62):
        line-by-line text (FromStr parse ≅ downstream .map) or any
        structured reader."""
        reader = spark.readStream
        if schema is not None:
            reader = reader.schema(schema)
        sdf = reader.options(**options).format(fmt).load(path)
        return Stream(sdf, ts_col=ts_col)

    @staticmethod
    def from_kafka(
        spark: SparkSession,
        bootstrap_servers: str,
        topic: str,
        ts_col: str | None = None,
        **options: str,
    ) -> "Stream":
        """KafkaSource (reference stream/source/kafka.rs:29-189).
        Offset tracking / replay / exactly-once — which the reference
        hand-rolls in operator state (kafka.rs:130-137) — is the
        checkpoint's job here. Requires the Kafka connector jar on the
        classpath; untestable in this container but the option surface
        is complete."""
        sdf = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .options(**options)
            .load()
        )
        return Stream(sdf, ts_col=ts_col)

    @staticmethod
    def from_socket(spark: SparkSession, host: str, port: int) -> "Stream":
        """SocketSource (reference stream/source/socket.rs — dead code
        there, first-class here)."""
        sdf = (
            spark.readStream.format("socket")
            .option("host", host)
            .option("port", str(port))
            .load()
        )
        return Stream(sdf)

    @staticmethod
    def from_rate(spark: SparkSession, rows_per_second: int = 1000) -> "Stream":
        sdf = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(rows_per_second))
            .load()
        )
        return Stream(sdf, ts_col="timestamp")

    # -- time -------------------------------------------------------------

    def with_timestamp_extractor(self, col: Column | str) -> "Stream":
        """set_timestamp_extractor (reference dataflow/conf.rs:83-122):
        declares which column carries event time. Raw u64 epoch-millis
        (the reference's representation) are cast to TimestampType."""
        c = F.col(col) if isinstance(col, str) else col
        df = self.df.withColumn("__arcon_ts", c)
        if dict(df.dtypes)["__arcon_ts"] == "bigint":
            df = df.withColumn("__arcon_ts", F.timestamp_millis(F.col("__arcon_ts")))
        return Stream(df, ts_col="__arcon_ts", keys=self.keys, time=ArconTime.EVENT)

    def with_processing_time(self) -> "Stream":
        """ArconTime::Process — stamp arrival time
        (reference stream/node/source.rs:113-127)."""
        df = self.df.withColumn("__arcon_ts", F.current_timestamp())
        return Stream(df, ts_col="__arcon_ts", keys=self.keys, time=ArconTime.PROCESS)

    # -- stateless transforms (reference §2.2) ------------------------------

    def filter(self, predicate: Column | str) -> "Stream":
        """Filter (reference operator/function/filter.rs)."""
        return self._same(self.df.filter(predicate))

    def map(self, *cols: Column | str, **named: Column) -> "Stream":
        """Map (reference operator/function/map.rs): 1→1 projection.
        Accepts columns plus name=expr pairs. The reference's
        MapInPlace (map_in_place.rs) is the same thing — the alloc
        optimization is meaningless under Tungsten."""
        selected = [F.col(c) if isinstance(c, str) else c for c in cols]
        selected += [c.alias(n) for n, c in named.items()]
        str_cols = {c for c in cols if isinstance(c, str)}
        if self.ts_col and self.ts_col not in str_cols and self.ts_col not in named:
            selected.append(F.col(self.ts_col))
        return self._same(self.df.select(*selected))

    def flat_map(self, col: Column | str, alias: str = "value") -> "Stream":
        """FlatMap (reference operator/function/flatmap.rs): 1→N via
        explode of an array expression. Output rows inherit the input's
        timestamp (flatmap.rs:80-86) — carried automatically because
        explode preserves sibling columns."""
        c = F.col(col) if isinstance(col, str) else col
        keep = [x for x in self.df.columns if self.ts_col is None or x == self.ts_col]
        return self._same(self.df.select(*keep, F.explode(c).alias(alias)))

    def map_with_pandas(self, fn, schema: StructType | str) -> "Stream":
        """Arbitrary-Python Map — the escape hatch matching the
        reference's opaque Rust closures, Arrow-batched (mapInPandas),
        never row-at-a-time."""
        return self._same(self.df.mapInPandas(fn, schema))

    # -- partitioning (reference §2.3) --------------------------------------

    def key_by(self, *cols: str) -> "Stream":
        """key_by (reference dataflow/stream/partition.rs:28-54): marks
        the stream keyed. The reference hashes to a u64 and range-shards
        over 65535 keys (data/partition.rs:33-37); Spark's hash
        partitioner replaces that outright — groupBy on these columns
        is the shuffle."""
        for c in cols:
            if dict(self.df.dtypes).get(c) in ("float", "double"):
                # reference truncates floats for hashing (data/mod.rs:304-325);
                # we forbid float keys instead (SURVEY §7 'What's hard' #4)
                raise TypeError(f"float column {c!r} cannot be a key")
        return Stream(self.df, ts_col=self.ts_col, keys=cols, time=self.time)

    def repartition(self, n: int) -> "Stream":
        """RoundRobin channel (reference dfg.rs:133-134, unimplemented
        there)."""
        return self._same(self.df.repartition(n))

    # -- custom operators (reference §2.2 Operator, §2.4 timers) ------------

    def operator(
        self,
        op,
        output_schema: StructType | str,
        late_arrival: str = "0 seconds",
    ) -> "Stream":
        """Custom stateful Operator with per-key state + event-time
        timers (reference dataflow/stream/operator.rs:39-81 /
        builder.rs:27-54) on the applyInPandasWithState engine path.
        Requires key_by() first; with a timestamp extractor the
        operator gets event-time timers, without one it runs
        timerless."""
        from arcon_spark.streaming.stateful import apply_operator

        if not self.keys:
            raise ValueError("operator() requires key_by() first (keyed stream)")
        out = apply_operator(
            self.df,
            list(self.keys),
            op,
            output_schema,
            ts_col=self.ts_col,
            late_arrival=late_arrival,
        )
        return Stream(out, ts_col=None, keys=self.keys, time=self.time)

    def operator_tws(
        self,
        processor,
        output_schema: StructType | str,
        time_mode: str = "None",
        output_mode: str = "Append",
    ) -> "Stream":
        """The same custom-operator slot on Spark 4's NATIVE
        transformWithStateInPandas (typed ValueState/ListState/MapState
        + native timers; protobuf state protocol via the vendored
        runtime, arcon_spark/protoshim). `processor` is a
        pyspark.sql.streaming.StatefulProcessor. Requires key_by()
        first and the RocksDB state store provider
        (streaming.tws.ROCKSDB_PROVIDER) set on the session before the
        query starts; time_mode "EventTime" additionally needs a
        watermark on the source (with_timestamp_extractor + a
        withWatermark upstream)."""
        if not self.keys:
            raise ValueError("operator_tws() requires key_by() first (keyed stream)")
        from arcon_spark.protoshim import ensure_protobuf_on_session

        ensure_protobuf_on_session(self.df.sparkSession)
        out = self.df.groupBy(*self.keys).transformWithStateInPandas(
            processor, output_schema, output_mode, time_mode
        )
        return Stream(out, ts_col=None, keys=self.keys, time=self.time)

    # -- windows (reference §2.4) -------------------------------------------

    def window(self, assigner: Tumbling | Sliding | Session | Cumulate) -> "WindowedStream":
        if self.ts_col is None:
            raise ValueError("window() requires a timestamp extractor (event time)")
        return WindowedStream(self, assigner)

    # -- sinks (reference §2.5) ---------------------------------------------

    def to_debug(self, name: str, trigger_once: bool = True) -> StreamingQuery:
        """DebugNode sink (reference stream/node/debug.rs): accumulate
        outputs for test inspection — memory sink + queryName, read back
        with spark.table(name)."""
        return (
            self.df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def to_debug_capture(self, name: str) -> "DebugCapture":
        """Full DebugNode parity (reference stream/node/debug.rs
        accumulates `data`, `watermarks`, AND `epochs`): memory sink
        for the data plus per-batch watermark/epoch capture from the
        query progress. Call .run() to drain, then inspect."""
        return DebugCapture(self, name)

    def to_console(self) -> StreamingQuery:
        """.print() (reference dataflow/sink/mod.rs:91-97)."""
        return self.df.writeStream.format("console").start()

    def to_ignore(self) -> StreamingQuery:
        """.ignore() (reference dataflow/sink/mod.rs:105-111)."""
        return self.df.writeStream.format("noop").start()

    def to_file(self, path: str, fmt: str = "parquet", checkpoint: str | None = None) -> StreamingQuery:
        """LocalFileSink (reference operator/sink/local_file.rs), but a
        real exactly-once file sink: checkpointed, atomic per batch."""
        cp = checkpoint or scratch_dir("arcon_ckpt_")
        return (
            self.df.writeStream.format(fmt)
            .option("path", path)
            .option("checkpointLocation", cp)
            .start()
        )

    def to_kafka(
        self,
        bootstrap_servers: str,
        topic: str,
        checkpoint: str | None = None,
        **options: str,
    ) -> StreamingQuery:
        """KafkaSink (reference operator/sink/kafka.rs:15-94 — stale
        code there, never in the compile path). The reference buffers
        and commits on epoch; here the checkpoint provides the same
        batch-commit semantics. Expects a `value` column (cast or
        to_json upstream); requires the Kafka connector jar."""
        cp = checkpoint or scratch_dir("arcon_ckpt_")
        return (
            self.df.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", cp)
            .options(**options)
            .start()
        )

    def to_socket(self, host: str, port: int) -> StreamingQuery:
        """SocketSink (reference operator/sink/socket.rs:21-112: UDP +
        JSON per record). TCP here (reliable, testable); each row is
        JSON-serialized and newline-delimited via a foreach writer —
        one connection per partition, opened lazily per batch."""

        def send_partition(rows) -> None:
            import json as _json
            import socket as _socket

            conn = _socket.create_connection((host, port), timeout=10)
            try:
                for row in rows:
                    conn.sendall(
                        (_json.dumps(row.asDict(), default=str) + "\n").encode()
                    )
            finally:
                conn.close()

        return self.df.writeStream.foreachBatch(
            lambda batch_df, _id: batch_df.foreachPartition(send_partition)
        ).start()

    def to_socket_udp(self, host: str, port: int) -> StreamingQuery:
        """SocketSink, wire-faithful variant: the reference's sink is
        UDP with one JSON-serialized datagram per record (operator/
        sink/socket.rs:35-76 — `SocketSink::udp`, `serde_json::
        to_string` per element, one `send_to` per record; fire-and-
        forget, no framing, no delivery guarantee). to_socket() above
        is the reliable TCP/JSON-lines lane this repo prefers; this
        method exists for strict parity with the reference's (dead-
        code) UDP semantics. One OS-allocated sending socket per
        partition, matching its 0.0.0.0:0 bind."""

        def send_partition(rows) -> None:
            import json as _json
            import socket as _socket

            sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
            try:
                for row in rows:
                    sock.sendto(
                        _json.dumps(row.asDict(), default=str).encode(),
                        (host, port),
                    )
            finally:
                sock.close()

        return self.df.writeStream.foreachBatch(
            lambda batch_df, _id: batch_df.foreachPartition(send_partition)
        ).start()

    def measure(self) -> "tuple[StreamingQuery, object]":
        """.measure() (reference dataflow/sink/mod.rs:112-126): run the
        stream into a noop sink with a MeasureListener attached;
        returns (query, listener) — listener.rates is the events/sec
        series the reference's MeasureSink logs."""
        from arcon_spark.streaming.measure import MeasureListener

        listener = MeasureListener()
        self.df.sparkSession.streams.addListener(listener)
        q = self.df.writeStream.format("noop").start()
        return q, listener

    def for_each_batch(self, fn: Callable[[DataFrame, int], None], checkpoint: str | None = None) -> StreamingQuery:
        """Epoch hook: fn(batch_df, epoch_id) per micro-batch — the
        user-visible equivalent of the reference's epoch callback
        (manager/epoch.rs), used by SnapshotCatalog."""
        cp = checkpoint or scratch_dir("arcon_ckpt_")
        return (
            self.df.writeStream.foreachBatch(fn)
            .option("checkpointLocation", cp)
            .start()
        )

    # -- internals ---------------------------------------------------------

    def _same(self, df: DataFrame) -> "Stream":
        return Stream(df, ts_col=self.ts_col, keys=self.keys, time=self.time)


class DebugCapture:
    """The reference's DebugNode (stream/node/debug.rs) for tests:
    after run(), `data` is the accumulated output DataFrame,
    `watermarks` the per-batch event-time watermark sequence, and
    `epochs` the committed batch ids (micro-batch ≅ epoch)."""

    def __init__(self, stream: Stream, name: str) -> None:
        self._stream = stream
        self.name = name
        self.watermarks: list[str] = []
        self.epochs: list[int] = []

    def run(self) -> "DebugCapture":
        q = drain(
            self._stream.df.writeStream.format("memory")
            .queryName(self.name)
            .outputMode("append")
        )
        for p in q.recentProgress:
            self.epochs.append(p["batchId"])
            wm = (p.get("eventTime") or {}).get("watermark")
            if wm is not None:
                self.watermarks.append(wm)
        return self

    @property
    def data(self) -> DataFrame:
        return self._stream.df.sparkSession.table(self.name)


class WindowedStream:
    """groupBy(window, keys) builder mirroring the WindowAssigner
    (assigner.rs): late elements beyond the grace are dropped, one
    result per (key, window) fires when the watermark passes
    window_end + late_arrival."""

    def __init__(self, stream: Stream, assigner: Tumbling | Sliding | Session) -> None:
        self.stream = stream
        self.assigner = assigner

    def agg(self, *aggs: Column) -> Stream:
        s = self.stream
        a = self.assigner
        if isinstance(a, Cumulate):
            return self._agg_cumulate(a, aggs)
        df = s.df.withWatermark(s.ts_col, a.late_arrival)
        if isinstance(a, Tumbling):
            win = F.window(s.ts_col, a.length)
        elif isinstance(a, Sliding):
            win = F.window(s.ts_col, a.length, a.slide)
        else:
            win = F.session_window(s.ts_col, a.gap)
        grouped = df.groupBy(win.alias("win"), *[F.col(k) for k in s.keys])
        agg_df = grouped.agg(*aggs)
        agg_cols = agg_df.columns[1 + len(s.keys):]
        out = agg_df.select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *[F.col(k) for k in s.keys],
            *[F.col(c) for c in agg_cols],
        )
        return Stream(out, ts_col=None, keys=s.keys, time=s.time)

    def _agg_cumulate(self, a: Cumulate, aggs: tuple[Column, ...]) -> Stream:
        """CUMULATE via exact fan-out + step-tumbling re-window: each
        element explodes only to the cumulate windows containing it,
        re-stamped at win_end − 1µs; a step-length tumbling window over
        the re-stamp then closes exactly when each cumulate window
        does, keeping the query APPEND-mode compatible (window-grouped
        state with watermark eviction)."""
        s = self.stream
        step_us = _dur_us(a.step)
        fanned = (
            s.df.withColumn("__cum_start", F.window(F.col(s.ts_col), a.period).start)
            .withColumn(
                "__cum_j",
                F.explode(
                    F.expr(
                        f"sequence(cast((unix_micros({s.ts_col}) - unix_micros(__cum_start))"
                        f" div {step_us} + 1 as int), {a.n_steps})"
                    )
                ),
            )
            .withColumn("__cum_end", F.expr(f"__cum_start + __cum_j * INTERVAL {a.step}"))
            .withColumn("__cum_ts", F.expr("__cum_end - INTERVAL 1 MICROSECOND"))
        )
        grouped = fanned.withWatermark("__cum_ts", a.late_arrival).groupBy(
            F.window("__cum_ts", a.step).alias("__w"),
            F.col("__cum_start"),
            *[F.col(k) for k in s.keys],
        )
        agg_df = grouped.agg(*aggs)
        agg_cols = agg_df.columns[2 + len(s.keys):]
        out = agg_df.select(
            F.col("__cum_start").alias("win_start"),
            F.col("__w.end").alias("win_end"),
            *[F.col(k) for k in s.keys],
            *[F.col(c) for c in agg_cols],
        )
        return Stream(out, ts_col=None, keys=s.keys, time=s.time)
