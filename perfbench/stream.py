"""The four stream pipelines the ``stream_stateful`` workload drains,
and the pandas reference each one is checked against.

All four read the same tape with ``maxFilesPerTrigger=1`` and a
``LATENESS_S`` watermark, and all four apply Spark's late-data rule:
an event at or behind the late-event watermark of its micro-batch is
dropped. For batch ``i`` that is the watermark the previous batch ran
with: the largest event time of batches ``< i - 1`` minus the lateness.
The tape's last segment carries one flush event far in the future, so
every real window closes and is emitted.

- ``windowed``: JVM tumbling-window count/sum per key (default state
  store, append mode).
- ``join``: stream-stream inner join of ``view`` and ``purchase``
  events on (k, v) with the purchase at most ``JOIN_S`` after the view.
- ``apipws``: the same windowed count/sum as an event-time-timer
  ``Operator`` run through ``arcon_spark.streaming.stateful.apply_operator``.
- ``tws``: that operator again as a native ``transformWithStateInPandas``
  processor with event-time timers on the RocksDB state store, wired
  the way ``arcon_spark.streaming.tws`` wires its processors.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.datagen import LATENESS_S  # the tape places its late events by it

WINDOW_S = 20
JOIN_S = 5
TAPE_SCHEMA = "k long, ts timestamp, v long, t string"
OUT_SCHEMA = "k long, w long, n long, s long"
PIPELINES = ("windowed", "join", "apipws", "tws")
_WIN_US = WINDOW_S * 1_000_000


def _us(col: pd.Series) -> pd.Series:
    """Microseconds since the epoch of a (naive UTC or tz-aware) column."""
    if getattr(col.dt, "tz", None) is not None:
        col = col.dt.tz_convert("UTC").dt.tz_localize(None)
    return (col - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)


def _window_operator():
    """Tumbling-window count/sum as an arcon_spark ``Operator``: one
    MapState entry and one timer per open window; the timer emits and
    clears the window once the watermark passes its end."""
    from arcon_spark.streaming.stateful import Operator

    class WindowCount(Operator):
        def handle_element(self, key, pdf, ctx):
            wins = ctx.map("wins")
            w = (_us(pdf["ts"]) // _WIN_US) * _WIN_US
            for start, grp in pdf.assign(w=w.values).groupby("w"):
                n, s = wins.get(int(start), (0, 0))
                if n == 0:
                    ctx.schedule_at((int(start) + _WIN_US) // 1000, int(start))
                wins.put(int(start), (n + len(grp), s + int(grp["v"].sum())))
            return None

        def handle_timeout(self, key, time_ms, payload, ctx):
            n, s = ctx.map("wins").remove(payload)
            return [{"k": int(key[0]), "w": payload, "n": n, "s": s}]

    return WindowCount()


def _window_processor():
    """The same operator on the native transformWithState API."""
    from pyspark.sql.streaming import StatefulProcessor

    class WindowCountTws(StatefulProcessor):
        def init(self, handle) -> None:
            self.handle = handle
            self.wins = handle.getMapState("wins", "w long", "n long, s long")

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                w = (_us(pdf["ts"]) // _WIN_US) * _WIN_US
                for start, grp in pdf.assign(w=w.values).groupby("w"):
                    start = int(start)
                    if self.wins.containsKey((start,)):
                        n, s = self.wins.getValue((start,))
                    else:
                        n, s = 0, 0
                        self.handle.registerTimer((start + _WIN_US) // 1000)
                    self.wins.updateValue((start,), (n + len(grp), s + int(grp["v"].sum())))
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            start = expiredTimerInfo.getExpiryTimeInMs() * 1000 - _WIN_US
            n, s = self.wins.getValue((start,))
            self.wins.removeKey((start,))
            yield pd.DataFrame({"k": [int(key[0])], "w": [start], "n": [n], "s": [s]})

        def close(self) -> None:
            pass

    return WindowCountTws()


def build(spark, name: str, tape_dir: str):
    """The streaming DataFrame of pipeline ``name`` over ``tape_dir``,
    with its output columns."""
    from pyspark.sql import functions as F

    from arcon_spark.streaming.stateful import apply_operator

    def source():
        return spark.readStream.schema(TAPE_SCHEMA).option("maxFilesPerTrigger", 1).parquet(tape_dir)

    lateness = f"{LATENESS_S} seconds"
    if name == "windowed":
        return (
            source()
            .withWatermark("ts", lateness)
            .groupBy(F.window("ts", f"{WINDOW_S} seconds"), "k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .select("k", F.unix_micros(F.col("window.start")).alias("w"), "n", "s")
        )
    if name == "join":
        views = source().where("t = 'view'").select("k", "v", F.col("ts").alias("lts")).withWatermark("lts", lateness)
        buys = (
            source()
            .where("t = 'purchase'")
            .select(F.col("k").alias("rk"), F.col("v").alias("rv"), F.col("ts").alias("rts"))
            .withWatermark("rts", lateness)
        )
        cond = F.expr(f"k = rk AND v = rv AND rts >= lts AND rts <= lts + interval {JOIN_S} seconds")
        return views.join(buys, cond, "inner").select(
            "k", "v", F.unix_micros("lts").alias("lts"), F.unix_micros("rts").alias("rts")
        )
    if name == "apipws":
        return apply_operator(
            source().select("k", "ts", "v"), ["k"], _window_operator(), OUT_SCHEMA, ts_col="ts", late_arrival=lateness
        )
    if name == "tws":
        return (
            source()
            .select("k", "ts", "v")
            .withWatermark("ts", lateness)
            .groupBy("k")
            .transformWithStateInPandas(_window_processor(), OUT_SCHEMA, "Append", "EventTime")
        )
    raise KeyError(name)


def _kept_events(paths: list[str]) -> pd.DataFrame:
    """Tape events that survive the watermark, with the flush event."""
    frames = []
    seg_max: list[int] = []
    for i, p in enumerate(paths):
        table = pq.read_table(p)
        ts = table["ts"].cast(pa.int64()).to_numpy()  # µs
        pdf = table.drop(["ts"]).to_pandas().assign(ts_us=ts)
        if i >= 2:
            wm = max(seg_max[: i - 1]) - LATENESS_S * 1_000_000
            pdf = pdf[pdf["ts_us"] > wm]
        frames.append(pdf)
        seg_max.append(int(ts.max()))
    return pd.concat(frames, ignore_index=True)


def _window_reference(ev: pd.DataFrame) -> list[tuple]:
    ev = ev[ev["t"] != "flush"]
    w = (ev["ts_us"] // _WIN_US) * _WIN_US
    g = ev.assign(w=w).groupby(["k", "w"]).agg(n=("v", "size"), s=("v", "sum")).reset_index()
    return sorted(map(tuple, g[["k", "w", "n", "s"]].astype("int64").values.tolist()))


def _join_reference(ev: pd.DataFrame) -> list[tuple]:
    views = ev[ev["t"] == "view"][["k", "v", "ts_us"]].rename(columns={"ts_us": "lts"})
    buys = ev[ev["t"] == "purchase"][["k", "v", "ts_us"]].rename(columns={"ts_us": "rts"})
    j = views.merge(buys, on=["k", "v"])
    j = j[(j["rts"] >= j["lts"]) & (j["rts"] <= j["lts"] + JOIN_S * 1_000_000)]
    return sorted(map(tuple, j[["k", "v", "lts", "rts"]].astype("int64").values.tolist()))


def references(paths: list[str]) -> dict[str, list[tuple]]:
    """Expected sorted output rows of each pipeline over the tape."""
    ev = _kept_events(paths)
    win = _window_reference(ev)
    return {"windowed": win, "join": _join_reference(ev), "apipws": win, "tws": win}


def output_rows(rows, name: str) -> list[tuple]:
    """Spark output rows in the reference's column order, sorted."""
    cols = ("k", "v", "lts", "rts") if name == "join" else ("k", "w", "n", "s")
    return sorted(tuple(int(r[c]) for c in cols) for r in rows)
