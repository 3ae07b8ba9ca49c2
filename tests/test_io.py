"""io.load_table learns each table file's schema once: a later read
declares it, runs no Spark job, and returns what an inferring read
returns. Every test writes its own table files, so the process-wide
schema cache has not seen them."""

from __future__ import annotations

import datetime as dt
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from arcon_spark.io import load_table


def _build(spark, group: str, sf_dir: str, name: str):
    """load_table under its own job group; the group is cleared after."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_second_load_runs_no_job(spark, sf_dir, tmp_path):
    shutil.copyfile(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    first = _build(spark, f"io-first-{tmp_path.name}", str(tmp_path), "orders")
    second = _build(spark, f"io-second-{tmp_path.name}", str(tmp_path), "orders")
    assert second.dtypes == first.dtypes
    assert _rows(second) == _rows(first)
    # counted after the collects, so the status store has seen every
    # job the two builds submitted
    assert _jobs(spark, f"io-first-{tmp_path.name}") == 1
    assert _jobs(spark, f"io-second-{tmp_path.name}") == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert _rows(df) == [(0, "AFRICA"), (1, "ASIA")]


def test_events_ts_paths_match_the_inferring_read(spark, tmp_path):
    """Both physical ts types the datasets use: TIMESTAMP(NANOS), read
    as int64 nanos and floored to µs, and tz-naive timestamp[us]."""
    stamps = [dt.datetime(2024, 1, 1, 0, 0, 0, 1), dt.datetime(2024, 3, 9, 12, 30, 5, 999999)]
    for unit in ("ns", "us"):
        sf_dir = tmp_path / unit
        sf_dir.mkdir()
        ts = pa.array(stamps, pa.timestamp("us")).cast(pa.timestamp(unit))
        pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), sf_dir / "events.parquet")
        first = load_table(spark, str(sf_dir), "events")
        cached = load_table(spark, str(sf_dir), "events")
        assert first.dtypes == cached.dtypes == [("event_id", "bigint"), ("ts", "timestamp")], unit
        assert _rows(cached) == _rows(first), unit
        micros = [(i + 1, (s - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)) for i, s in enumerate(stamps)]
        assert _rows(cached.selectExpr("event_id", "unix_micros(ts)")) == micros, unit
