"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given scale factor, then compares row count, sorted column names, and
order-insensitive values (exact equality; floats reported with the
max absolute delta when they mismatch so near-misses are visible).
The comparison is `compare()`; tests/test_registry.py asserts it for
every query at sf0.001, so this tool is for sf0.01 and sf0.1 runs.

Usage: python tools/check_parity.py [--jobs N] [sf_dir] [query ...]

--jobs N (default 1) runs BATCH queries through a thread pool of N
workers sharing the SparkSession (Spark schedules concurrent jobs
fine; each worker gets its own DuckDB cursor). Streaming queries
(`stream_*`) always run serially after the batch set — they mutate
session-level conf (shuffle partitions, state-store provider) and
drive their own micro-batch lifecycles, which must not interleave.
Parallel mode also skips the per-query clearCache (cache hygiene
traded for wall time); the serial default exactly matches the
driver's behavior.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arcon_spark.io import TABLES
from arcon_spark.session import get_spark


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def compare(name, spark_cols, spark_rows, duck_cols, duck_rows):
    """Order-insensitive comparison of one query's Spark result with its
    oracle's; returns (category, message), category 'pass' | 'fail'."""
    sc, sr = _norm_rows(spark_cols, spark_rows)
    dc, dr = _norm_rows(duck_cols, duck_rows)
    if sc != dc:
        return "fail", f"FAIL  {name}: schema mismatch spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return "fail", f"FAIL  {name}: rowcount spark={len(sr)} duckdb={len(dr)}"
    if sr == dr:
        return "pass", f"OK    {name}: {len(sr)} rows"
    # diagnose float near-misses
    max_delta = 0.0
    n_diff = 0
    first = ""
    for a, b in zip(sr, dr):
        if a != b:
            if not first:
                first = f"\n      spark : {a}\n      duckdb: {b}"
            n_diff += 1
            for x, y in zip(a, b):
                if isinstance(x, float) and isinstance(y, float):
                    max_delta = max(max_delta, abs(x - y))
    return (
        "fail",
        f"FAIL  {name}: {n_diff}/{len(sr)} differing rows,"
        f" max float delta {max_delta:.3e}{first}",
    )


def _check_one(spark, cursor, spec, sf_dir: str, clear_cache: bool):
    """Run one query + oracle and compare them; returns (category,
    message) where category is 'pass' | 'fail' | 'rows'."""
    name = spec.name
    if clear_cache:
        spark.catalog.clearCache()  # no cross-query cached-block buildup
    t0 = time.time()
    try:
        sdf = spec.fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return "fail", f"FAIL  {name}: spark error: {e}"
    if spec.oracle is None:
        return (
            "rows",
            f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]",
        )
    try:
        rel = cursor.sql(spec.oracle)
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
    except Exception as e:
        return "fail", f"FAIL  {name}: duckdb error: {str(e)[:200]}"
    cat, msg = compare(name, scols, srows, dcols, drows)
    if cat == "pass":
        msg += f" [{time.time()-t0:.1f}s]"
    return cat, msg


def main() -> int:
    args = sys.argv[1:]
    jobs = 1
    if "--jobs" in args:
        i = args.index("--jobs")
        jobs = max(1, int(args[i + 1]))
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from arcon_spark.plans.registry import REGISTRY, queries

    qmap = queries()
    spark = get_spark("parity_check")
    con = duckdb.connect()
    # Bound the oracle engine so one heavy query degrades to ITS OWN
    # error instead of taking the host down: 24 GB RAM (the box also
    # runs the Spark JVM), 30 GiB of spill (two full-registry sf0.1
    # sweeps died this round when unbounded DuckDB temp filled the
    # disk and failed unrelated queries), 8 threads (leave CPUs for
    # the Spark side of the same comparison).
    con.sql("SET memory_limit='24GB'")
    con.sql("SET max_temp_directory_size='30GiB'")
    con.sql("SET threads=8")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = [n for n in sorted(qmap) if not only or n in only]
    batch = [n for n in names if not n.startswith("stream_")]
    streaming = [n for n in names if n.startswith("stream_")]

    counts = {"pass": 0, "fail": 0, "rows": 0}

    def record(cat: str, msg: str) -> None:
        counts[cat] += 1
        print(msg, flush=True)

    if jobs > 1 and len(batch) > 1:
        from concurrent.futures import ThreadPoolExecutor

        def worker(name):
            # one DuckDB cursor per task: cursors share the views but
            # are individually thread-safe; Spark schedules the
            # concurrent jobs itself
            return _check_one(
                spark, con.cursor(), REGISTRY[name], sf_dir, clear_cache=False
            )

        done = 0
        with ThreadPoolExecutor(max_workers=jobs) as pool:
            for cat, msg in pool.map(worker, batch):
                record(cat, msg)
                done += 1
                # several queries persist() without unpersist — over a
                # full-registry run hundreds of cached RDDs accumulate
                # and the memory pressure destabilizes exactly the runs
                # --jobs was meant to speed up. Dropping the whole
                # cache periodically is safe: concurrent queries just
                # recompute (correctness unaffected).
                if done % 40 == 0:
                    spark.catalog.clearCache()
        spark.catalog.clearCache()
    else:
        for name in batch:
            cat, msg = _check_one(spark, con, REGISTRY[name], sf_dir, True)
            record(cat, msg)

    for name in streaming:  # always serial: conf-mutating lifecycles
        cat, msg = _check_one(spark, con, REGISTRY[name], sf_dir, True)
        record(cat, msg)

    print(f"\n{counts['pass']} pass, {counts['fail']} fail, {counts['rows']} rows-only")
    return 1 if counts["fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
