"""Workloads, set-up, correctness checks and metric assembly.

Every workload runs in this one process against Spark ``local[cpus]``:

1. stamps (``nproc``, steal ticks, the anchor loop) from ``bench.py``;
2. the set-up: ``get_spark``, which launches the JVM with the program's
   own defaults, plus a warm pass that runs every query (or drains the
   tape through every pipeline) once and checks its output;
3. the workload itself, closed loop: the number of timed passes that
   ``--seconds`` buys, each checked too on the stream workload (and, on
   a traced run of the stream workload, the fixed-rate open-loop phase);
4. stamps again, then the JVM and its Python workers are stopped and
   waited for.

With ``--trace 1`` the same run also records spans around every call
into the program and reads Spark's status tracker and streaming
progress; those give the per-layer metrics.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import pickle
import random
import shutil
import subprocess
import threading
import time
from collections import defaultdict

from perfbench import datagen, openloop, stream
from perfbench.trace import Tracer, geomean, median, percentile, self_times, tail_percentile

DATA_SEED = 20240101  # the batch tables are fixed; the run seed orders the queries
TABLE_SCALE = 0.1
DOC_SCALE = 0.02
TAPE = datagen.TapeSpec(segments=3, events_per_segment=5_000, keys=64)
WARM_TAPE = datagen.TapeSpec(segments=1, events_per_segment=500, keys=64)

# the batch workload's two query groups
GROUPS: dict[str, tuple[str, ...]] = {
    # JVM-only: scan, shuffle and JVM operators do the work
    "relational": (
        "tpch_q3",
        "tumbling_window_agg",
        "asof_join_nearest",
        "funnel_conversion",
        "cdc_merge_customer",
    ),
    # the Python/Arrow boundary, codecs and driver-side eager jobs
    "corpus": (
        "dedup_minhash_lsh_pairs",
        "cogroup_activity_order_merge",
        "source_protobuf_roundtrip",
        "arrow_ipc_roundtrip",
    ),
}

WORKLOADS: dict[str, tuple[str, ...]] = {
    "batch": GROUPS["relational"] + GROUPS["corpus"],
    "stream_stateful": stream.PIPELINES,
}

# Nominal seconds of one timed pass on a 4-core host. ``--seconds`` buys
# seconds / PASS_S whole passes (at least one). The count is fixed rather
# than "until the time is up" because passes keep getting faster while
# the JIT warms: a run that happens to fit one more pass would report a
# faster figure.
PASS_S = {"batch": 8.0, "stream_stateful": 20.0}


def timed_passes(args) -> int:
    return max(1, int(args.seconds / PASS_S[args.workload] + 0.5))


# the tables the batch queries read
TABLES_READ = ("lineitem", "orders", "customer", "events", "documents", "embeddings")

# module-level layers reported on every workload (0 where unused)
MODULES = (
    "operators.relational",
    "operators.temporal",
    "operators.windows",
    "operators.analytics",
    "operators.maintenance",
    "operators.stateful",
    "functions.dedup",
    "proto",
    "sources.arrow_ipc",
)

# executed-plan node names that mean rows cross into Python
PYTHON_NODES = ("EvalPython", "InPandas", "InArrow", "PythonDataSource", "PythonUDTF")


# --------------------------------------------------------------------- stamps
class RssSampler:
    """Peak resident set of a process tree (the driver JVM and its
    Python workers), sampled from /proc every 0.2 s; the tree itself is
    re-read every second."""

    def __init__(self) -> None:
        self.root: int | None = None
        self.peak = 0
        self._pids: list[int] = []
        self._scanned = 0.0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def tree(self) -> list[int]:
        if self.root is None:
            return []
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def sample(self, rescan: bool = False) -> None:
        now = time.monotonic()
        if rescan or now - self._scanned >= 1.0:
            self._pids = self.tree()
            self._scanned = now
        total = 0
        for pid in self._pids:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _bench_module():
    """``bench.py``'s contention helpers, imported without editing it."""
    import bench

    return bench


def _parity_normaliser():
    """``tools/check_parity.py``'s order-insensitive row normalisation."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_parity.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm_rows


# ---------------------------------------------------------------------- setup
class Session:
    """Owns the SparkSession, its set-up timings and its shutdown."""

    def __init__(self, rss: RssSampler) -> None:
        self.rss = rss
        self.spark = None
        self.get_spark_s = 0.0

    def start(self, tracer: Tracer) -> None:
        """``get_spark``: the JVM launch, with the driver memory and confs
        it applies. Once per process, as every caller of the program pays
        it."""
        from arcon_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t0
        self.rss.root = self.spark.sparkContext._gateway.proc.pid

    def effective(self) -> dict:
        sc = self.spark.sparkContext
        return {"spark.master": sc.master, "spark.driver.memory": sc.getConf().get("spark.driver.memory", "default")}

    def close(self) -> None:
        """Stop Spark, end the JVM and wait until it and every worker it
        started have exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        pids = self.rss.tree()
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone; it is waited for below
            pass
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
        deadline = time.time() + 15
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


# ---------------------------------------------------------------------- batch
def status_counts(sc, group: str) -> dict:
    """Job, completed-task and failed-task counts of one benchmark-set job
    group, read from ``SparkContext.statusTracker()``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None:
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def _batch_data(work: str) -> str:
    """The batch tables, generated once per checkout (they depend on
    nothing but the fixed data seed and the scales)."""
    tag = f"tables-{DATA_SEED}-{TABLE_SCALE}-{DOC_SCALE}"
    out = os.path.join(work, "data", tag)
    if not os.path.exists(os.path.join(out, "DONE")):
        tmp = out + f".tmp{os.getpid()}"
        datagen.write_tables(tmp, DATA_SEED, TABLE_SCALE, DOC_SCALE)
        open(os.path.join(tmp, "DONE"), "w").close()
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent run won the race; its tables are identical
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _oracles(data_dir: str, names: tuple[str, ...], cpus: int) -> dict[str, tuple]:
    """The DuckDB ``oracle_sql()`` result of every query, normalised.
    They depend on nothing but the tables and the SQL, so they are cached
    next to the tables, keyed by the SQL text, and computed before the
    run's set-up."""
    import duckdb

    from arcon_spark.io import TABLES
    from arcon_spark.plans.registry import oracle_sql

    norm = _parity_normaliser()
    sqls = oracle_sql()
    out: dict[str, tuple] = {}
    con = None
    for name in names:
        sql = sqls[name]
        path = os.path.join(data_dir, "oracle", f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pickle")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.sql(f"SET threads={cpus}")
                con.sql("SET memory_limit='2GB'")
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            rel = con.sql(sql)
            rows = norm([d[0] for d in rel.description], rel.fetchall())
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "wb") as fh:
                pickle.dump(rows, fh)
            os.replace(tmp, path)
        with open(path, "rb") as fh:
            out[name] = pickle.load(fh)
    if con is not None:
        con.close()
    return out


def run_batch(args, sess: Session, tracer: Tracer, data_dir: str, oracles: dict[str, tuple]) -> dict:
    from arcon_spark.io import load_table
    from arcon_spark.plans.registry import queries

    spark = sess.spark
    sc = spark.sparkContext
    qmap = queries()
    names = WORKLOADS["batch"]
    norm = _parity_normaliser()
    rng = random.Random(args.seed)
    attempted = failed = 0
    problems: list[str] = []
    info: dict = {"queries": {}}

    def check(name: str) -> tuple[str | None, bool]:
        """Run one query and its oracle; returns (problem, python_exec)."""
        df = qmap[name](spark, data_dir)
        got = norm(df.columns, [tuple(r) for r in df.collect()])
        want = oracles[name]
        has_py = tracer.enabled and any(
            node in df._jdf.queryExecution().executedPlan().toString() for node in PYTHON_NODES
        )
        if got != want:
            return f"{name}: output differs from the DuckDB oracle ({len(got[1])} vs {len(want[1])} rows)", has_py
        return None, has_py

    # the warm pass, part of the set-up: every query once, checked against
    # its oracle. It starts the Python workers and compiles every plan.
    # The queries run side by side, as tools/check_parity.py --jobs runs
    # them: one at a time, the cold pass takes ~40% longer.
    from concurrent.futures import ThreadPoolExecutor

    t_warm = time.perf_counter()
    order = rng.sample(names, len(names))
    with tracer.span("session.warmup"), ThreadPoolExecutor(max_workers=args.cpus) as pool:
        futures = [pool.submit(check, name) for name in order]
        for name, fut in zip(order, futures):
            attempted += 1
            try:
                problem, has_py = fut.result()
            except Exception as e:  # one failing query must not hide the others
                failed += 1
                problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            info["queries"][name] = {"python_exec": has_py}
            if problem:
                failed += 1
                problems.append(problem)
    warm_s = time.perf_counter() - t_warm
    spark.catalog.clearCache()

    # traced runs time a load_table → noop over the tables the queries read
    io_s = 0.0
    io_rows = 0
    if tracer.enabled:
        import pyarrow.parquet as pq

        for t in TABLES_READ:
            t0 = time.perf_counter()
            with tracer.span("io.load_table", op=t):
                load_table(spark, data_dir, t).write.format("noop").mode("overwrite").save()
            io_s += time.perf_counter() - t0
            io_rows += pq.ParquetFile(f"{data_dir}/{t}.parquet").metadata.num_rows

    # timed closed loop: whole passes, each in a fresh seeded order
    per_query: dict[str, list[float]] = {n: [] for n in names}
    build: dict[str, list[float]] = {n: [] for n in names}
    passes: list[float] = []
    counts = defaultdict(int)
    for _ in range(timed_passes(args)):
        t_pass = time.perf_counter()
        with tracer.span("pass", op="pass"):
            for name in rng.sample(names, len(names)):
                spark.catalog.clearCache()
                attempted += 1
                try:
                    with tracer.span("query", op=name):
                        t0 = time.perf_counter()
                        if tracer.enabled:
                            sc.setJobGroup(f"perfbench:{name}:build", name)
                        with tracer.span("plans.build"):
                            df = qmap[name](spark, data_dir)
                        t1 = time.perf_counter()
                        if tracer.enabled:
                            sc.setJobGroup(f"perfbench:{name}:execute:{len(passes)}", name)
                        with tracer.span("plans.execute"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as e:
                    failed += 1
                    problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
                    continue
                per_query[name].append(t2 - t0)
                build[name].append(t1 - t0)
        passes.append(time.perf_counter() - t_pass)
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
    if tracer.enabled:
        for name in names:
            # build-time jobs accumulate across passes under one group
            b = status_counts(sc, f"perfbench:{name}:build")
            counts["build_jobs"] += b["jobs"]
            counts["failed_tasks"] += b["failed_tasks"]
            for i in range(len(passes)):
                e = status_counts(sc, f"perfbench:{name}:execute:{i}")
                counts["execute_jobs"] += e["jobs"]
                counts["execute_tasks"] += e["tasks"]
                counts["failed_tasks"] += e["failed_tasks"]

    best = {n: min(ts) for n, ts in per_query.items() if ts}
    e2e = {"pass_s": min(passes), "query_geomean_s": geomean(list(best.values()))}
    info.update(
        passes_s=passes,
        per_query_s=per_query,
        build_s=build,
        query_s=summary([t for ts in per_query.values() for t in ts]),
        problems=problems,
    )
    layers: dict[str, float] = {}
    if tracer.enabled:
        n_pass = len(passes)
        spans = tracer.spans
        selfs = self_times(spans)
        module_s = dict.fromkeys(MODULES, 0.0)
        for s in spans:
            if s.name == "query":
                layer = qmap[s.op].__module__.removeprefix("arcon_spark.")
                module_s[layer] = module_s.get(layer, 0.0) + s.duration / n_pass
        layers.update(
            {
                "io.load_table_s": io_s,
                "plans.build_s": tracer.total("plans.build") / n_pass,
                "plans.execute_s": tracer.total("plans.execute") / n_pass,
                "plans.build_jobs": counts["build_jobs"] / n_pass,
                "plans.execute_jobs": counts["execute_jobs"] / n_pass,
                "plans.execute_tasks": counts["execute_tasks"] / n_pass,
                "plans.failed_tasks": counts["failed_tasks"],
                "unexplained_s": sum(selfs[s.id] for s in spans if s.name in ("pass", "query")) / n_pass,
                "traced.pass_s": e2e["pass_s"],
            }
        )
        layers.update({f"{m}.s": v for m, v in module_s.items()})
        # the split the two query groups were chosen for
        for group, members in GROUPS.items():
            b = sum(sum(build[n]) for n in members) / n_pass
            layers[f"plans.{group}.build_s"] = b
            layers[f"plans.{group}.execute_s"] = sum(sum(per_query[n]) for n in members) / n_pass - b
            layers[f"plans.{group}.python_exec_queries"] = sum(
                info["queries"].get(n, {}).get("python_exec", False) for n in members
            )
        # every query's wall time against its build + execute spans
        info["span_cover"] = {
            s.op: sum(c.duration for c in spans if c.parent == s.id) / s.duration for s in spans if s.name == "query"
        }
    bases = {"io.rows": io_rows, **{f"plans.{g}.queries": len(m) for g, m in GROUPS.items()}}
    return {
        "attempted": attempted,
        "failed": failed,
        "warm_s": warm_s,
        "e2e": e2e,
        "layers": layers,
        "bases": bases,
        "info": info,
    }


def summary(samples: list[float]) -> dict:
    """A timing as its sample count, median and the highest percentile
    with at least ten samples beyond it."""
    tail = tail_percentile(samples)
    return {
        "n": len(samples),
        "median": median(samples) if samples else None,
        "tail_pct": tail[0] if tail else None,
        "tail": tail[1] if tail else None,
    }


# --------------------------------------------------------------------- stream
def _stream_tape(run_dir: str, seed: int, spec: datagen.TapeSpec, name: str) -> tuple[str, list[str]]:
    tape_dir = os.path.join(run_dir, name, "events.parquet")
    return tape_dir, datagen.write_tape(tape_dir, seed, spec)


def _progress_layers(progress: list) -> dict:
    """Per-pipeline streaming and state-store numbers from
    ``StreamingQuery.recentProgress``."""
    trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
    add = [p.durationMs.get("addBatch", 0) for p in progress]
    ops = [o for p in progress for o in p.stateOperators]
    last_ops = progress[-1].stateOperators if progress else []
    return {
        "microbatch_ms": summary(trig),
        "batches": len(progress),
        "addBatch_ms": float(sum(add)),
        "microbatch_ms_p50": percentile(trig, 50) if trig else 0.0,
        "microbatch_ms_p90": percentile(trig, 90) if trig else 0.0,
        "overhead_ms": float(sum(trig) - sum(add)),
        "trigger_ms": float(sum(trig)),
        "input_rows": sum(p.numInputRows for p in progress),
        "commit_ms": float(sum(o.commitTimeMs for o in ops)),
        "update_ms": float(sum(o.allUpdatesTimeMs for o in ops)),
        "rows_total": sum(o.numRowsTotal for o in last_ops),
        "memory_bytes": sum(o.memoryUsedBytes for o in last_ops),
        "rows_dropped_late": sum(o.numRowsDroppedByWatermark for o in ops),
    }


def run_stream(args, sess: Session, tracer: Tracer, run_dir: str) -> dict:
    from arcon_spark.io import load_table
    from arcon_spark.streaming.tws import ROCKSDB_PROVIDER

    spark = sess.spark
    tape_dir, paths = _stream_tape(run_dir, args.seed, TAPE, "tape")
    expected = stream.references(paths)
    n_events = TAPE.segments * TAPE.events_per_segment + 1  # and the flush event
    attempted = failed = 0
    problems: list[str] = []
    layers: dict[str, float] = {}

    io_s = 0.0
    if tracer.enabled:
        t0 = time.perf_counter()
        with tracer.span("io.load_table", op="tape"):
            load_table(spark, os.path.dirname(tape_dir), "events").write.format("noop").mode("overwrite").save()
        io_s = time.perf_counter() - t0

    last_progress: dict[str, dict] = {}

    def start(name: str, tape: str, tag: str):
        if name == "tws":  # transformWithState needs the RocksDB provider
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        sink = f"perfbench_{name}_{tag}"
        with tracer.span("streaming.build"):
            df = stream.build(spark, name, tape)
        return (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(os.environ["TMPDIR"], f"ckpt_{sink}"))
            .start()
        )

    def finish(name: str, q, want: list[tuple]) -> list:
        """Stop a drained query and check its output; returns its progress."""
        nonlocal failed
        progress = q.recentProgress
        q.stop()
        got = stream.output_rows(spark.table(q.name).collect(), name)
        spark.sql(f"DROP VIEW IF EXISTS {q.name}")
        if got != want:
            failed += 1
            problems.append(f"{name}: {len(got)} rows differ from the {len(want)}-row reference")
        return progress

    def failure(name: str, e: Exception) -> None:
        nonlocal failed
        failed += 1
        problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")

    # The warm pass, part of the set-up: every pipeline drains a small
    # tape once, checked against its own reference. The first drain of a
    # pipeline starts its Python workers and state store and compiles its
    # plan; no later drain pays that again. Those first-time costs, not
    # the tape, are most of a cold drain, so a small tape warms as well
    # as the full one.
    warm_dir, warm_paths = _stream_tape(run_dir, args.seed, WARM_TAPE, "warm")
    warm_want = stream.references(warm_paths)
    t_warm = time.perf_counter()
    with tracer.span("session.warmup"):
        for name in stream.PIPELINES:
            attempted += 1
            try:
                q = start(name, warm_dir, "warm")
                q.processAllAvailable()
                finish(name, q, warm_want[name])
            except Exception as e:
                failure(name, e)
    warm_s = time.perf_counter() - t_warm

    drains: dict[str, list[float]] = {p: [] for p in stream.PIPELINES}
    passes: list[float] = []
    for i in range(timed_passes(args)):
        t_pass = time.perf_counter()
        with tracer.span("pass", op="pass"):
            for name in stream.PIPELINES:
                attempted += 1
                try:
                    with tracer.span("stream.drain", op=name):
                        t0 = time.perf_counter()
                        q = start(name, tape_dir, str(i))
                        q.processAllAvailable()
                        dt = time.perf_counter() - t0
                    progress = finish(name, q, expected[name])
                except Exception as e:
                    failure(name, e)
                    continue
                drains[name].append(dt)
                if tracer.enabled:
                    last_progress[name] = dict(_progress_layers(progress), drain_s=dt)
        passes.append(time.perf_counter() - t_pass)

    # the open-loop phase: the same session, a fixed-rate load in small
    # batches. It feeds per-layer metrics only, so only traced runs pay
    # its ~10 s.
    ol = None
    if tracer.enabled:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        attempted += 1
        try:
            with tracer.span("stream.open_loop", op="open_loop"):
                ol = openloop.run(spark, args.seed, os.path.join(os.environ["TMPDIR"], "open_loop"))
            want = openloop.reference(args.seed)
            if ol["rows"] != want or not ol["latency_ms"]:
                failed += 1
                problems.append(f"open_loop: {len(ol['rows'])} rows differ from the {len(want)}-row reference")
        except Exception as e:
            failed += 1
            problems.append(f"open_loop: {type(e).__name__}: {str(e)[:300]}")

    best = {p: min(ts) for p, ts in drains.items() if ts}
    e2e = {"pass_s": min(passes), "query_geomean_s": geomean(list(best.values()))}
    bases: dict[str, float] = {"io.rows": n_events}
    if tracer.enabled:
        unexplained = 0.0
        for name in stream.PIPELINES:
            pl = last_progress.get(name, {})
            layers[f"streaming.{name}.events_per_s"] = n_events / best[name] if name in best else 0.0
            for k in ("addBatch_ms", "microbatch_ms_p50", "microbatch_ms_p90", "overhead_ms"):
                layers[f"streaming.{name}.{k}"] = pl.get(k, 0)
            for k in ("commit_ms", "update_ms", "memory_bytes"):
                layers[f"state.{name}.{k}"] = pl.get(k, 0)
            for k in ("batches", "input_rows"):
                bases[f"streaming.{name}.{k}"] = pl.get(k, 0)
            for k in ("rows_total", "rows_dropped_late"):
                bases[f"state.{name}.{k}"] = pl.get(k, 0)
            unexplained += pl.get("drain_s", 0.0) - pl.get("trigger_ms", 0.0) / 1000.0
        if ol is not None and ol["latency_ms"]:
            pl = _progress_layers(ol["progress"])
            last_progress["open_loop"] = pl
            layers.update(
                {
                    "open_loop.latency_ms_p50": percentile(ol["latency_ms"], 50),
                    "open_loop.latency_ms_p90": percentile(ol["latency_ms"], 90),
                    "open_loop.generator_lag_ms": max(ol["lag_ms"]),
                    "open_loop.backlog_files": max(ol["backlog_files"], default=0.0),
                }
            )
            for k in ("addBatch_ms", "microbatch_ms_p50", "microbatch_ms_p90", "overhead_ms"):
                layers[f"streaming.open_loop.{k}"] = pl[k]
            for k in ("commit_ms", "update_ms", "memory_bytes"):
                layers[f"state.open_loop.{k}"] = pl[k]
            bases.update(
                {
                    "open_loop.events": ol["events"],
                    "open_loop.latency_samples": len(ol["latency_ms"]),
                    "streaming.open_loop.batches": pl["batches"],
                    "streaming.open_loop.input_rows": pl["input_rows"],
                }
            )
        layers["io.load_table_s"] = io_s
        layers["unexplained_s"] = unexplained
        layers["traced.pass_s"] = e2e["pass_s"]
    info = {"passes_s": passes, "drain_s": drains, "problems": problems, "progress": last_progress}
    if ol is not None:
        info["open_loop"] = {
            "latency_ms": summary(ol["latency_ms"]),
            "lag_ms": ol["lag_ms"],
            "backlog_files": ol["backlog_files"],
        }
    return {
        "attempted": attempted,
        "failed": failed,
        "warm_s": warm_s,
        "e2e": e2e,
        "layers": layers,
        "bases": bases,
        "info": info,
    }


# ------------------------------------------------------------------- assembly
def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in output order. Counts that
    the inputs fix (rows read, batches, late rows dropped) are not among
    them: they are the bases the record keeps next to these."""
    out = [
        ("session.get_spark_s", "s"),
        ("session.warmup_s", "s"),
        ("rss.peak_mb", "MB"),
        ("io.load_table_s", "s"),
        ("plans.build_s", "s"),
        ("plans.execute_s", "s"),
        ("plans.build_jobs", "count"),
        ("plans.execute_jobs", "count"),
        ("plans.execute_tasks", "count"),
        ("plans.failed_tasks", "count"),
    ]
    for group in GROUPS:
        out += [
            (f"plans.{group}.build_s", "s"),
            (f"plans.{group}.execute_s", "s"),
            (f"plans.{group}.python_exec_queries", "count"),
        ]
    out += [(f"{m}.s", "s") for m in MODULES]
    for p in stream.PIPELINES + ("open_loop",):
        if p != "open_loop":
            out.append((f"streaming.{p}.events_per_s", "1/s"))
        out += [
            (f"streaming.{p}.addBatch_ms", "ms"),
            (f"streaming.{p}.microbatch_ms_p50", "ms"),
            (f"streaming.{p}.microbatch_ms_p90", "ms"),
            (f"streaming.{p}.overhead_ms", "ms"),
            (f"state.{p}.commit_ms", "ms"),
            (f"state.{p}.update_ms", "ms"),
            (f"state.{p}.memory_bytes", "bytes"),
        ]
    out += [
        ("open_loop.latency_ms_p50", "ms"),
        ("open_loop.latency_ms_p90", "ms"),
        ("open_loop.generator_lag_ms", "ms"),
        ("open_loop.backlog_files", "count"),
        ("unexplained_s", "s"),
        ("traced.pass_s", "s"),
    ]
    return out


# setup_s: the run's one set-up: the JVM launch and the warm pass.
# pass_s: the fastest timed pass of the run. query_geomean_s: geometric
# mean over the workload's queries (or pipelines) of each one's fastest
# time. Minimums, as bench.py reports them: passes keep getting faster
# after the warm pass while the JIT compiles, so a median sits on the
# steep part of that curve and moves with how fast the host let it
# compile.
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("query_geomean_s", "s"))


def run_workload(args, work: str, run_dir: str) -> tuple[dict, dict]:
    bench = _bench_module()
    tracer = Tracer(bool(args.trace))
    rss = RssSampler()
    stamps: dict = {"nproc": os.cpu_count(), "cpus": args.cpus}
    if args.workload == "batch":
        data_dir = _batch_data(work)
        oracles = _oracles(data_dir, WORKLOADS["batch"], args.cpus)

    stamps["anchor_before_s"] = bench._anchor_sec()
    ticks0 = bench._proc_stat_ticks()
    sess = Session(rss)
    rss.start()
    try:
        t0 = time.perf_counter()
        sess.start(tracer)
        stamps.update(sess.effective())
        if args.workload == "stream_stateful":
            out = run_stream(args, sess, tracer, run_dir)
        else:
            out = run_batch(args, sess, tracer, data_dir, oracles)
        rss.sample(rescan=True)
        wall_s = time.perf_counter() - t0
    finally:
        rss.stop()
        sess.close()
    stamps["steal_pct"] = bench._steal_pct(ticks0, bench._proc_stat_ticks())
    stamps["anchor_after_s"] = bench._anchor_sec()

    if args.trace:
        layers = dict(out["layers"])
        layers["session.get_spark_s"] = sess.get_spark_s
        layers["session.warmup_s"] = out["warm_s"]
        layers["rss.peak_mb"] = rss.peak / 2**20
        metrics = {name: {"value": float(layers.get(name, 0)), "unit": unit} for name, unit in per_layer_names()}
    else:
        values = dict(out["e2e"], setup_s=sess.get_spark_s + out["warm_s"])
        metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in END_TO_END}
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            raise ValueError(f"non-finite metric {m}")
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamps": stamps,
        "wall_s": wall_s,
        "peak_rss_mb": rss.peak / 2**20,
        "get_spark_s": sess.get_spark_s,
        "warmup_s": out["warm_s"],
        "result": result,
        "bases": out["bases"],
        "info": out["info"],
        "spans": [vars(s) for s in tracer.spans],
    }
    return result, record
