"""Table loading for the driver-generated test datasets.

Sources surface (SURVEY.md §2.1): the reference reads iterators,
local text files, and Kafka (reference: arcon/src/stream/source/
local_file.rs:17-62, kafka.rs:29-189). On Spark those are
``spark.createDataFrame``, ``spark.read.text/csv/json/parquet`` and
``readStream.format("kafka")`` — see arcon_spark.sources for the
streaming-side wrappers. This module is the batch entry point used by
every registered query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Spark's inferred schema of each table file, keyed by (real path,
#: st_mtime_ns, st_size): a rewritten file is inferred again. Two
#: threads reading a file first may both infer it; both store the same
#: schema.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Spark's own inferred schema of one table file, before load_table's
    ``ts`` normalisation. Inference runs a Spark job, so it runs once per
    file per process; every later read declares the cached schema and
    runs none. The session confs are set first, so the schema is learned
    under nanosAsLong and with inferTimestampNTZ off."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:  # not on the local filesystem: Spark infers (or raises)
        return spark.read.parquet(path).schema
    key = (real, st.st_mtime_ns, st.st_size)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → columnar, predicate
    pushdown and column pruning apply to whatever the caller selects.
    The read declares the file's schema from table_schema, so building
    a plan runs no Spark job once the file has been read once.

    events.ts comes in one of two physical types, depending on the
    dataset generation, and both leave here as TIMESTAMP:
    - TIMESTAMP(NANOS): Spark reads it as int64 nanos
      (spark.sql.legacy.parquet.nanosAsLong) and we floor to
      microseconds — bit-identical to the oracle's CAST(ts_ns AS
      TIMESTAMP) truncation.
    - timestamp[us] with isAdjustedToUTC=false (the sf0.001, sf0.01 and
      sf0.1 test datasets): read as TIMESTAMP since inferTimestampNTZ is
      off; when that conf could not be set before the schema was
      learned, the TIMESTAMP_NTZ column is cast to TIMESTAMP (the
      session zone is UTC, so the instant is unchanged and matches
      DuckDB's naive reading).
    Both are cheap projections; pushdown on other columns is unaffected.
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    fix = {
        f.name: F.col(f.name).cast("timestamp")
        for f in schema.fields
        if isinstance(f.dataType, TimestampNTZType)
    }
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        fix["ts"] = F.expr("timestamp_micros(ts div 1000)")
    return df.withColumns(fix) if fix else df


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any SparkSession (including one the driver built without
    arcon_spark.session.get_spark) able to run the registry correctly:
    these are all runtime-settable SQL confs.

    - nanosAsLong: events.ts is TIMESTAMP(NANOS) parquet, which Spark
      cannot read natively — without this every events query throws
      PARQUET_TYPE_ILLEGAL.
    - UTC session time: the DuckDB oracle's timestamps are UTC-naive;
      any other session zone shifts every collected timestamp.
    - Arrow: keeps mapInPandas/applyInPandas on the vectorized path.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # timestamp[us] with isAdjustedToUTC=false must read as TIMESTAMP
        # (LTZ), not TIMESTAMP_NTZ: the whole expression surface
        # (unix_micros, date_trunc, window()) and the UTC-naive DuckDB
        # oracle agree under LTZ + UTC session zone.
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:  # pragma: no cover - read-only conf edge cases
            pass


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """createDataFrame via the Arrow/pandas path. Tuple-list
    createDataFrame builds a pickled Python RDD that costs ~5s of
    Python-worker startup on EVERY action; routing the same rows
    through pandas produces a JVM LocalRelation (~0.2s). Falls back to
    the tuple path for shapes pandas/Arrow can't convert (nested
    structs etc.)."""
    rows = list(rows)
    if rows and isinstance(rows[0], (tuple, list)):
        try:
            import pandas as pd

            names = spark.createDataFrame([], schema).columns
            pdf = pd.DataFrame(rows, columns=names)
            return spark.createDataFrame(pdf, schema=schema)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


def _parse_byte_conf(raw: str, default: int = 128 * 1024 * 1024) -> int:
    """Parse a Spark byte-string conf value ('128mb', '1t', '2p',
    bare ints). Covers the full k/m/g/t/p suffix table Spark's own
    byteStringAs accepts (ADVICE r8 — the old table stopped at 'g'),
    and a sizing HINT must never crash the query on a form this parser
    doesn't know: unparseable input falls back to Spark's 128 MB
    default instead of raising."""
    raw = raw.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    unit = 1
    if raw.endswith("b"):
        raw = raw[:-1]
    if raw and raw[-1] in mult:
        unit, raw = mult[raw[-1]], raw[:-1]
    try:
        return max(1, int(float(raw) * unit))
    except ValueError:
        return default


def _scan_width_estimate(df: DataFrame) -> int | None:
    """Estimated file-scan partition count from analysis-time facts
    ONLY — never touches ``df.rdd``. Accessing .rdd finalizes the
    adaptive plan and eagerly executes any un-materialized upstream
    shuffle stages, and the caller's subsequent action then re-executes
    that subtree in a separate query execution (no cross-query exchange
    reuse) — the double-execution trap flagged in ADVICE r7.

    ``df.inputFiles()`` is a walk of the analyzed plan's file relations
    (their listings are already cached at analysis); splitting their
    byte total by maxPartitionBytes reproduces Spark's own split math
    closely enough for a sizing hint. Returns None when the plan has no
    file scan (pure in-memory / post-checkpoint frames)."""
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - exotic plan shapes
        return None
    if not files:
        return None
    spark = df.sparkSession
    max_split = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    total = 0
    for uri in files:
        p = uri[7:] if uri.startswith("file://") else uri
        try:
            total += os.path.getsize(p)
        except OSError:
            # non-local filesystem (object store): fall back to one
            # split per file — a lower bound, still data-scaled.
            return max(1, len(files))
    import math

    return max(1, math.ceil(total / max(1, max_split)))


def spread(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Ensure a compute-heavy pipeline has enough partitions to use the
    cluster. The synthetic tables are single parquet files → one input
    split → one core doing all the md5/shingle/matmul work. At real
    scale inputs have thousands of splits and this is a no-op (we only
    repartition when the scan has fewer than min_ratio × parallelism
    partitions); the shuffle it inserts moves raw input rows once,
    before the expensive projection, which is the cheap direction.

    Width is derived from the scan's file bytes (_scan_width_estimate),
    not ``df.rdd`` — see ADVICE r7. Precondition: the input is a
    narrow file-scan projection (every call site is `spread(load_table
    (...).select(...))`); a scan-free frame is assumed already
    distributed and passes through unchanged."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    width = _scan_width_estimate(df)
    if width is None or width >= max(1, int(target * min_ratio)):
        return df
    return df.repartition(target)


def pin_groups(df: DataFrame, *cols: str, num_partitions: int | None = None) -> DataFrame:
    """Explicit hash repartition on the grouping key, sized to session
    parallelism, for use DIRECTLY before a groupBy(*cols) that feeds a
    pandas-group stage (applyInPandas / applyInArrow / cogroup).

    Why: AQE coalesces shuffle partitions by BYTE size, but a pandas
    group stage's cost is per GROUP CALL (Arrow slice + Python
    function invocation, ~1-10 ms each) — a tiny-byte shuffle with
    thousands of groups gets squashed onto 1-4 tasks and runs its
    Python calls serially (measured: the 15k-key cogroup merge on 3
    AQE-coalesced tasks took 21 s; pinned to 32, 2.8 s). A
    user-specified repartition with an explicit partition count is
    exempt from AQE coalescing, and because it hash-clusters the same
    key the downstream groupBy inserts NO second exchange — the plan
    keeps one shuffle, it just keeps all its reducers.

    Sizing: the pin must scale with DATA, not just cores — a fixed
    defaultParallelism pin would cap heavy pandas-group shuffles at
    core count on a 1000-executor cluster. Default width is
    max(defaultParallelism, shuffle width, file-scan split estimate):
    the shuffle width is what any upstream exchange was planned at
    (pre-AQE-coalescing), and the scan estimate grows with input bytes,
    so at 100 TB the pin widens with the data while locally it floors
    at session parallelism. All three inputs are analysis-time facts —
    ``df.rdd`` is deliberately never touched (finalizing the AQE plan
    there eagerly executes un-materialized upstream shuffles and the
    real action then re-runs them; ADVICE r7). Callers with a better
    estimate (e.g. known group count) pass num_partitions."""
    spark = df.sparkSession
    if num_partitions is None:
        shuffle_w = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        num_partitions = max(
            spark.sparkContext.defaultParallelism,
            shuffle_w,
            _scan_width_estimate(df) or 1,
        )
    return df.repartition(num_partitions, *cols)


def two_phase_rank(
    df: DataFrame,
    order_by,
    *,
    rank_name: str | None = "rn",
    sum_col: str | None = None,
    sum_name: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global row_number (and optionally an inclusive running
    sum) over a total order WITHOUT a single-partition WindowExec —
    the scalable form of ``row_number() OVER (ORDER BY ...)``.

    Plan: range-exchange on the sort key, per-partition JVM windows
    for the local rank/cumsum, then a #partitions-row offset table
    (count/sum per range partition, prefix-summed) broadcast-joined
    back. The only global window runs over that offset table — its
    row count is the shuffle width, a cluster constant, never data —
    so the plan survives any corpus size where a single partition
    holding the full order would not. Ranks are independent of the
    partition count and of AQE coalescing: range partitions are
    key-disjoint and id-ordered, so offset+local_rank reproduces the
    exact global rank for ANY boundary placement. Costs one extra
    hash exchange on the partition id versus the naive global window
    (a pid-keyed reshuffle of already-ranged rows; mild balls-in-bins
    skew of whole partitions, bounded by small multiples of n/P).

    Durability trade-off (ADVICE r7): the eager localCheckpoint below
    materializes the full ranked frame in executor-LOCAL storage —
    fast, but not fault-tolerant (an executor loss fails the job and
    local disks must hold the dataset). That is the right call for the
    bench/test envelope; at real cluster scale prefer
    ``persist(StorageLevel.DISK_ONLY)`` + a reliable checkpoint dir,
    or derive pids from collected range boundaries (a #partitions-row
    driver artifact) so no pinning is needed at all. The PLAN shape —
    no data-sized global window — is what this helper guarantees;
    the materialization tier is swappable per deployment.

    order_by: list of Columns (may carry .desc()); keys must be
    NULL-free and, with the caller's tiebreak, total."""
    spark = df.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    order_by = list(order_by)
    parted = df.repartitionByRange(p, *order_by).withColumn(
        "__pid", F.spark_partition_id()
    )
    from pyspark.sql import Window

    # Both the running and the whole-partition stats ride ONE pid
    # window exchange; the per-partition totals are then read off the
    # __lrn == 1 row of each partition instead of a separate groupBy
    # branch. The ranked frame feeds TWO consumers (the offset table
    # and the final join probe) and spark_partition_id() is flagged
    # nondeterministic — exchange reuse cannot share the subtree — so
    # the house multi-consumer rule applies: checkpoint once, read
    # twice. This also pins the pid assignment: both consumers see the
    # SAME materialized partitions rather than two re-executions.
    wloc = Window.partitionBy("__pid").orderBy(*order_by)
    wall = Window.partitionBy("__pid")
    local = parted.withColumn("__lrn", F.row_number().over(wloc)).withColumn(
        "__pcnt", F.count(F.lit(1)).over(wall)
    )
    if sum_col is not None:
        local = local.withColumn(
            "__lcs",
            F.sum(sum_col).over(wloc.rowsBetween(Window.unboundedPreceding, 0)),
        ).withColumn("__psum", F.sum(sum_col).over(wall))
    local = local.localCheckpoint(eager=True)
    per_cols = ["__pid", "__pcnt"] + (["__psum"] if sum_col is not None else [])
    per = local.filter(F.col("__lrn") == 1).select(*per_cols)
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    off_cols = [
        "__pid",
        F.coalesce(F.sum("__pcnt").over(woff), F.lit(0)).alias("__roff"),
    ]
    if sum_col is not None:
        off_cols.append(
            F.coalesce(F.sum("__psum").over(woff), F.lit(0)).alias("__soff")
        )
    off = per.select(*off_cols)
    out = local.join(F.broadcast(off), "__pid")
    if rank_name is not None:
        out = out.withColumn(
            rank_name, (F.col("__roff") + F.col("__lrn")).cast("long")
        )
    if sum_col is not None:
        out = out.withColumn(sum_name, F.col("__soff") + F.col("__lcs"))
    return out.drop(
        "__pid", "__lrn", "__lcs", "__pcnt", "__psum", "__roff", "__soff"
    )


def ntile_from_rank(rank_col: str, n_col: str, k: int):
    """SQL NTILE(k) computed arithmetically from a global rank and the
    total row count — the standard large-buckets-first split (first
    n%k buckets get one extra row), identical in Spark and DuckDB.
    Lets NTILE ride on two_phase_rank instead of a single-partition
    window.

    Pure integer arithmetic (`div`/`%` on longs), so the formula is
    exact at ANY row count — the earlier double-division form was only
    exact while quotient×divisor products stayed below 2^53 (ADVICE
    r7). rank_col / n_col must be plain column names (they are spliced
    into a SQL expression)."""
    k = int(k)
    rn, n = rank_col, n_col
    sz = f"({n} div {k})"          # small-bucket size
    rem = f"({n} % {k})"           # number of buckets holding sz+1 rows
    thr = f"({rem} * ({sz} + 1))"  # ranks <= thr land in a big bucket
    return F.expr(
        f"CAST(CASE WHEN {rn} <= {thr} "
        f"THEN ({rn} - 1) div ({sz} + 1) + 1 "
        f"ELSE {rem} + ({rn} - 1 - {thr}) div {sz} + 1 END AS BIGINT)"
    )


#: target per-block row count for the block-tile matmul kernels: a tile
#: pair materializes at most tile_rows² matmul cells (~128 MB of float64
#: at 4096) plus two tile_rows·d operand slices — the executor-memory
#: bound the grid side is derived from.
TILE_ROWS = 4096


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a test table from parquet FOOTER metadata —
    a driver-side ranged read of each file's footer, no Spark job.

    Why this exists: the block-tile kernels size their grid from the
    corpus row count, and ``df.count()`` on the kernel's own
    spread()-ed input eagerly executes the scan+repartition exchange
    once just for sizing, then the real action re-runs that subtree in
    a separate query execution (the double-execution class ADVICE r7
    removed for ``.rdd``, flagged again for ``.count()`` in ADVICE
    r8). Footer row counts are exact for parquet (one small ranged
    read per file — cheap on object stores too, and a 100 TB table's
    file count is a listing the planner does anyway). Falls back to a
    raw-scan Spark count (no spread, so no exchange; column-pruned to
    nothing) when pyarrow can't read the path."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return load_table(spark, sf_dir, name).count()


def tile_grid_side(n_rows: int, floor: int = 8, tile_rows: int = TILE_ROWS) -> int:
    """Grid side B for the house block-tile matmul kernels (bitext,
    semdedup, activity-similarity…), derived from the corpus row count
    instead of hand-tuned: the smallest B that keeps every block at
    ≤ tile_rows rows, floored at `floor` so small corpora keep enough
    tiles to use the cluster. Per-tile-pair memory is then bounded at
    any scale — (n/B)² ≤ tile_rows² cells — while shuffle replication
    (each row serves B tiles) grows only when the memory bound forces
    it. B is a pure function of the row count, so plans and results
    stay deterministic per dataset (the tile decomposition is lossless
    for every consumer: results are B-independent).

    Task count grows as B² — intrinsic to EXACT all-pairs kernels,
    whose FLOPs are O(n²) no matter how they are tiled. The grid keeps
    each task bounded; it does not change the total. Past ~10⁶ rows
    the registered sub-quadratic variants (IVF branch-and-bound
    bitext, LSH/banded dedup, cluster-scoped semdedup) are the
    production path, exactly as their docstrings state."""
    import math

    return max(floor, math.ceil(max(0, n_rows) / tile_rows))


def compact_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite a table directory into
    ceil(total_bytes / target) files and atomically swap it in.
    Returns the new file count.

    Streaming sinks (to_file, snapshot epochs) produce one-plus files
    per micro-batch; at 100 TB a year of 10-second batches is millions
    of KB-sized files, and the scan's task-per-file scheduling —
    not IO — becomes the bottleneck. This is the OPTIMIZE/rewrite
    maintenance job: run it per partition directory so each rewrite is
    independent and parallel. The directory-rename here is the local-FS
    commit; on an object store the same rewrite commits through the
    table format's metadata transaction instead (the read + repartition
    + write plan is unchanged)."""
    import math
    import shutil
    import uuid

    df = spark.read.format(fmt).load(path)
    size = sum(
        os.path.getsize(os.path.join(dp, n))
        for dp, _, ns in os.walk(path)
        for n in ns
        if not n.startswith(("_", "."))
    )
    n_out = max(1, math.ceil(size / target_file_bytes))
    tmp = path.rstrip("/") + f"__compact_{uuid.uuid4().hex[:8]}"
    df.repartition(n_out).write.format(fmt).save(tmp)
    old = path.rstrip("/") + "__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so queries can use spark.sql."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
