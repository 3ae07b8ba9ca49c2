"""Cross-engine (Spark vs DuckDB-oracle) deterministic aggregation helpers.

Floating-point SUM is order-dependent; Spark's parallel partial
aggregation and DuckDB's sequential scan would disagree in the last
ulps, breaking the driver's value-hash comparison. Every money/metric
aggregate therefore goes through EXACT arithmetic:

    msum(col, s)  ==  CAST(SUM(CAST(round(col * 10^s) AS HUGEINT)) AS DOUBLE) / 10^s

Row-level double multiply/round is IEEE-754-deterministic and identical
in both engines; the integer sum is exact and associative (decimal(38,0)
on Spark, int128 on DuckDB — no overflow until 38 digits, so this holds
at 100 TB group cardinalities); the final int→double conversion and the
division by a power of ten are correctly-rounded, identical ops. The SQL
counterpart is emitted by sql_msum() so Spark and oracle stay in
lockstep by construction.

Scale guidance: s=2 for 2-decimal money columns, s=4 for products of
two 2-decimal columns, s=6 for triple products (TPC-H q1 charge).

Embedding dot products follow the same rule: each float32 component is
rounded to a fixed-point BIGINT at _SCALE and the products are summed
as integers (_INT_DOT on Spark, _sql_int_dot in the oracle), so the
result is exact and independent of summation order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _units(col: Column, scale: int, sum_type: str = "decimal(38,0)") -> Column:
    return F.round(col * F.lit(float(10**scale))).cast(sum_type)


def msum(col: Column, scale: int = 2, sum_type: str = "decimal(38,0)") -> Column:
    """Exact, order-independent sum of a fixed-point-ish double column.

    sum_type tradeoff (measured, TPC-H q1 @ sf0.1 local[32]): long sums
    run 3× faster (0.9s vs 2.7s) but WRAP SILENTLY past 2^63 — at
    100 TB a money column at scale 6 overflows a per-group long
    (1e11/row × 1e11 rows/group). decimal(38,0) is therefore the
    default: exact to 38 digits at any conceivable group size, and the
    cost is bounded by the aggregation buffer, not precision (18 vs 38
    digits measured identical). Pass sum_type="long" only when
    max|x| * 10^scale * group_rows provably stays below 9.2e18."""
    return F.sum(_units(col, scale, sum_type)).cast("double") / F.lit(float(10**scale))


def usum_partial(col: Column, scale: int = 2) -> Column:
    """Stage 1 of the two-level exact sum: per-partition LONG sum of
    integer units. Safe without overflow because the caller groups by
    `spark_partition_id()` — a task's row count is bounded by the scan
    split size (`spark.sql.files.maxPartitionBytes`, ~128 MB → a few
    million rows), so max|x|·10^scale · rows_per_task stays far below
    2^63 for any realistic money/measure column. The hot loop is
    codegen long arithmetic; only the tiny per-(group, partition)
    partials are summed as decimal in stage 2 (usum_final).
    Measured on TPC-H q1 @ sf0.1 local[32]: 2.8 s → 1.0 s vs the
    single-level decimal msum, values bit-identical."""
    return F.sum(_units(col, scale, "long"))


def usum_final(partial_col: str, scale: int = 2) -> Column:
    """Stage 2 of the two-level exact sum: decimal(38) sum of the long
    partials, divided back to a double — exact at any group size."""
    return F.sum(F.col(partial_col).cast("decimal(38,0)")).cast("double") / F.lit(
        float(10**scale)
    )


def sql_msum(expr: str, scale: int = 2) -> str:
    f = 10**scale
    return f"CAST(SUM(CAST(round(({expr}) * {f}) AS HUGEINT)) AS DOUBLE) / {f}.0"


_SCALE = 10_000_000  # float32 has ~7 significant decimals

# exact integer dot product of two float arrays (order-independent);
# a Spark SQL template with {a} and {b} array-column placeholders
_INT_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    f" cast(round(cast(x as double) * {_SCALE}.0) as bigint)"
    f" * cast(round(cast(y as double) * {_SCALE}.0) as bigint)),"
    " 0L, (acc, v) -> acc + v)"
)


def _sql_int_dot(a: str, b: str) -> str:
    """DuckDB twin of _INT_DOT: an aggregate over the component index
    ``u.i`` of an ``UNNEST(generate_series(...)) AS u(i)`` join."""
    return (
        f"SUM(CAST(round(CAST({a}[u.i] AS DOUBLE) * {_SCALE}.0) AS BIGINT)"
        f" * CAST(round(CAST({b}[u.i] AS DOUBLE) * {_SCALE}.0) AS BIGINT))"
    )


def mavg(col: Column, scale: int = 2) -> Column:
    """Exact-sum average: deterministic double division at the end."""
    return (
        F.sum(_units(col, scale)).cast("double")
        / F.lit(float(10**scale))
        / F.count(F.lit(1)).cast("double")
    )


def sql_mavg(expr: str, scale: int = 2) -> str:
    f = 10**scale
    return (
        f"CAST(SUM(CAST(round(({expr}) * {f}) AS HUGEINT)) AS DOUBLE)"
        f" / {f}.0 / CAST(COUNT(*) AS DOUBLE)"
    )


# DuckDB inline subquery that shadows the raw `events` view with ts
# truncated from TIMESTAMP_NS to µs TIMESTAMP — the exact value Spark
# sees after io.load_table's nanos→micros floor. Used as
# `FROM {EVENTS_NORM}` (a CTE named `events` would be a circular
# reference in DuckDB).
EVENTS_NORM = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,"
    " event_type, value, props FROM events) events"
)


def cents_window_sum(col: Column, scale: int = 2) -> Column:
    """Integer units for window-function running sums: DuckDB computes
    windowed aggregates over a segment tree (different fp order than
    Spark's streaming frame), so only integer units are portable."""
    return F.round(col * F.lit(float(10**scale))).cast("long")
