from __future__ import annotations

import importlib.util
import os
import sys
from typing import NamedTuple

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arcon_spark.session import get_spark

SF_DIR = os.environ.get("ARCON_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    import tempfile

    warehouse = tempfile.mkdtemp(prefix="arcon_warehouse_")
    s = get_spark(
        "arcon_spark_tests",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _tool(name: str):
    """A module under tools/, loaded by file path (tools/ is not a
    package)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_PLAN_DOCS = _tool("plan_docs")


@pytest.fixture(scope="session")
def compare():
    """tools/check_parity.compare, the parity gate's comparator."""
    return _tool("check_parity").compare


@pytest.fixture(scope="session")
def plan_docs():
    """tools/plan_docs.py: plan capture, the SCALE.md notes and the doc
    renderers."""
    return _PLAN_DOCS


class QueryResult(NamedTuple):
    columns: list
    schema: object  # pyspark StructType
    rows: list
    executed_plan: str | None  # batch queries only, captured before execution
    formatted_plan: str | None
    build_actions: int  # Spark actions the query function ran before returning its frame


class OracleResult(NamedTuple):
    columns: list
    types: list  # DuckDB type names
    rows: list


class ResultCache:
    """Lazy per-query-name results: each name is run once per session,
    and a run that raised re-raises, naming the query, for every
    consumer that asks for it."""

    def __init__(self, run):
        self._run = run
        self._done = {}

    def __getitem__(self, name: str):
        if name not in self._done:
            try:
                self._done[name] = (self._run(name), None)
            except Exception as e:  # noqa: BLE001 - stored for every consumer
                self._done[name] = (None, e)
        result, err = self._done[name]
        if err is not None:
            raise RuntimeError(f"{name} failed: {type(err).__name__}: {err}") from err
        return result


def _actions(sc, group: str) -> int:
    """Spark actions the jobs of `group` belong to: one per SQL execution,
    plus each job that ran outside one (a bare RDD action). Adaptive
    execution may split one action into a number of jobs that depends on
    which stage finishes first (dedup_cc_star_contraction runs 30 or 31
    jobs from one session to the next); the number of actions does not."""
    kv = sc._jsc.sc().statusStore().store()
    wrapper = sc._jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
    actions = set()
    for job in sc.statusTracker().getJobIdsForGroup(group):
        sql = kv.read(wrapper, job).sqlExecutionId()
        actions.add(("sql", sql.get()) if sql.isDefined() else ("job", job))
    return len(actions)


@pytest.fixture(scope="session")
def query_results(spark, sf_dir):
    """One build and one collect per registered query per session; the
    oracle parity case, the schema checks and the plan guards all read
    this result. The build runs under its own job group; every table's
    schema is learned up front, so a query's build-action count does not
    depend on which query read a table first."""
    from arcon_spark.io import TABLES, table_schema
    from arcon_spark.plans.registry import REGISTRY

    sc = spark.sparkContext
    for t in TABLES:
        table_schema(spark, sf_dir, t)

    def run(name):
        spark.catalog.clearCache()
        group = f"build:{name}"
        sc.setJobGroup(group, name)
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plans = (None, None)
        if not name.startswith("stream_"):
            plans = _PLAN_DOCS.capture(df)
        rows = [tuple(r) for r in df.collect()]
        # counted after the collect, so the status store has seen every
        # job the build submitted
        return QueryResult(df.columns, df.schema, rows, *plans, _actions(sc, group))

    return ResultCache(run)


@pytest.fixture(scope="session")
def oracle_results(sf_dir):
    """One DuckDB run per registered oracle per session."""
    import duckdb

    from arcon_spark.io import TABLES
    from arcon_spark.plans.registry import oracle_sql

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def run(name):
        rel = con.sql(oracle_sql()[name])
        return OracleResult([d[0] for d in rel.description], [str(t) for t in rel.types], rel.fetchall())

    return ResultCache(run)


@pytest.fixture(scope="session")
def batch_plans(query_results):
    """Executed-plan string of every batch query, read from the query
    cache for the registry-wide plan guards and SCALE.md; streaming
    plans are checked by their own tapes. A query that failed to build
    fails its consumers by name."""
    from arcon_spark.plans.registry import queries

    plans, failed = {}, []
    for name in sorted(queries()):
        if name.startswith("stream_"):
            continue
        try:
            plans[name] = query_results[name].executed_plan
        except RuntimeError:
            failed.append(name)
    if failed:
        pytest.fail(f"batch queries failed to build: {failed}")
    return plans
