"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in the arcon_spark package (arcon_spark/plans/registry
collects them from operators/, functions/, streaming/); this module is
a thin adapter.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this file by path from another cwd; make the
# arcon_spark package resolvable regardless
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1 pricing
    summary (scan-heavy aggregate, whole-stage codegen end to end)."""
    from arcon_spark.operators.relational import tpch_q1

    return tpch_q1(spark, "/root/testdata/sf0.001")


def _last_green_round(root: str) -> dict[str, int]:
    """Latest driver round in which each query was hash-green, read
    from the CORRECTNESS_r{N}.json files under root."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:  # a side capture such as CORRECTNESS_r11_c8.json
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            for name, res in json.load(fh).items():
                if res.get("hash_match") is True:
                    last[name] = max(last.get(name, 0), rnd)
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    beyond-reference dedup/similarity/text/multimodal suites), ordered
    stalest-first for the driver's prefix sample: by the latest round
    each query was hash-green, oldest first; a query never green leads,
    and ties keep registration order."""
    from arcon_spark.plans.registry import queries as _queries

    qmap = _queries()
    last = _last_green_round(_REPO)
    return {n: qmap[n] for n in sorted(qmap, key=lambda n: last.get(n, 0))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-expressible query; keys
    absent here (vs queries()) are approximate/engine-specific ops the
    driver checks rows-only."""
    from arcon_spark.plans.registry import oracle_sql as _oracle_sql

    return _oracle_sql()
