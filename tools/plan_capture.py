"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage: python tools/plan_capture.py [--iterative] <tag> <suffix> <query> [...]

Writes plans/<tag>/<query>_<suffix>.txt for each query — the
before/after plan evidence files the optimization rounds commit
(OPTIMIZATION_r{N}.md cites them). Queries that run driver-side jobs at
construction time (iterative loops, router stats) still capture the
plan of the RETURNED frame — the final verify/output fragment.

--iterative (VERDICT r10 #3) additionally captures the plan of EVERY
frame the query executes eagerly while it is being constructed, by
tapping DataFrame.localCheckpoint / .collect / .count for the duration
of the capture: each intercepted action dumps the frame's plan to
plans/<tag>/<query>_<suffix>.iterNN_<action>.txt BEFORE the action
runs. This is how loop-body plans (kmeans/semdedup Lloyd's iterations,
the CC fixpoint rounds) get onto disk — the returned frame alone is a
post-localCheckpoint `Scan ExistingRDD` that shows nothing.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from arcon_spark.session import get_spark
from plan_docs import capture

_ITER_CAP = 60  # hard cap on per-query intercepted dumps (runaway guard)


def _fmt(df) -> str:
    return capture(df)[1] + "\n"


class _IterTap:
    """Context manager that monkeypatches the eager DataFrame actions
    the repo's iterative queries use (localCheckpoint / collect /
    count) to dump each executed frame's plan before running it."""

    def __init__(self, outdir: str, name: str, suffix: str) -> None:
        self.prefix = f"{outdir}/{name}_{suffix}"
        self.n = 0

    def _dump(self, df, action: str) -> None:
        if self.n >= _ITER_CAP:
            return
        self.n += 1
        path = f"{self.prefix}.iter{self.n:02d}_{action}.txt"
        try:
            with open(path, "w") as fh:
                fh.write(_fmt(df))
        except Exception as ex:  # never break the query being captured
            print(f"  (iter-tap dump failed: {type(ex).__name__}: {ex})")

    @staticmethod
    def _df_cls():
        # Spark 4: pyspark.sql.DataFrame is the abstract API; the
        # concrete class (whose methods instance calls dispatch to)
        # is pyspark.sql.classic.dataframe.DataFrame
        try:
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame
        return DataFrame

    def __enter__(self):
        DataFrame = self._df_cls()

        self._orig = (
            DataFrame.localCheckpoint,
            DataFrame.collect,
            DataFrame.count,
        )
        tap = self
        o_lc, o_collect, o_count = self._orig

        def localCheckpoint(df, eager=True):
            tap._dump(df, "localCheckpoint")
            return o_lc(df, eager)

        def collect(df):
            tap._dump(df, "collect")
            return o_collect(df)

        def count(df):
            tap._dump(df, "count")
            return o_count(df)

        DataFrame.localCheckpoint = localCheckpoint
        DataFrame.collect = collect
        DataFrame.count = count
        return self

    def __exit__(self, *exc):
        DataFrame = self._df_cls()

        (
            DataFrame.localCheckpoint,
            DataFrame.collect,
            DataFrame.count,
        ) = self._orig
        return False


def main() -> None:
    args = sys.argv[1:]
    iterative = False
    if args and args[0] == "--iterative":
        iterative = True
        args = args[1:]
    tag, suffix = args[0], args[1]
    names = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan_capture")
    from arcon_spark.plans.registry import queries

    qmap = queries()
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        path = f"{outdir}/{name}_{suffix}.txt"
        if iterative:
            with _IterTap(outdir, name, suffix) as tap:
                text = _fmt(qmap[name](spark, sf_dir))
            print(f"  {tap.n} iterative frame plan(s) captured")
        else:
            text = _fmt(qmap[name](spark, sf_dir))
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
