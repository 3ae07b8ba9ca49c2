"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
under ``.perfbench/`` in the checkout, and every temporary file Spark
or the program writes goes there too. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it carries the contention stamps, and the full record (stamps,
per-operation times, spans) is written to ``.perfbench/results/``.
See ``perfbench/NOTES.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--cpus",
        type=int,
        default=os.cpu_count(),
        help="Spark local parallelism (default: every core; 1 gives the single-threaded reference)",
    )
    return p.parse_args(argv)


def _prepare_env(cpus: int, run_dir: str) -> None:
    """Everything the program inherits: its parallelism, and temporary
    directories inside the checkout. The program's own defaults (master
    memory, confs) are left alone."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the JVM unpacks its native libraries (snappy, lz4, RocksDB) into
    # java.io.tmpdir, and writes /tmp/hsperfdata_* unless perf data is off
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    # Python workers unpickle the benchmark's operators and the
    # program's modules by import path
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    # import the benchmark as the ``perfbench`` package, so its modules
    # (trace, stream) never shadow standard-library names
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    if not os.path.isdir(os.path.join(ROOT, "arcon_spark")):
        print(f"perfbench: no arcon_spark package under {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    _prepare_env(args.cpus, run_dir)
    os.chdir(run_dir)  # derby, warehouse and checkpoint litter stays in the run dir
    from perfbench.workloads import run_workload

    try:
        result, record = run_workload(args, WORK, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"stamps": record["stamps"], "record": os.path.relpath(out, ROOT)}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    os._exit(code)
