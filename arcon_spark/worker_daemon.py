"""Python worker daemon that keeps Spark's archives off the worker path.

Spark launches its worker daemon with ``pyspark.zip``, the py4j zip and
the spark-core jar first on ``PYTHONPATH``. Every task then calls
``importlib.invalidate_caches()`` (pyspark/worker_util.py), and on
CPython each ``zipimporter`` over those archives re-reads its whole
directory on that call. A worker collects 16 of them; MEASURE.md
("Per-task Python fixed cost") has what that costs each task. This
module drops the archives the interpreter does not need from
``sys.path`` and then runs the stock ``pyspark.daemon``; the workers it
forks inherit the pruned path. ``session.get_spark`` selects it with
``spark.python.daemon.module``.

Nothing here may import pyspark before the prune, and neither may
``arcon_spark/__init__.py``, which ``python -m`` imports first.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_zip(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or (name.startswith("py4j-") and name.endswith(".zip"))


def _installed_matches(pyspark_zip: str, rest: list[str]) -> bool:
    """True when `rest` holds a py4j and a pyspark whose version.py is
    byte-identical to the one in `pyspark_zip`."""
    pyspark = PathFinder.find_spec("pyspark", rest)
    if pyspark is None or not pyspark.submodule_search_locations:
        return False
    if PathFinder.find_spec("py4j", rest) is None:
        return False
    installed = os.path.join(pyspark.submodule_search_locations[0], "version.py")
    try:
        with open(installed, "rb") as f, zipfile.ZipFile(pyspark_zip) as z:
            return f.read() == z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def prune(path: list[str]) -> list[str]:
    """`path` without its jars, which hold no Python, and without
    pyspark.zip and the py4j zip when the rest of `path` provides the
    same pyspark and a py4j."""
    kept = [p for p in path if not p.endswith(".jar")]
    rest = [p for p in kept if not _spark_zip(p)]
    pyspark_zip = next((p for p in kept if os.path.basename(p) == "pyspark.zip"), None)
    return rest if pyspark_zip and _installed_matches(pyspark_zip, rest) else kept


if __name__ == "__main__":
    pruned = prune(sys.path)
    for entry in set(sys.path) - set(pruned):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = pruned

    from pyspark.daemon import manager

    manager()
