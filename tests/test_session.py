"""The session's Python worker daemon: arcon_spark.worker_daemon keeps
Spark's archives off the worker sys.path, so the per-task
importlib.invalidate_caches() no longer re-reads them."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from arcon_spark.worker_daemon import prune

VERSION_PY = b'__version__: str = "4.1.2"\n'


@pytest.mark.parametrize(
    "installed_version, installed_py4j, drops_zips",
    [
        (VERSION_PY, True, True),
        (b'__version__: str = "4.0.0"\n', True, False),
        (VERSION_PY, False, False),
        (None, True, False),
    ],
    ids=["same-pyspark", "other-pyspark", "no-py4j", "no-pyspark"],
)
def test_prune_drops_jars_and_zips_only_for_the_same_installed_pyspark(
    tmp_path, installed_version, installed_py4j, drops_zips
):
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    site.mkdir()
    pyspark_zip, py4j_zip = str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", VERSION_PY)
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    if installed_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(installed_version)
    if installed_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")

    path = [pyspark_zip, py4j_zip, str(lib / "spark-core_2.13-4.1.2.jar"), str(site)]
    want = [str(site)] if drops_zips else [pyspark_zip, py4j_zip, str(site)]
    assert prune(path) == want


def test_workers_import_pyspark_without_archive_importers(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        archives = sum(
            1
            for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and ("pyspark.zip" in path or ".jar" in path)
        )
        yield pd.DataFrame({"origin": [pyspark.__file__], "archives": [archives]})

    rows = spark.range(2, numPartitions=2).mapInPandas(probe, "origin string, archives long").collect()
    assert len(rows) == 2
    for r in rows:
        assert ".zip" not in r.origin, r.origin
        assert r.archives == 0


def test_importing_the_package_does_not_import_pyspark():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import arcon_spark, sys; print(sorted(m for m in sys.modules if m.split('.')[0] == 'pyspark'))",
        ],
        cwd=repo,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]", out.stdout
