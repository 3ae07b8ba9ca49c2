from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
