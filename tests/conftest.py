from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"


def _driver_memory() -> str:
    """``min(48g, half the physical RAM)``: the session default heap is
    48g whatever the host has, and over a full test run the driver JVM
    grows toward it before collecting (10 GB RSS seen on a 15 GB
    host)."""
    half_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
               // 2 // 2 ** 20)
    return f"{min(48 * 1024, half_mb)}m"


# before any session starts; an explicit setting wins
os.environ.setdefault("SPARK_DRIVER_MEMORY", _driver_memory())


@pytest.fixture(scope="session")
def spark():
    from bodo_spark.session import get_spark
    s = get_spark(app_name="bodo_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    from bodo_spark.verify import duckdb_conn
    return duckdb_conn(SF_DIR)
