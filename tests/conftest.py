import logging
import os

import pytest
from pyspark.sql import SparkSession


def _driver_memory():
    """$SPARK_GRAFT_MEM, else half of physical RAM capped at the 16g the
    suite was written for: the rest is left for one Python worker per task
    thread and for the JVM's off-heap memory."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_GRAFT_MEM") or f"{min(ram_mb // 2, 16 * 1024)}m"


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tilekiln_spark_tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s


@pytest.fixture
def local_solve_log(caplog):
    """The size-adaptive decisions (operators/local_solve.py) logged so
    far in the test, as {"op", "path", "count", "cap"} dicts."""
    caplog.set_level(logging.INFO, logger="tilekiln_spark.operators.local_solve")
    return lambda: [r.local_solve for r in caplog.records if hasattr(r, "local_solve")]
