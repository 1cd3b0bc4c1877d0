import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute scale-stress tests (deselect with -m 'not slow')",
    )


@pytest.fixture(autouse=True)
def _fresh_plan_cache():
    """Plan tests must explain FRESH, unexecuted frames: an executed
    memoized frame's AQE explain lists final + initial trees (the
    documented gotcha), doubling Exchange counts. Clearing the
    per-application plan memo before every test guarantees each
    registered-fn call builds anew (rebuild cost is ~2 s for the
    heaviest frame — negligible against the suite). Only plans:
    ``cache.ARTIFACTS`` is kept, or every test would rebuild every
    trained index and stored table it touches."""
    from mapreduce_framework_in_go_spark import cache

    cache.PLANS.clear()
    yield


@pytest.fixture(scope="session")
def spark():
    from mapreduce_framework_in_go_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))  # tests: modest parallelism
    spark = get_spark(app_name="tests", cpus=cpus, shuffle_partitions=cpus)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the test tables registered as views, mirroring
    the driver's oracle setup."""
    import duckdb

    from mapreduce_framework_in_go_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
