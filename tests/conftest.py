import os

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------- test tiers
#
# The FULL suite (945 tests) takes ~40 min wall on a 4-core box. Default
# tier: the functional surface (~25 min); the SLOW tier adds the
# long-horizon fuzzers and scale probes — multiprocess race schedules,
# hypothesis protocol fuzzing, brute-force cross-checks, the parametrized
# adversarial-corpus oracle sweep (its coverage is duplicated by
# tools/check_oracle.py over ALL registered queries). Slow tests carry
# ``@pytest.mark.slow`` (whole modules: ``pytestmark = pytest.mark.slow``)
# and run only with SPARK_GRAFT_FULL_TESTS=1.


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-horizon fuzzers and scale probes, skipped unless "
        "SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    for item in items:
        if item.get_closest_marker("slow") is not None:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from dbimport_spark import recommended_confs

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("dbimport_spark_tests")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in recommended_confs(shuffle_partitions=8).items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
