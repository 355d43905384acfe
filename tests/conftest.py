import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    """Count the tests the default ``-m "not slow"`` selection drops."""
    if items:
        stash = items[0].config.stash
        slow = sum(1 for item in items if item.get_closest_marker("slow"))
        stash[_SLOW_DESELECTED] = stash.get(_SLOW_DESELECTED, 0) + slow


def pytest_terminal_summary(terminalreporter, config):
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n and config.getoption("markexpr") == "not slow":
        terminalreporter.write_line(
            f'{n} slow tests deselected by -m "not slow"; full suite: '
            'python -m pytest tests/ -m ""'
        )


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from mr_lda_spark.session import get_spark

    spark = get_spark("mr-lda-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")
