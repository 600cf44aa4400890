from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from metricproxy_spark.session import get_spark

    # Small shuffle-partition count for tiny test data; AQE coalesces
    # further. Queries themselves must not depend on this setting.
    spark = get_spark(app_name="metricproxy-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness_dir() -> str:
    return SF_CORRECTNESS


def pytest_collection_modifyitems(items):
    """Run test_registry_contract's checks of one query back to back
    (runs, schema, oracle), so its ``built`` fixture builds each query
    once. A stable sort by query name keeps the check order."""
    at = [
        i
        for i, item in enumerate(items)
        if item.module.__name__.endswith("test_registry_contract")
        and "name" in getattr(getattr(item, "callspec", None), "params", {})
    ]
    grouped = sorted(
        (items[i] for i in at), key=lambda item: item.callspec.params["name"]
    )
    for i, item in zip(at, grouped):
        items[i] = item
