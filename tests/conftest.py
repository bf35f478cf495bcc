"""Shared pytest fixtures (one SparkSession per test session) and the
default test tier."""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from pagerank_mapreduce_implementation_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="spark-graft-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_collection_modifyitems(config, items):
    """The default tier: with no ``-m`` given, ``slow`` tests are
    deselected — except in test files named explicitly on the command
    line, which run whole (``pytest tests/test_oracle_parity.py -k
    pagerank`` runs its tests). ``-m`` overrides this entirely; run
    everything with ``-m "slow or not slow"``."""
    if config.option.markexpr:
        return
    base = config.invocation_params.dir
    named = {
        (base / arg.split("::")[0]).resolve()
        for arg in config.args
        if (base / arg.split("::")[0]).is_file()
    }
    keep, drop = [], []
    for item in items:
        slow = item.get_closest_marker("slow") and item.path.resolve() not in named
        (drop if slow else keep).append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep
