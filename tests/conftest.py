"""Shared pytest fixtures: one SparkSession per test run."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloudcomputing_flink_application_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="cloudcomputing-flink-application-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '4')}]",
        shuffle_partitions=4,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return f"{TESTDATA}/sf0.001"


@pytest.fixture(autouse=True, scope="module")
def _release_operator_caches():
    """Module-teardown cache release (r13, VERDICT r12 #1): the operator
    ``_persist`` registries are caller-releases, and the whole suite
    shares ONE bounded-heap session — a test that materializes an
    operator but never releases would otherwise pin its composed lineage
    for the rest of the run (the r12 semantic-family OOM).  This net
    bounds any leak to one module; correctness is unaffected (released
    frames recompute from lineage)."""
    yield
    from pyspark.sql import SparkSession

    from cloudcomputing_flink_application_spark.operators import (
        dedup,
        similarity,
    )

    dedup.release_cached()
    similarity.release_cached()
    s = SparkSession.getActiveSession()
    if s is not None:
        s.catalog.clearCache()


def rows_set(df):
    """Order-insensitive row comparison helper."""
    return {tuple(r) for r in df.collect()}


def rows_bag(df) -> Counter:
    """Order-insensitive row comparison helper that counts duplicates."""
    return Counter(tuple(r) for r in df.collect())
