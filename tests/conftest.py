import contextlib

import pytest

from svoe_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Test-session latency tuning (round 8): the suite is ~95% fixed
    # per-action latency, and stages derived from parallelized data
    # (createDataFrame/range) default to one task per core — 32 tasks
    # scheduled per tiny stage. Pinning default.parallelism to the
    # shuffle width and dropping the UI measured ~45% off per-action
    # cost (11.9s -> 6.5s per 20 tiny aggregates) with identical
    # results; production sessions (svoe_spark.session.get_spark
    # defaults) are untouched.
    s = get_spark(
        "svoe_spark_tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.default.parallelism": "8",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_mid():
    return SF_MID


@contextlib.contextmanager
def session_conf(spark, key: str, value):
    """Run the block with session conf ``key`` = ``value``, and always
    restore it: the tests share one session."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def session_time_zone(spark, zone: str):
    """``session_conf`` of ``spark.sql.session.timeZone``."""
    return session_conf(spark, "spark.sql.session.timeZone", zone)
