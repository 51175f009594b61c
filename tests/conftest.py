"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os

import pytest

from dataextractor_spark.session import get_session

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


#: Plan text names the session timezone in every time expression
#: (``date_format(..., Some(UTC))``), so the suite and
#: tools/capture_plan_goldens.py fix it, and a golden does not depend on
#: the host's default zone. Results do not depend on it:
#: test_results_do_not_depend_on_session_timezone runs other zones.
SESSION_TZ = {"spark.sql.session.timeZone": "UTC"}


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="dataextractor-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf=SESSION_TZ,
    )
    yield s
