"""get_spark config overrides: SPARK_GRAFT_SPARK_CONF parsing and the
warning when a running SparkContext makes overrides partly inert.

getOrCreate() is stubbed: on the shared test session it would apply
get_spark's defaults as runtime conf and change later tests' plans.
"""

from __future__ import annotations

import warnings
from unittest import mock

import pytest
from pyspark.sql import SparkSession

from etl_gcp_spark.session import get_spark


@pytest.fixture
def no_build(monkeypatch):
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: mock.MagicMock()
    )


def test_env_pair_without_equals_raises(spark, no_build, monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_SPARK_CONF", "spark.sql.shuffle.partitions=4;oops"
    )
    with pytest.raises(ValueError, match="oops"):
        get_spark()


def test_env_empty_segments_are_ignored(no_build, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SPARK_CONF", ";a.b=1;; ")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        get_spark()


def test_overrides_on_running_context_warn(spark, no_build, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SPARK_CONF", raising=False)
    with pytest.warns(RuntimeWarning, match="already running"):
        get_spark(extra_conf={"spark.eventLog.enabled": "true"})
    monkeypatch.setenv(
        "SPARK_GRAFT_SPARK_CONF", "spark.sql.shuffle.partitions=4"
    )
    with pytest.warns(RuntimeWarning, match="spark.sql.shuffle.partitions"):
        get_spark()


def test_no_overrides_no_warning(spark, no_build, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SPARK_CONF", raising=False)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        get_spark()
