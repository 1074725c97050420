"""Shared fixtures: one local SparkSession per test run."""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("peps-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(params=[1, 7], ids=["ranges1", "ranges7"])
def exact_ranges(request, monkeypatch):
    """Force the range-partition count of the exact-sequence kernel.
    Fixture-sized inputs always size to one partition and take its
    ``coalesce(1)`` shortcut, which would leave the multi-partition
    offset arithmetic untested."""
    from prioritizing_event_processing_with_apache_kafka_spark.operators import routing

    monkeypatch.setattr(routing, "_range_partitions", lambda df, **_: request.param)
    return request.param


@pytest.fixture(params=["true", "false"], ids=["aqe_on", "aqe_off"])
def aqe(request, spark):
    """Run the test with adaptive query execution on, then off."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, request.param)
    try:
        yield request.param
    finally:
        spark.conf.set(key, prev)
