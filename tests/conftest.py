"""Shared pytest fixtures: one small local SparkSession for the suite."""

from __future__ import annotations

import uuid

import pytest

from data_warehousing_assignment_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "pytest",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.pyspark.enabled": "true"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


SF_SMALL = "/root/testdata/sf0.001"


def count_jobs(spark, run):
    """``(run(), the number of Spark jobs run() started)``, counted
    through a job group and statusTracker."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
