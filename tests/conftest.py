"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambda_kafka_to_s3_parquet_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lk2sp-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


def jobs_in(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, on ANY thread: snapshot
    scans are built on a driver thread pool, outside the caller's job
    group, so a job-group count would miss them."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    fn()
    return dag.numTotalJobs() - before


def py4j_commands(spark, fn) -> list[str]:
    """The py4j commands the driver sends to the JVM while ``fn`` runs, on
    any thread, leaving out py4j's garbage-collection deletes
    (``m\\nd\\n``): those go out whenever Python happens to collect a
    proxy, not when the code under test calls the JVM."""
    client = spark._jvm._gateway_client
    sent: list[str] = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        client.send_command = send
    return sent
