from __future__ import annotations

import threading
import uuid

import pytest

from inspectehr_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="inspectehr-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """`count_jobs(fn)` runs `fn()` under a fresh job group and returns
    the number of Spark jobs it launched. The listener bus is drained
    before counting, so a job that ran is never missed."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def count_py4j(spark):
    """`count_py4j(fn)` runs `fn()` and returns `(result, n)`: n is the
    number of py4j commands `fn` sent to the JVM from this thread. Object
    releases, which py4j's finalizer thread sends whenever Python garbage
    is collected, are not counted."""
    client = spark.sparkContext._gateway._gateway_client
    me = threading.get_ident()

    def count(fn):
        n = 0
        send = client.send_command

        def counting(command, *args, **kwargs):
            nonlocal n
            if threading.get_ident() == me and not command.startswith("m\n"):
                n += 1
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            result = fn()
        finally:
            client.send_command = send
        return result, n

    return count
