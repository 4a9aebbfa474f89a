import contextlib
import gc
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from icdc_dataloader_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        parallelism=int(os.environ.get("TEST_SPARK_CPUS", "8")),
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture
def round_trips(spark, monkeypatch):
    """``with round_trips() as n:`` leaves in ``n[0]`` the py4j commands
    this Python process sent inside the block.

    Garbage is collected, and py4j's queue of proxy releases drained,
    before the block starts: a ``JavaObject`` that an earlier test left
    behind is released with one ``m d`` command, sent from py4j's
    finalizer thread whenever Python frees it, and would otherwise be
    counted against the block."""
    from py4j.clientserver import ClientServerConnection

    count = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        count[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    releases = spark.sparkContext._gateway._gateway_client.finalizer_deque

    @contextlib.contextmanager
    def measure():
        gc.collect()
        deadline = time.monotonic() + 10
        while releases and time.monotonic() < deadline:
            time.sleep(0.01)
        used = [0]
        before = count[0]
        try:
            yield used
        finally:
            used[0] = count[0] - before

    return measure
