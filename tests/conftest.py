import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from greenocr_spark.session import build_session

    s = build_session(
        app_name="greenocr-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            # keep catalog state (bucketed-table test) out of the repo tree
            "spark.sql.warehouse.dir": "/tmp/greenocr_test_warehouse",
            "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/greenocr_derby",
        },
    )
    s.conf.set("spark.sql.session.timeZone", "UTC")
    yield s
    s.stop()


SF_DIR = os.environ.get("GREENOCR_TEST_SF_DIR", "/root/testdata/sf0.001")


@contextlib.contextmanager
def gateway_commands(spark):
    """The Py4J commands the driver sends to the JVM inside the block, one
    str each, in order: every one is a round trip. A call's command reads
    "c\n<target>\n<method>\n...". Python-side garbage collection of JVM
    handles (py4j's memory-delete command, "m\n...") is left out: when it
    runs depends on the interpreter's collector, not on the code under
    test."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counted(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield sent
    finally:
        del client.send_command


def called_methods(commands):
    """The JVM method names of the call commands among `commands`."""
    return [c.split("\n")[2] for c in commands if c.startswith("c\n")]
