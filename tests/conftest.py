import contextlib
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from sparklead import get_spark

    s = get_spark("sparklead-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def gateway_calls(spark):
    """Context-manager factory counting py4j gateway round-trips made inside
    the ``with`` block — every Column/DataFrame call the driver sends to the
    JVM. Plan-construction cost is deterministic in this count, so tests can
    pin it without timing anything::

        with gateway_calls() as calls:
            out = with_simhash(df, "toks")
        assert calls.n <= 500

    py4j memory commands are not counted: they release JVM references of
    Python objects freed earlier, whenever the garbage collector gets to
    them, so their number varies from run to run (0-226 per build
    measured on the SimHash builders).
    """
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client

    @contextlib.contextmanager
    def counting():
        count = types.SimpleNamespace(n=0)
        had_own = "send_command" in vars(client)
        original = client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                count.n += 1
            return original(command, *args, **kwargs)

        client.send_command = send_command
        try:
            yield count
        finally:
            if had_own:
                client.send_command = original
            else:
                del client.send_command

    return counting
