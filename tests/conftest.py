import gc
import threading

import py4j.clientserver
import pytest

from qs_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("qs_spark_tests", cores=8, shuffle_partitions=16)
    yield s
    s.stop()


def count_py4j_commands(fn):
    """(fn(), number of py4j commands the calling thread sent while fn ran).
    Plan construction is driver time: each DataFrame or Column call is at
    least one round trip.  Only this thread's commands count: py4j flushes
    object-delete batches (0-260 of them) from a background thread at times
    of its own, and earlier garbage is collected first."""
    conn = py4j.clientserver.ClientServerConnection
    orig = conn.send_command
    sent = [0]
    me = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == me:
            sent[0] += 1
        return orig(self, command)

    gc.collect()
    gc.disable()
    conn.send_command = counting
    try:
        out = fn()
    finally:
        conn.send_command = orig
        gc.enable()
    return out, sent[0]
