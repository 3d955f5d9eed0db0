"""Count the py4j round trips a block of driver code makes.

Every JVM call from Python (a method call, a constructor, a ``jvm.a.b.C``
lookup, an object release) is one ``send_command`` on the session's
gateway client and waits for the JVM's answer. At small scale these round
trips, not executor work, are what ``Query.build`` spends its time on, so
they are counted like jobs are: ``tests/test_build_round_trips.py`` pins
the count for the tpch builds and ``tools/profile_query.py`` prints it per
build.

Only the calls of the counting thread are counted. py4j releases JVM
objects from its own finalizer thread, on its own connection, whenever
Python's garbage collector frees them; those releases do not hold up the
build and would make the count differ from run to run.
"""

from __future__ import annotations

import contextlib
import threading
from collections.abc import Iterator

from pyspark.sql import SparkSession


class RoundTrips:
    """The number of ``send_command`` calls made while counting."""

    n = 0


@contextlib.contextmanager
def count_round_trips(spark: SparkSession) -> Iterator[RoundTrips]:
    """Count the py4j ``send_command`` calls that this thread makes on
    ``spark``'s gateway client inside the ``with`` block; read ``.n`` after
    the block."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    counted = RoundTrips()
    send = client.send_command
    thread = threading.get_ident()

    def send_command(*args, **kwargs):
        if threading.get_ident() == thread:
            counted.n += 1
        return send(*args, **kwargs)

    client.send_command = send_command
    try:
        yield counted
    finally:
        del client.send_command
