"""Driver-side cost of building a CEP query's plan, pinned in py4j
commands.

Every command is one blocking round-trip from the Python driver to the
JVM. The CEP source and kernels build their plans from SQL text
(operators/fast_path.py module docstring); a Column-tree builder costs
several commands per ``F.*`` call and would blow these ceilings. Counts
are taken on a warm session whose parquet schema memo is warm, and
leave out the ``m`` memory-release commands that garbage collection
interleaves at random."""

from __future__ import annotations

import contextlib
import threading

import py4j.clientserver
import pytest

from flink_cep_examples_spark.queries import QUERIES, load_all
from flink_cep_examples_spark.sources.billing import events_as_billing

load_all()


@contextlib.contextmanager
def py4j_commands():
    """Count the commands this thread sends while the block runs."""
    cls = py4j.clientserver.ClientServerConnection
    orig = cls.send_command
    me = threading.current_thread()
    sent = [0]

    def send_command(conn, command):
        if threading.current_thread() is me and not command.startswith("m\n"):
            sent[0] += 1
        return orig(conn, command)

    cls.send_command = send_command
    try:
        yield sent
    finally:
        cls.send_command = orig


@pytest.mark.parametrize(
    "name, ceiling",
    [
        ("events_as_billing", 60),
        ("cep_alerts_with_timeouts", 200),
        ("cep_match_recognize", 200),
    ],
)
def test_construction_py4j_ceiling(spark, sf_small, name, ceiling):
    build = events_as_billing if name == "events_as_billing" else QUERIES[name]
    build(spark, sf_small)  # warms the schema memo and the kernels' data checks
    counts = []
    for _ in range(3):
        with py4j_commands() as sent:
            build(spark, sf_small)
        counts.append(sent[0])
    assert 0 < min(counts) <= ceiling, counts
