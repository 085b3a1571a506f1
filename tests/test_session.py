"""Session defaults of ``session.get_spark``: the two fixed Spark 4.1 costs
it switches off stay off."""

from __future__ import annotations

import threading

from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F


def test_fixed_cost_switches_are_off(spark):
    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    """Building a small expression costs a handful of py4j round trips
    (35 with PySpark's call-site capture on)."""
    (F.col("x") + 1).alias("y")  # warm py4j's class lookups
    calls = []
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counted(*args, **kwargs):
        # py4j's finalizer thread sends object releases at its own pace
        if threading.get_ident() == me:
            calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    (F.col("x") + 1).alias("y")
    monkeypatch.undo()
    assert len(calls) <= 8
