"""The engine's session records no DataFrame call sites, so building a plan
costs only the Py4J calls that construct it.

With PySpark's call-site capture on, every ``functions``/Column/DataFrame
call first makes four more round trips (active session, a JVM class
lookup, a conf read, the origin set and clear) and walks the Python
stack: about 730 calls to compile TPC-H q6 instead of about 210.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from sql_to_ibis_spark.session import get_spark

# tpch_q6 compiles in 209 Py4J calls without call-site capture and 729
# with it; the bound leaves room for a few more, not for capture
Q6_BUILD_CALL_BUDGET = 300


def test_session_turns_off_call_site_capture(spark):
    assert get_spark() is spark
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_q6_build_stays_within_its_py4j_budget(spark, engine):
    sql = entrymod._PAIRS["tpch_q6_forecast_revenue"][0]
    engine.query(sql)                  # first compile: lookups warm up
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counted(command, *args, **kwargs):
        nonlocal calls
        # object releases ("m\nd\n...") follow the garbage collector
        if not command.startswith("m\n"):
            calls += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        engine.query(sql)
    finally:
        client.send_command = send
    assert 0 < calls <= Q6_BUILD_CALL_BUDGET, calls
