"""Driver-side construction cost: py4j round trips per query build.

Counts are exact and repeat run to run, so the guard checks a count, not
a time.
"""

from __future__ import annotations

# Building trip_length_histogram warm sends 246 commands; with
# PySpark's per-Column call-site capture on, over 750.
MAX_HISTOGRAM_BUILD_COMMANDS = 300


def test_dataframe_debugging_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_histogram_build_py4j_commands(spark, sf_dir, monkeypatch):
    from py4j.java_gateway import GatewayClient

    from mapreduce_hadoop_spark import registry

    build = registry.queries()["trip_length_histogram"]
    build(spark, sf_dir)  # warm: the schema memo is filled

    sent = 0
    original = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        nonlocal sent
        sent += 1
        return original(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    build(spark, sf_dir)
    monkeypatch.undo()
    assert 0 < sent <= MAX_HISTOGRAM_BUILD_COMMANDS
