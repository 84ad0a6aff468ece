"""Shared Spark session, JSON-literal fixture and plan-size/cost helpers.

Fixture style mirrors the reference's test harness
(``/root/reference/test/conftest.py:7-19``): a session-scoped local
SparkSession and a ``to_df`` helper that round-trips Python dicts through
``spark.read.json`` so schemas are JSON-inferred (ints → bigint, floats →
double, struct fields alphabetized) — exactly the shapes the behavioral
goldens in FIXTURES.md §A assume.
"""

from __future__ import annotations

import contextlib
import json
import threading
import types

import pytest
from pyspark.sql import DataFrame, SparkSession


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("config-driven-pyspark-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield session
    session.stop()


def to_df(spark: SparkSession, data) -> DataFrame:
    """dict-or-list of dicts → DataFrame with a JSON-inferred schema."""
    if isinstance(data, dict):
        data = [data]
    return spark.read.json(
        spark.sparkContext.parallelize([json.dumps(row) for row in data])
    )


def analyzed_expr_size(df: DataFrame) -> int:
    """Node count of the analysed plan's top-level expressions (each tree
    walked with ``TreeNode.map``). Analysis only — no Spark job."""
    predef = getattr(getattr(df.sparkSession._jvm.scala, "Predef$"), "MODULE$")
    identity = getattr(predef, "$conforms")()
    exprs = df._jdf.queryExecution().analyzed().expressions()
    return sum(int(exprs.apply(i).map(identity).size()) for i in range(exprs.size()))


@contextlib.contextmanager
def py4j_calls():
    """Count the py4j gateway commands the calling thread sends inside the
    block (driver → JVM round trips, e.g. of building an expression); the
    yielded namespace's ``n`` holds the count. No Spark job. Commands of
    other threads, such as py4j's release of collected Java objects, are
    not counted."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    counter = types.SimpleNamespace(n=0)
    caller = threading.get_ident()
    originals = {
        cls: cls.send_command for cls in (ClientServerConnection, GatewayConnection)
    }

    def counting(send):
        def send_command(self, *args, **kwargs):
            counter.n += threading.get_ident() == caller
            return send(self, *args, **kwargs)

        return send_command

    for cls, send in originals.items():
        cls.send_command = counting(send)
    try:
        yield counter
    finally:
        for cls, send in originals.items():
            cls.send_command = send
