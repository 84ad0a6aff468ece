"""Shared Spark session, JSON-literal fixture and plan-size helpers.

Fixture style mirrors the reference's test harness
(``/root/reference/test/conftest.py:7-19``): a session-scoped local
SparkSession and a ``to_df`` helper that round-trips Python dicts through
``spark.read.json`` so schemas are JSON-inferred (ints → bigint, floats →
double, struct fields alphabetized) — exactly the shapes the behavioral
goldens in FIXTURES.md §A assume.
"""

from __future__ import annotations

import json

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
