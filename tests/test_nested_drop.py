"""Tests for drop_nested (operators/transform.py) — the nested drop-select
the reference sketches as future work (/root/reference/README.md:98-102)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from config_driven_pyspark_spark import Pipeline
from config_driven_pyspark_spark.operators.transform import drop_nested
from tests.conftest import analyzed_expr_size, to_df

FIXTURE = [{
    "id": 1,
    "info": {"a": 1, "b": 2, "c": {"x": 9, "junk": "z"}},
    "pets": [
        {"name": "rex", "age": 3, "face": {"eyes": [{"colour": "blue", "size": 2}]}},
        {"name": "tom", "age": 5, "face": {"eyes": [{"colour": "green", "size": 1}]}},
    ],
    "extra": "drop me",
}]


def _flat_names(schema, prefix=""):
    out = []
    for f in schema.fields:
        dt = f.dataType
        path = f"{prefix}{f.name}"
        out.append(path)
        while dt.typeName() == "array":
            dt = dt.elementType
        if dt.typeName() == "struct":
            out.extend(_flat_names(dt, path + "."))
    return out


def test_drop_struct_leaf_and_root(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["info.b", "extra"])
    names = _flat_names(out.schema)
    assert "info.b" not in names and "extra" not in names
    assert "info.a" in names and "info.c.x" in names
    assert out.collect()[0]["info"]["a"] == 1


def test_drop_deep_and_inside_arrays(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["info.c.junk", "pets.face.eyes.size"])
    names = _flat_names(out.schema)
    assert "info.c.junk" not in names
    assert "pets.face.eyes.size" not in names
    row = out.collect()[0]
    # untouched siblings intact, both array elements rebuilt
    assert [p["face"]["eyes"][0]["colour"] for p in row["pets"]] == ["blue", "green"]
    assert [p["age"] for p in row["pets"]] == [3, 5]


@pytest.mark.parametrize(
    "paths",
    [["info.c", "info.c.x"], ["info.c.x", "info.c"], ["pets.face", "pets.face.eyes.size"]],
    ids=["struct_first", "leaf_first", "inside_array"],
)
def test_drop_struct_and_leaf_inside_it(spark, paths):
    # the dropped struct takes the drop of its own member with it, in either
    # path order and at any depth
    df = to_df(spark, FIXTURE)
    names = _flat_names(drop_nested(df, paths).schema)
    dropped = min(paths, key=len)
    assert not any(n == dropped or n.startswith(dropped + ".") for n in names)
    assert "info.a" in names and "pets.name" in names


def test_drop_plan_size_linear_in_sibling_structs(spark):
    def size(width):
        subs = ", ".join(f"c{i}: struct<x: int, y: int>" for i in range(width))
        df = spark.createDataFrame([], f"s struct<{subs}>")
        return analyzed_expr_size(drop_nested(df, [f"s.c{i}.y" for i in range(width)]))

    assert size(16) <= 2.5 * size(8)


def test_drop_case_insensitive(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["INFO.C.JUNK", "Extra"])
    names = _flat_names(out.schema)
    assert "info.c.junk" not in names and "extra" not in names


def test_drop_missing_warns_and_skips(spark, caplog):
    df = to_df(spark, FIXTURE)
    with caplog.at_level("WARNING"):
        out = drop_nested(df, ["info.nope.deep", "ghost"])
    assert "not found" in caplog.text
    assert out.columns == df.columns
    assert out.collect() == df.collect()


def test_drop_untouched_columns_pass_through(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["info.b"])
    assert out.select("pets", "extra", "id").collect() == \
        df.select("pets", "extra", "id").collect()


def test_drop_stage_routes_nested(spark):
    out = Pipeline.from_config([
        {"stage": "source", "format": "parquet",
         "path": "/root/testdata/sf0.001/events.parquet",
         "spark_confs": {"spark.sql.legacy.parquet.nanosAsLong": "true"}},
        {"stage": "with_columns",
         "columns": {"info": "named_struct('etype', event_type, 'junk', props)"}},
        {"stage": "drop", "columns": ["info.junk", "props"]},
    ]).run(spark)
    assert "props" not in out.columns
    info_fields = [f.name for f in out.schema["info"].dataType.fields]
    assert info_fields == ["etype"]
