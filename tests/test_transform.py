"""Behavioral goldens for NestedTransformer — ported reference semantics.

Each test pins a behavior of the reference's ``Functioniser`` (fixture shapes
from FIXTURES.md §A; original pins in
``/root/reference/test/test_functioniser.py``), plus the nested-array fix
that improves on the reference (SURVEY.md §1.2).
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from config_driven_pyspark_spark import NestedTransformer
from tests.conftest import analyzed_expr_size, to_df


PEOPLE = [
    {
        "id": 1,
        "firstname": "Christopher",
        "lastname": "Lee",
        "rootarray": [1, 2],
        "unchanged": "yes",
    },
    {
        "id": 2,
        "firstname": "Miriam",
        "lastname": "Margolyes",
        "rootarray": [10, 20, 30],
        "unchanged": "yes",
    },
]

PETS = {
    "pets": {
        "has_pets": "yes",
        "pet_names": ["Fido", "Spot"],
        "pet_details": [
            {"some": [{"contrived": {"array": [{"setup": "   SILLINESS  "}]}}]}
        ],
    },
    "hoomans": [
        {
            "names": ["Jack", "Jill"],
            "address": {"house": 23, "street": "A Nice Street"},
        }
    ],
}

MECHANICS = {
    "id": 1,
    "nested": [
        {"beep": "boop", "schmested": {"bar": 2, "baz": [3], "foo": 1}}
    ],
    "something": "else",
}


def collect_sorted(df, key="id"):
    return [r.asDict(recursive=True) for r in df.orderBy(key).collect()]


# -- flat columns (A1) -------------------------------------------------------


def test_lambda_arithmetic(spark):
    df = to_df(spark, PEOPLE)
    out = NestedTransformer().add("id", lambda col: col + 1).apply(df)
    assert [r["id"] for r in collect_sorted(out)] == [2, 3]


def test_builtin_by_name(spark):
    df = to_df(spark, PEOPLE)
    out = NestedTransformer().add("firstname", "upper").apply(df)
    assert [r["firstname"] for r in collect_sorted(out)] == ["CHRISTOPHER", "MIRIAM"]


def test_literal_column_changes_type(spark):
    df = to_df(spark, PEOPLE)
    out = NestedTransformer().add("id", F.lit("x")).apply(df)
    assert dict(out.dtypes)["id"] == "string"
    assert {r["id"] for r in out.collect()} == {"x"}


def test_untouched_columns_pass_through(spark):
    df = to_df(spark, PEOPLE)
    out = NestedTransformer().add("id", lambda c: c + 1).apply(df)
    assert out.columns == df.columns
    assert [r["unchanged"] for r in collect_sorted(out)] == ["yes", "yes"]
    assert [r["lastname"] for r in collect_sorted(out)] == ["Lee", "Margolyes"]


def test_new_roots_appended_sorted(spark):
    df = to_df(spark, PEOPLE)
    out = (
        NestedTransformer()
        .add("newroot2", F.lit("two"))
        .add("newroot1", F.lit("one"))
        .apply(df)
    )
    assert out.columns == df.columns + ["newroot1", "newroot2"]
    row = out.orderBy("id").first()
    assert (row["newroot1"], row["newroot2"]) == ("one", "two")


def test_root_array_elementwise(spark):
    df = to_df(spark, PEOPLE)
    out = NestedTransformer().add("rootarray", lambda c: c + 1).apply(df)
    assert [r["rootarray"] for r in collect_sorted(out)] == [[2, 3], [11, 21, 31]]


def test_composition_order(spark):
    # add lower then trim ⇒ trim(lower(x)) — reference test_functioniser.py:176-184
    df = to_df(spark, [{"id": 1, "a": "  XYZ  "}])
    out = NestedTransformer().add("a", "lower").add("a", "trim").apply(df)
    assert out.first()["a"] == "xyz"


# -- nested structs/arrays (A2) ----------------------------------------------


def test_nested_leaf(spark):
    df = to_df(spark, PETS)
    out = NestedTransformer().add("pets.has_pets", "upper").apply(df)
    row = out.first().asDict(recursive=True)
    assert row["pets"]["has_pets"] == "YES"
    # sibling fields untouched
    assert row["pets"]["pet_names"] == ["Fido", "Spot"]
    assert row["hoomans"][0]["address"]["house"] == 23


def test_array_of_strings_map(spark):
    df = to_df(spark, PETS)
    out = NestedTransformer().add("pets.pet_names", "upper").apply(df)
    assert out.first().asDict(recursive=True)["pets"]["pet_names"] == ["FIDO", "SPOT"]


def test_three_array_deep_composed(spark):
    df = to_df(spark, PETS)
    out = (
        NestedTransformer()
        .add("pets.pet_details.some.contrived.array.setup", "lower")
        .add("pets.pet_details.some.contrived.array.setup", "trim")
        .apply(df)
    )
    row = out.first().asDict(recursive=True)
    assert (
        row["pets"]["pet_details"][0]["some"][0]["contrived"]["array"][0]["setup"]
        == "silliness"
    )


def test_conditional_on_array_elements(spark):
    df = to_df(spark, PETS)
    out = (
        NestedTransformer()
        .add(
            "hoomans.names",
            lambda c: F.when(c == "Jack", "JACK!").otherwise(c),
        )
        .apply(df)
    )
    assert out.first().asDict(recursive=True)["hoomans"][0]["names"] == ["JACK!", "Jill"]


def test_array_of_struct_leaf(spark):
    df = to_df(spark, PETS)
    out = NestedTransformer().add("hoomans.address.street", "upper").apply(df)
    row = out.first().asDict(recursive=True)
    assert row["hoomans"][0]["address"]["street"] == "A NICE STREET"
    assert row["hoomans"][0]["address"]["house"] == 23
    assert row["hoomans"][0]["names"] == ["Jack", "Jill"]


def test_create_member_in_struct(spark, caplog):
    df = to_df(spark, PETS)
    with caplog.at_level(logging.WARNING):
        out = (
            NestedTransformer()
            .add("hoomans.address.city", F.lit("Townsville"))
            .apply(df)
        )
    assert "not found in input schema" in caplog.text
    row = out.first().asDict(recursive=True)
    assert row["hoomans"][0]["address"]["city"] == "Townsville"
    assert row["hoomans"][0]["address"]["house"] == 23


def test_create_member_in_array_of_struct(spark):
    df = to_df(spark, PETS)
    out = NestedTransformer().add("pets.pet_details.foo", F.lit("bar")).apply(df)
    assert out.first().asDict(recursive=True)["pets"]["pet_details"][0]["foo"] == "bar"


def test_partial_path_targets_struct(spark):
    # a config path addressing a struct applies the function to the struct
    df = to_df(spark, PETS)
    out = (
        NestedTransformer()
        .add("hoomans.address", lambda c: c.withField("house", c.getField("house") * 2))
        .apply(df)
    )
    assert out.first().asDict(recursive=True)["hoomans"][0]["address"]["house"] == 46


# -- improvement over the reference: array<array<T>> -------------------------


def test_nested_array_of_array_elements(spark):
    df = to_df(spark, {"id": 1, "aa": [[1, 2], [3]]})
    out = NestedTransformer().add("aa", lambda c: c + 1).apply(df)
    assert out.first()["aa"] == [[2, 3], [4]]


# -- case-insensitivity (A3) -------------------------------------------------


def test_case_insensitive_paths(spark):
    df = to_df(spark, MECHANICS)
    out = (
        NestedTransformer()
        .add("iD", lambda c: c + 10)
        .add("nested.schmested.BAZ", lambda c: c * 2)
        .apply(df)
    )
    row = out.first().asDict(recursive=True)
    assert row["id"] == 11
    assert row["nested"][0]["schmested"]["baz"] == [6]


# -- warnings / errors (A3) --------------------------------------------------


def test_missing_field_warns_and_creates_root(spark, caplog):
    df = to_df(spark, MECHANICS)
    with caplog.at_level(logging.WARNING):
        out = NestedTransformer().add("rooty", F.lit(5)).apply(df)
    assert "rooty" in caplog.text
    assert out.first()["rooty"] == 5


def test_missing_leaf_creates_on_existing_parent(spark, caplog):
    df = to_df(spark, MECHANICS)
    with caplog.at_level(logging.WARNING):
        out = NestedTransformer().add("nested.schmested.f00b4r", F.lit("v")).apply(df)
    assert "f00b4r" in caplog.text
    assert out.first().asDict(recursive=True)["nested"][0]["schmested"]["f00b4r"] == "v"


def test_missing_parent_raises(spark):
    df = to_df(spark, MECHANICS)
    with pytest.raises(ValueError, match="Parent struct"):
        NestedTransformer().add("nested.schmested.a.b.c", F.lit(1)).apply(df)


def test_unknown_function_name_raises(spark):
    with pytest.raises(ValueError, match="not found"):
        NestedTransformer().add("id", "no_such_function_xyz")


def test_bad_registration_raises(spark):
    with pytest.raises(ValueError, match="must be a Column or callable"):
        NestedTransformer().register_function("bad", 42)


# -- registry (A4) -----------------------------------------------------------


def test_custom_function_shadows_builtin(spark):
    df = to_df(spark, [{"id": 1, "a": "aA"}])
    engine = NestedTransformer()
    engine.register_function("upper", lambda c: F.lit("shadowed"))
    out = engine.add("a", "upper").apply(df)
    assert out.first()["a"] == "shadowed"


def test_registry_survives_reset(spark):
    df = to_df(spark, [{"id": 1, "a": "x"}])
    engine = NestedTransformer()
    engine.register_function("mark", F.lit("marked"))
    engine.add("a", "mark")
    engine.reset()
    out = engine.add("a", "mark").apply(df)
    assert out.first()["a"] == "marked"


def test_cross_column_reference_from_nested_context(spark):
    # functions may reference other root columns by name and see their
    # PRE-transform values (single-select semantics — reference README.md:36-41)
    df = to_df(
        spark,
        {
            "some_root": "a/b/c",
            "another_root": {"another_nested_field": "abbage", "nested_field": "baz"},
        },
    )
    engine = NestedTransformer()
    engine.add("some_root", "upper")
    engine.add(
        "another_root.another_nested_field",
        lambda c: F.concat(F.split_part(F.col("some_root"), F.lit("/"), F.lit(3)), c),
    )
    out = engine.apply(df)
    row = out.first().asDict(recursive=True)
    assert row["some_root"] == "A/B/C"
    # sees pre-transform "a/b/c" → "c" + "abbage"
    assert row["another_root"]["another_nested_field"] == "cabbage"


def test_yaml_config_loop(spark):
    import yaml

    config = yaml.safe_load(
        """
        field_functions:
          firstname: upper
          lastname: lower
        """
    )
    df = to_df(spark, PEOPLE)
    engine = NestedTransformer()
    for field, fn in config["field_functions"].items():
        engine.add(field, fn)
    out = engine.apply(df)
    row = collect_sorted(out)[0]
    assert (row["firstname"], row["lastname"]) == ("CHRISTOPHER", "lee")


def test_mechanics_lower_root_once_per_root(spark, monkeypatch):
    """Invariant (reference mechanics pin, test_functioniser.py:244-273):
    the lowering runs exactly once per output root column, and node
    application exactly once per configured path segment."""
    from config_driven_pyspark_spark.operators import transform as TR
    from config_driven_pyspark_spark.plans import lowering as LW

    root_calls = []
    orig_root = LW.lower_root

    def counting_root(ctx, node):
        root_calls.append(node.name if node is not None else None)
        return orig_root(ctx, node)

    monkeypatch.setattr(TR, "lower_root", counting_root)

    value_calls = []
    orig_value = LW._apply_at_value

    def counting_value(ctx, node):
        value_calls.append(node.name)
        return orig_value(ctx, node)

    monkeypatch.setattr(LW, "_apply_at_value", counting_value)

    df = to_df(spark, PETS)
    out = (
        NestedTransformer()
        .add("pets.pet_names", "upper")
        .add("pets.has_pets", "trim")
        .apply(df)
    )
    out.collect()
    # one lower_root call per output column (configured or passthrough)
    assert len(root_calls) == len(df.columns)
    # node application once per distinct touched node (array levels fuse
    # into the same node); passthrough roots never enter the node walk
    assert sorted(value_calls) == ["has_pets", "pet_names", "pets"]


def test_single_select_plan_shape(spark):
    # the whole transform must be ONE Project over the scan — no stacked
    # projections, no shuffles
    df = to_df(spark, PETS)
    out = (
        NestedTransformer()
        .add("pets.has_pets", "upper")
        .add("hoomans.address.street", "trim")
        .apply(df)
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("project") <= 1
    assert "exchange" not in plan.lower()


def test_readme_yaml_example_config_drives_pipeline(spark):
    """The reference README's config-driven example shape
    (/root/reference/README.md:57-74) through Pipeline.from_yaml: a flat
    ``functions:`` map with a builtin name, a registered custom Column
    builder, and a registered literal Column — including creation of a
    missing leaf."""
    from config_driven_pyspark_spark import Pipeline
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "  padded  ", "longvalue")],
        "id bigint, a string, b string",
    )
    df.createOrReplaceTempView("readme_src")
    pipe = Pipeline.from_yaml(
        """
        pipeline:
          - stage: sql
            query: SELECT * FROM readme_src
          - stage: transform
            fields:
              a: trim
              b: substr_first_four
              c: set_to_foo
        """
    )
    pipe.register_function(
        "substr_first_four", lambda col: F.substring(col, 0, 4)
    )
    pipe.register_function("set_to_foo", F.lit("foo"))
    row = pipe.run(spark).collect()[0]
    assert row["a"] == "padded"
    assert row["b"] == "long"
    assert row["c"] == "foo"


@pytest.mark.parametrize(
    "wrap",
    ["{}", "array<{}>", "map<string, {}>"],
    ids=["struct", "array_of_struct", "map_of_struct"],
)
def test_plan_size_linear_in_touched_siblings(spark, wrap):
    """The analysed expression grows linearly with touched siblings: each
    member is read from the struct before its rewrite, never back out of the
    growing ``withField`` chain (which doubled the tree per sibling)."""

    def size(width):
        members = ", ".join(f"f{i}: string" for i in range(width))
        df = spark.createDataFrame([], f"s {wrap.format(f'struct<{members}>')}")
        engine = NestedTransformer()
        for i in range(width):
            engine.add(f"s.f{i}", "upper")
        return analyzed_expr_size(engine.apply(df))

    assert size(16) <= 2.5 * size(8)
