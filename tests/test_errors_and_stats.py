"""F11 — validation error channel: collect vs fail_fast, strict fields
(SURVEY §2.9; reference instances.py:189-240, fluent.py:2042-2049)."""

import pytest

from etielle_spark import Field, etl, get


def people_data():
    return {
        "people": [
            {"pid": "a", "age": "30"},
            {"pid": "b", "age": "not-a-number"},
            {"pid": "c", "age": "41"},
        ]
    }


def test_errors_collect_mode(spark):
    result = (
        etl(people_data(), spark=spark)
        .goto("people")
        .each()
        .map_to(
            "people",
            fields=[Field("pid", get("pid")), Field("age", get("age"))],
            join_on=["pid"],
            schema="pid string, age int",
        )
        .run()
    )
    # good rows proceed, typed
    rows = {r["pid"]: r["age"] for r in result.rows("people")}
    assert rows == {"a": 30, "c": 41}
    # bad rows land in the errors DataFrame
    errs = result.errors["people"].collect()
    assert len(errs) == 1
    assert errs[0]["key"] == "b"
    assert errs[0]["field"] == "age"
    assert "not-a-number" in errs[0]["message"]


def test_error_rows_carry_dotted_field_names(spark):
    """An error row's ``field`` is the declared field name as given,
    dots and all — for a cast failure and for a required-null field."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v.x", T.LongType()),
        T.StructField("w.y", T.StringType(), nullable=False),
    ])
    result = (
        etl({"rows": [{"k": "a", "v": "abc", "w": "ok"},
                      {"k": "b", "v": "7", "w": None}]}, spark=spark)
        .goto("rows")
        .each()
        .map_to(
            "t",
            fields=[Field("k", get("k")), Field("v.x", get("v")),
                    Field("w.y", get("w"))],
            join_on=["k"],
            schema=schema,
        )
        .run()
    )
    errs = sorted(
        (r["key"], r["field"], r["stage"], r["message"])
        for r in result.errors["t"].collect()
    )
    assert errs == [
        ("a", "v.x", "update", "field v.x: cannot cast 'abc' to bigint"),
        ("b", "w.y", "finalize", "field w.y: required field is null"),
    ]
    assert result.rows("t") == []


def test_errors_fail_fast_mode(spark):
    with pytest.raises(ValueError, match="age"):
        (
            etl(people_data(), spark=spark, errors="fail_fast")
            .goto("people")
            .each()
            .map_to(
                "people",
                fields=[Field("pid", get("pid")), Field("age", get("age"))],
                join_on=["pid"],
                schema="pid string, age int",
            )
            .run()
        )


def test_strict_unknown_field_suggestion(spark):
    with pytest.raises(ValueError, match="did you mean"):
        (
            etl(people_data(), spark=spark)
            .goto("people")
            .each()
            .map_to(
                "people",
                fields=[Field("pid", get("pid")), Field("agee", get("age"))],
                schema="pid string, age int",
            )
        )


def test_per_map_to_fail_fast_override(spark):
    with pytest.raises(ValueError, match="age"):
        (
            etl(people_data(), spark=spark)  # pipeline default: collect
            .goto("people")
            .each()
            .map_to(
                "people",
                fields=[Field("pid", get("pid")), Field("age", get("age"))],
                join_on=["pid"],
                schema="pid string, age int",
                errors="fail_fast",
            )
            .run()
        )
