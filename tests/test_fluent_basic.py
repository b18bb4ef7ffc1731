"""Fixture-driven parity tests (FIXTURES.md F1-F8) for the fluent engine.

Assertions are structural set-comparisons, mirroring the reference's test
style (SURVEY.md §5; e.g. reference tests/test_many_to_many.py:143-148).
"""

from etielle_spark import (
    Field,
    TempField,
    etl,
    get,
    get_from_parent,
    index,
    key,
    node,
    parent_index,
    parent_key,
)


def rows(result, table, *cols):
    return result.row_set(table, *cols)


# -- F1: users/posts nested extraction --------------------------------------


def f1_data():
    return {
        "users": [
            {
                "id": "u1",
                "name": "Alice",
                "posts": [
                    {"id": "p1", "title": "Hello"},
                    {"id": "p2", "title": "World"},
                ],
            },
            {"id": "u2", "name": "Bob", "posts": []},
        ]
    }


def test_f1_users_posts(spark):
    result = (
        etl(f1_data(), spark=spark)
        .goto("users")
        .each()
        .map_to("users", fields=[Field("id", get("id")), Field("name", get("name"))])
        .goto("posts")
        .each()
        .map_to(
            "posts",
            fields=[
                Field("id", get("id")),
                Field("user_id", get_from_parent("id")),
                Field("title", get("title")),
            ],
        )
        .run()
    )
    assert rows(result, "users") == {("u1", "Alice"), ("u2", "Bob")}
    assert rows(result, "posts") == {
        ("p1", "u1", "Hello"),
        ("p2", "u1", "World"),
    }


# -- F2: multi-path merge by join key ---------------------------------------


def test_f2_merge_across_paths(spark):
    data = {
        "users": [
            {"id": "u1", "name": "Alice"},
            {"id": "u2", "name": "Bob"},
            {"id": "", "name": "ignored"},
        ],
        "profiles": [
            {"user_id": "u1", "email": "alice@example.com"},
            {"user_id": "u2", "email": "bob@example.com"},
            {"user_id": None, "email": "dropped@example.com"},
        ],
    }
    result = (
        etl(data, spark=spark)
        .goto("users")
        .each()
        .map_to(
            "users",
            fields=[Field("id", get("id")), Field("name", get("name"))],
            join_on=["id"],
        )
        .goto_root(0)
        .goto("profiles")
        .each()
        .map_to(
            "users",
            fields=[
                TempField("id", get("user_id")),
                Field("email", get("email")),
            ],
            join_on=["id"],
        )
        .run()
    )
    # single-part key injected as id (executor.py:363-370); temp id dropped
    # then re-injected from the key.
    assert rows(result, "users", "id", "name", "email") == {
        ("u1", "Alice", "alice@example.com"),
        ("u2", "Bob", "bob@example.com"),
    }


# -- F4: dict-of-lists iteration --------------------------------------------


def test_f4_dict_of_lists(spark):
    data = {"question_choices": {"Q1": ["c1", "c2"], "Q2": ["c2", "c3"], "Q3": []}}
    result = (
        etl(data, spark=spark)
        .goto("question_choices")
        .each()
        .each()
        .map_to(
            "question_choice",
            fields=[
                Field("question_id", parent_key()),
                Field("choice_id", node()),
            ],
        )
        .run()
    )
    assert rows(result, "question_choice") == {
        ("Q1", "c1"),
        ("Q1", "c2"),
        ("Q2", "c2"),
        ("Q2", "c3"),
    }


# -- F5: list-of-lists positional explode -----------------------------------


def test_f5_grid(spark):
    data = {"rows": [[1, 2], [3, 4]]}
    result = (
        etl(data, spark=spark)
        .goto("rows")
        .each()
        .each()
        .map_to(
            "cells",
            fields=[
                Field("row", parent_index()),
                Field("col", index()),
                Field("value", node()),
            ],
        )
        .run()
    )
    assert rows(result, "cells") == {(0, 0, 1), (0, 1, 2), (1, 0, 3), (1, 1, 4)}


def test_f5_ragged_rows(spark):
    data = {"rows": [[1], [2, 3, 4]]}
    result = (
        etl(data, spark=spark)
        .goto("rows")
        .each()
        .each()
        .map_to(
            "cells",
            fields=[
                Field("row", parent_index()),
                Field("col", index()),
                Field("value", node()),
            ],
        )
        .run()
    )
    assert rows(result, "cells") == {(0, 0, 1), (1, 0, 2), (1, 1, 3), (1, 2, 4)}


# -- F7: deep nesting with ancestor keys ------------------------------------


def test_f7_three_levels(spark):
    data = {
        "servers": [
            {
                "id": "s1",
                "name": "Main",
                "channels": [
                    {
                        "id": "ch1",
                        "messages": [
                            {"id": "m1", "text": "hi"},
                            {"id": "m2", "text": "yo"},
                        ],
                    },
                    {"id": "ch2", "messages": []},
                ],
            }
        ]
    }
    result = (
        etl(data, spark=spark)
        .goto("servers")
        .each()
        .map_to("servers", fields=[Field("id", get("id")), Field("name", get("name"))])
        .goto("channels")
        .each()
        .map_to(
            "channels",
            fields=[Field("id", get("id")), Field("server_id", get_from_parent("id"))],
        )
        .goto("messages")
        .each()
        .map_to(
            "messages",
            fields=[
                Field("id", get("id")),
                Field("channel_id", get_from_parent("id", depth=1)),
                Field("server_id", get_from_parent("id", depth=2)),
                Field("text", get("text")),
                Field("too_deep", get_from_parent("id", depth=9)),
            ],
        )
        .run()
    )
    assert rows(result, "servers") == {("s1", "Main")}
    assert rows(result, "channels") == {("ch1", "s1"), ("ch2", "s1")}
    assert rows(result, "messages") == {
        ("m1", "ch1", "s1", "hi", None),
        ("m2", "ch1", "s1", "yo", None),
    }


# -- F8: multi-root ----------------------------------------------------------


def test_f8_multi_root(spark):
    root0 = {"users": [{"id": "u1", "name": "Alice"}]}
    root1 = {"posts": [{"id": "p1", "user_id": "u1", "title": "T"}]}
    result = (
        etl(root0, root1, spark=spark)
        .goto("users")
        .each()
        .map_to("users", fields=[Field("id", get("id")), Field("name", get("name"))])
        .goto_root(1)
        .goto("posts")
        .each()
        .map_to(
            "posts",
            fields=[
                Field("id", get("id")),
                Field("user_id", get("user_id")),
                Field("title", get("title")),
            ],
        )
        .run()
    )
    assert rows(result, "users") == {("u1", "Alice")}
    assert rows(result, "posts") == {("p1", "u1", "T")}


def test_f8_out_of_range_root(spark):
    import pytest

    with pytest.raises(IndexError):
        etl({"a": 1}, spark=spark).goto_root(2)


# -- misc navigation behaviors ----------------------------------------------


def test_missing_path_yields_zero_rows(spark):
    data = {"present": [1, 2]}
    result = (
        etl(data, spark=spark)
        .goto("absent")
        .each()
        .map_to("t", fields=[Field("v", node())])
        .run()
    )
    assert rows(result, "t") == set()


def test_scalar_single_mode(spark):
    data = {"value": 42}
    result = (
        etl(data, spark=spark)
        .goto("value")
        .each()
        .map_to("t", fields=[Field("v", node()), Field("i", index())])
        .run()
    )
    assert rows(result, "t") == {(42, None)}


def test_trailing_goto_after_each(spark):
    data = {"users": [{"id": "u1", "profile": {"email": "a@x"}}, {"id": "u2"}]}
    result = (
        etl(data, spark=spark)
        .goto("users")
        .each()
        .goto("profile")
        .map_to(
            "profiles",
            fields=[Field("email", get("email")), Field("uid", get_from_parent("id"))],
        )
        .run()
    )
    # u2 has no profile -> its row still emits with NULL fields
    # (reference: trailing goto never filters; verified differentially)
    assert rows(result, "profiles") == {("a@x", "u1"), (None, "u2")}


def test_compile_emission_plan_level(spark):
    """The plan-level core API (reference executor.py:217-437 run_mapping
    equivalent): one emission compiled straight to a DataFrame, no
    builder."""
    from etielle_spark import compile_emission, get, get_from_parent, index

    data = {
        "users": [
            {"id": "u1", "posts": [{"t": "a"}, {"t": "b"}]},
            {"id": "u2", "posts": [{"t": "c"}]},
        ]
    }
    df = compile_emission(
        data,
        spark=spark,
        each=["users", "posts"],
        fields=[
            Field("uid", get_from_parent("id")),
            Field("t", get("t")),
            Field("i", index()),
        ],
    )
    rows = {(r["uid"], r["t"], r["i"]) for r in df.collect()}
    assert rows == {("u1", "a", 0), ("u1", "b", 1), ("u2", "c", 0)}


def test_compile_emission_dataframe_root_with_order(spark):
    from etielle_spark import compile_emission, get

    src = spark.createDataFrame([("x", 1), ("y", 2)], "name string, n long")
    df = compile_emission(
        src,
        fields=[Field("name", get("name")), Field("n", get("n"))],
        with_order=True,
    )
    assert "__seq" in df.columns
    assert {(r["name"], r["n"]) for r in df.collect()} == {("x", 1), ("y", 2)}


def test_compile_emission_trailing_and_modes(spark):
    from etielle_spark import compile_emission, get, node

    data = {"items": [{"meta": {"k": 1}}, {"meta": {"k": 2}}]}
    df = compile_emission(
        data,
        spark=spark,
        each=[("items", "auto")],
        trailing="meta",
        fields=[Field("k", get("k"))],
    )
    assert sorted(r["k"] for r in df.collect()) == [1, 2]


# -- literal column names: dots and spaces are part of the name -------------


def _cols(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_dotted_names_dict_root_merge_links_and_no_key(spark):
    from etielle_spark import AddPolicy

    data = {
        "users": [
            {"uid": "u1", "name": "Alice", "score": 1, "posts": [1]},
            {"uid": "u2", "name": "Bob", "score": 2, "posts": [2]},
            {"uid": "u1", "name": "Alicia", "score": 3, "posts": [3, 1]},
        ],
        "profiles": [{"uid": "u2", "email": "bob@x"}],
        "posts": [
            {"pid": 1, "author": "u1"},
            {"pid": 2, "author": "u2"},
            {"pid": 3, "author": "u9"},
        ],
    }
    result = (
        etl(data, spark=spark)
        .goto("users")
        .each()
        .map_to(
            "users",
            fields=[
                Field("k.1", get("uid")),
                Field("x.y", get("name")),
                Field("s.total", get("score"), merge=AddPolicy()),
                Field("post.ids", get("posts")),
            ],
            join_on=["k.1"],
        )
        .goto_root(0)
        .goto("profiles")
        .each()
        .map_to(
            "users",
            fields=[Field("k.1", get("uid")), Field("e.mail", get("email"))],
            join_on=["k.1"],
        )
        .goto_root(0)
        .goto("posts")
        .each()
        .map_to(
            "posts",
            fields=[Field("p.id", get("pid")), Field("user.id", get("author"))],
            join_on=["p.id"],
        )
        .link_to("users", by={"user.id": "k.1"}, fk="user.fk", required=True)
        .map_to("tags", fields=[Field("t.pid", get("pid"))])
        .backlink("users", "posts", "my.posts", by={"post.ids": "p.id"})
        .run()
    )
    users = result.tables["users"]
    assert _cols(users, "id", "k.1", "x.y", "s.total", "post.ids", "e.mail") == [
        ("u1", "u1", "Alicia", 4, [3, 1], None),
        ("u2", "u2", "Bob", 2, [2], "bob@x"),
    ]
    assert sorted(
        (r["k.1"], [p["p.id"] for p in r["my.posts"]]) for r in users.collect()
    ) == [("u1", [3, 1]), ("u2", [2])]
    assert _cols(result.tables["posts"], "p.id", "user.id", "user.fk") == [
        (1, "u1", "u1"),
        (2, "u2", "u2"),
        (3, "u9", None),
    ]
    assert [r["key"] for r in result.errors["posts"].collect()] == ["u9"]
    assert result.rows("tags", ordered=True) == [
        {"t.pid": 1},
        {"t.pid": 2},
        {"t.pid": 3},
    ]
    assert result.row_set("posts", "p.id") == {(1,), (2,), (3,)}


def test_dotted_and_spaced_names_dataframe_root(spark):
    src = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (1, "c", 2)], "`a.b` long, `my col` string, `o.rd` long"
    )
    result = (
        etl(src, spark=spark, order_col="o.rd")
        .map_to(
            "keyed",
            fields=[Field("a.b", get(["a.b"])), Field("my col", get(["my col"]))],
            join_on=["a.b"],
        )
        .map_to("flat", fields=[Field("my col", get(["my col"]))])
        .run()
    )
    assert _cols(result.tables["keyed"], "id", "a.b", "my col") == [
        (1, 1, "c"),
        (2, 2, "b"),
    ]
    assert result.rows("flat", ordered=True) == [
        {"my col": "a"},
        {"my col": "b"},
        {"my col": "c"},
    ]
