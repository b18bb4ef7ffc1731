"""F6/F12 — link_to, backlink, junction pattern, lookup index
(FIXTURES.md; reference etielle/relationships.py + fluent.py:481-714)."""

import pytest

from etielle_spark import (
    Field,
    TempField,
    concat as es_concat,
    etl,
    get,
    get_from_parent,
    literal,
    lookup,
    node,
)


def qdata():
    return {
        "questions": [
            {"id": "Q1", "text": "Pick one", "choice_ids": ["c1", "c2"]},
            {"id": "Q2", "text": "Pick two", "choice_ids": ["c2", "c3"]},
        ],
        "choices": [
            {"id": "c1", "text": "Red"},
            {"id": "c2", "text": "Green"},
            {"id": "c3", "text": "Blue"},
        ],
    }


def build_junction(spark):
    return (
        etl(qdata(), spark=spark)
        .goto("questions")
        .each()
        .map_to(
            "questions",
            fields=[
                Field("id", get("id")),
                Field("text", get("text")),
                TempField("choice_ids", get("choice_ids")),
            ],
            join_on=["id"],
        )
        .goto_root(0)
        .goto("choices")
        .each()
        .map_to(
            "choices",
            fields=[Field("id", get("id")), Field("text", get("text"))],
            join_on=["id"],
        )
        .goto_root(0)
        .goto("questions")
        .each()
        .goto("choice_ids")
        .each()
        .map_to(
            "question_choice",
            fields=[
                Field("question_id", get_from_parent("id")),
                Field("choice_id", node()),
            ],
        )
    )


def test_f6_junction_pairs(spark):
    result = build_junction(spark).run()
    assert result.row_set("questions", "id", "text") == {
        ("Q1", "Pick one"),
        ("Q2", "Pick two"),
    }
    assert result.row_set("choices", "id", "text") == {
        ("c1", "Red"),
        ("c2", "Green"),
        ("c3", "Blue"),
    }
    assert result.row_set("question_choice") == {
        ("Q1", "c1"),
        ("Q1", "c2"),
        ("Q2", "c2"),
        ("Q2", "c3"),
    }


def test_f6_backlink(spark):
    result = (
        build_junction(spark)
        .backlink("questions", "choices", "choices", by={"choice_ids": "id"})
        .run()
    )
    rows = {r["id"]: r for r in result.rows("questions")}
    assert [c["id"] for c in rows["Q1"]["choices"]] == ["c1", "c2"]
    assert [c["id"] for c in rows["Q2"]["choices"]] == ["c2", "c3"]
    assert [c["text"] for c in rows["Q1"]["choices"]] == ["Red", "Green"]


def test_f6_backlink_missing_child_skipped(spark):
    data = qdata()
    data["questions"][0]["choice_ids"] = ["c1", "ghost", "c2"]
    result = (
        etl(data, spark=spark)
        .goto("questions")
        .each()
        .map_to(
            "questions",
            fields=[Field("id", get("id")), TempField("choice_ids", get("choice_ids"))],
            join_on=["id"],
        )
        .goto_root(0)
        .goto("choices")
        .each()
        .map_to(
            "choices",
            fields=[Field("id", get("id")), Field("text", get("text"))],
            join_on=["id"],
        )
        .backlink("questions", "choices", "choices", by={"choice_ids": "id"})
        .run()
    )
    rows = {r["id"]: r for r in result.rows("questions")}
    # missing child ids silently skipped (relationships.py:434-441)
    assert [c["id"] for c in rows["Q1"]["choices"]] == ["c1", "c2"]


def test_link_to_fk_population(spark):
    data = {
        "users": [{"id": "u1", "name": "A"}, {"id": "u2", "name": "B"}],
        "posts": [
            {"id": "p1", "user": "u1"},
            {"id": "p2", "user": "u2"},
            {"id": "p3", "user": "zz"},
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
        .goto("posts")
        .each()
        .map_to(
            "posts",
            fields=[Field("id", get("id")), Field("user_id", get("user"))],
            join_on=["id"],
        )
        .link_to("users", by={"user_id": "id"}, fk="user_fk", required=True)
        .run()
    )
    assert result.row_set("posts", "id", "user_id", "user_fk") == {
        ("p1", "u1", "u1"),
        ("p2", "u2", "u2"),
        ("p3", "zz", None),
    }
    errs = result.errors["posts"].collect()
    assert len(errs) == 1 and errs[0]["key"] == "zz"
    # write order: parents before children
    assert result.write_order.index("users") < result.write_order.index("posts")


def test_f12_lookup_from_dict(spark):
    data = {"questions": [{"id": "Q1"}, {"id": "Q2"}, {"id": "Q9"}]}
    result = (
        etl(data, spark=spark)
        .build_index("db_ids", from_dict={"Q1": 42, "Q2": 43})
        .goto("questions")
        .each()
        .map_to(
            "q",
            fields=[
                Field("id", get("id")),
                Field("db_id", lookup("db_ids", get("id"))),
                Field("db_id_dflt", lookup("db_ids", get("id"), default=-1)),
            ],
        )
        .run()
    )
    assert result.row_set("q") == {
        ("Q1", 42, 42),
        ("Q2", 43, 43),
        ("Q9", None, -1),
    }


def test_f12_lookup_missing_index_raises(spark):
    with pytest.raises(ValueError, match="Index 'nope' not found"):
        (
            etl({"a": [1]}, spark=spark)
            .goto("a")
            .each()
            .map_to("t", fields=[Field("v", lookup("nope", node()))])
            .run()
        )


def test_f12_traversal_built_index(spark):
    # build_index(key=node(), value=get_from_parent("id")): duplicate keys
    # last-write-wins (tests/test_fluent.py:2684 in the reference)
    data = {
        "groups": [
            {"id": "g1", "members": ["alice", "bob"]},
            {"id": "g2", "members": ["bob", "carol"]},
        ],
        "people": [{"name": "alice"}, {"name": "bob"}, {"name": "carol"}],
    }
    result = (
        etl(data, spark=spark)
        .goto("groups")
        .each()
        .goto("members")
        .each()
        .build_index("member_group", key=node(), value=get_from_parent("id"))
        .goto_root(0)
        .goto("people")
        .each()
        .map_to(
            "people",
            fields=[
                Field("name", get("name")),
                Field("group", lookup("member_group", get("name"))),
            ],
        )
        .run()
    )
    assert result.row_set("people") == {
        ("alice", "g1"),
        ("bob", "g2"),  # last write wins
        ("carol", "g2"),
    }


def test_temp_id_not_clobbered_by_injection(spark):
    """A TempField('id') used for linking keeps its computed value
    internally while the public row shows the injected key
    (reference shadow-store priority, executor.py:296-352 + 363-370)."""
    data = {
        "parents": [{"surrogate": "s1", "nk": "alpha"}, {"surrogate": "s2", "nk": "beta"}],
        "children": [{"pref": "s1", "name": "c1"}, {"pref": "s2", "name": "c2"}],
    }
    result = (
        etl(data, spark=spark)
        .goto("parents")
        .each()
        .map_to(
            "parents",
            fields=[
                TempField("id", get("surrogate")),
                Field("nk", get("nk")),
            ],
            join_on=["nk"],
        )
        .goto_root(0)
        .goto("children")
        .each()
        .map_to(
            "children",
            fields=[Field("name", get("name")), Field("pref", get("pref"))],
        )
        .link_to("parents", by={"pref": "id"}, fk="parent_nk")
        .run()
    )
    # public parent rows: injected id == natural key
    assert result.row_set("parents", "id", "nk") == {
        ("alpha", "alpha"),
        ("beta", "beta"),
    }
    # link matched on the TEMP surrogate ('s1'/'s2'), not the injected key
    rows = {r["name"]: r["parent_nk"] for r in result.rows("children")}
    assert rows == {"c1": "alpha", "c2": "beta"}


def test_lookup_default_only_for_missing_keys(spark):
    """dict.get semantics: a stored None value returns None, not the
    default (differentially verified against the reference)."""
    data = {"rows": [{"k": "a"}, {"k": "b"}, {"k": "zz"}]}
    result = (
        etl(data, spark=spark)
        .build_index("idx", from_dict={"a": 1, "b": None})
        .goto("rows")
        .each()
        .map_to(
            "t",
            fields=[
                Field("k", get("k")),
                Field("v", lookup("idx", get("k"), default=-1)),
            ],
        )
        .run()
    )
    assert result.row_set("t") == {("a", 1), ("b", None), ("zz", -1)}


def test_lookup_struct_values_from_traversal(spark):
    """build_index(value=node()) stores whole nodes (structs/arrays); the
    reference supports arbitrary index values (transforms.py:215-248)."""
    data = {
        "depts": [
            {"code": "eng", "info": {"head": "ada", "size": 12}},
            {"code": "ops", "info": {"head": "bo", "size": 3, "shift": "night"}},
        ],
        "rows": [{"d": "eng"}, {"d": "ops"}, {"d": "hr"}],
    }
    result = (
        etl(data, spark=spark)
        .goto("depts")
        .each()
        .build_index("dept_info", key=get("code"), value=get("info"))
        .goto_root(0)
        .goto("rows")
        .each()
        .map_to(
            "t",
            fields=[Field("d", get("d")), Field("info", lookup("dept_info", get("d")))],
        )
        .run()
    )
    rows = {r["d"]: r["info"] for r in result.rows("t")}
    assert rows["eng"] == {"head": "ada", "size": 12, "shift": None}
    assert rows["ops"] == {"head": "bo", "size": 3, "shift": "night"}
    assert rows["hr"] is None


def test_lookup_list_values(spark):
    data = {"rows": [{"k": "a"}, {"k": "b"}]}
    result = (
        etl(data, spark=spark)
        .build_index("idx", from_dict={"a": [1, 2, 3], "b": []})
        .goto("rows")
        .each()
        .map_to("t", fields=[Field("k", get("k")), Field("v", lookup("idx", get("k")))])
        .run()
    )
    rows = {r["k"]: r["v"] for r in result.rows("t")}
    assert rows == {"a": [1, 2, 3], "b": []}


def test_lookup_key_kinds_exact(spark):
    """Python dict key equality: 1 == 1.0 == True but '1' != 1
    (reference dict.get; no lossy string/number coercion)."""
    data = {"rows": [{"k": 1}, {"k": 2}]}
    result = (
        etl(data, spark=spark)
        .build_index("idx", from_dict={1: "int-one", "2": "str-two"})
        .goto("rows")
        .each()
        .map_to(
            "t",
            fields=[
                Field("kk", es_concat(literal("k="), get("k"))),
                Field("v", lookup("idx", get("k"), default="MISS")),
            ],
        )
        .run()
    )
    rows = {r["kk"]: r["v"] for r in result.rows("t")}
    # long probe 1 matches int key 1; long probe 2 does NOT match the
    # string key "2"
    assert rows["k=1"] == "int-one"
    assert rows["k=2"] == "MISS"
    # string "2" matches the string key "2"; string "1" misses the int key
    # (read back via the same JSON root: keys stay strings)
    data2 = {"rows": [{"k": "1"}, {"k": "2"}]}
    r2 = (
        etl(data2, spark=spark)
        .build_index("idx", from_dict={1: "int-one", "2": "str-two"})
        .goto("rows")
        .each()
        .map_to("t", fields=[Field("k", get("k")), Field("v", lookup("idx", get("k"), default="MISS"))])
        .run()
    )
    rows2 = {r["k"]: r["v"] for r in r2.rows("t")}
    assert rows2 == {"1": "MISS", "2": "str-two"}


def test_lookup_float_int_cross_match(spark):
    data = {"rows": [{"k": 3.0}, {"k": 3.5}]}
    result = (
        etl(data, spark=spark)
        .build_index("idx", from_dict={3: "three", 3.5: "three-and-a-half"})
        .goto("rows")
        .each()
        .map_to("t", fields=[Field("k", get("k")), Field("v", lookup("idx", get("k")))])
        .run()
    )
    rows = {r["k"]: r["v"] for r in result.rows("t")}
    assert rows == {3.0: "three", 3.5: "three-and-a-half"}


def test_lookup_size_guard(spark):
    big = {f"k{i}": i for i in range(10_001)}
    with pytest.raises(ValueError, match="link_to"):
        (
            etl({"rows": [{"k": "k1"}]}, spark=spark)
            .build_index("big", from_dict=big)
            .goto("rows")
            .each()
            .map_to("t", fields=[Field("v", lookup("big", get("k")))])
            .run()
        )


def test_link_to_duplicate_parent_last_wins(spark):
    """Multiple parent rows sharing the by-value: the LAST in arrival
    order deterministically supplies the fk (the reference's secondary
    index overwrites on duplicate keys, relationships.py:461-538)."""
    data = {
        "parents": [
            {"id": "p1", "code": "X"},
            {"id": "p2", "code": "X"},
            {"id": "p3", "code": "Y"},
        ],
        "children": [{"name": "c1", "ref": "X"}, {"name": "c2", "ref": "Y"}],
    }
    result = (
        etl(data, spark=spark)
        .goto("parents")
        .each()
        .map_to("parents", fields=[Field("id", get("id")), Field("code", get("code"))])
        .goto_root(0)
        .goto("children")
        .each()
        .map_to("children", fields=[Field("name", get("name")), Field("ref", get("ref"))])
        .link_to("parents", by={"ref": "code"}, fk="parent_id")
        .run()
    )
    rows = {r["name"]: r["parent_id"] for r in result.rows("children")}
    assert rows == {"c1": "p2", "c2": "p3"}


def test_lookup_date_and_decimal_values(spark):
    """Index values that are not JSON scalars (dates from a DataFrame
    traversal) ship as typed literals, not via json.dumps."""
    import datetime

    orders = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 2)), (2, datetime.date(2024, 3, 4))],
        "okey long, odate date",
    )
    probe = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    result = (
        etl(orders, probe, spark=spark)
        .build_index("dates", key=get("okey"), value=get("odate"))
        .goto_root(1)
        .map_to("t", fields=[Field("k", get("k")), Field("d", lookup("dates", get("k")))])
        .run()
    )
    rows = {r["k"]: r["d"] for r in result.rows("t")}
    assert rows == {
        1: datetime.date(2024, 1, 2),
        2: datetime.date(2024, 3, 4),
        3: None,
    }


def test_lookup_decimal_keys_match_numeric_probe(spark):
    """Decimal index keys live in the numeric key space (Python dict
    equality: Decimal('3') == 3)."""
    import decimal

    data = {"rows": [{"k": 3}, {"k": 4}]}
    result = (
        etl(data, spark=spark)
        .build_index("idx", from_dict={decimal.Decimal("3"): "three"})
        .goto("rows")
        .each()
        .map_to("t", fields=[Field("k", get("k")), Field("v", lookup("idx", get("k"), default="MISS"))])
        .run()
    )
    rows = {r["k"]: r["v"] for r in result.rows("t")}
    assert rows == {3: "three", 4: "MISS"}


def test_reserved_marker_key_raises(spark):
    with pytest.raises(ValueError, match="reserved key"):
        (
            etl({"m": {"__keys__": 1}}, spark=spark)
            .goto("m")
            .each()
            .map_to("t", fields=[Field("v", node())])
            .run()
        )


def test_empty_dict_materializes_clean(spark):
    """A {} value collects as {} — the __empty__ serialization marker
    never surfaces in rows()."""
    data = {"items": [{"id": 1, "meta": {}}, {"id": 2, "meta": {"a": 1}}]}
    result = (
        etl(data, spark=spark)
        .goto("items")
        .each()
        .map_to("t", fields=[Field("id", get("id")), Field("meta", get("meta"))])
        .run()
    )
    rows = {r["id"]: r["meta"] for r in result.rows("t")}
    # markers never surface; absent keys read as None fields (the
    # documented rectangular absent==NULL mapping, SURVEY §1.2)
    assert rows[1] == {"a": None}
    assert rows[2] == {"a": 1}
    # a table whose dicts are ALL empty materializes as {}
    only_empty = (
        etl({"items": [{"id": 1, "meta": {}}]}, spark=spark)
        .goto("items")
        .each()
        .map_to("t", fields=[Field("id", get("id")), Field("meta", get("meta"))])
        .run()
    )
    assert only_empty.rows("t")[0]["meta"] == {}


def test_map_column_strips_markers(spark):
    """User lambdas over dict nodes must not see __keys__/__empty__."""
    import json as _json

    from etielle_spark.transforms import map_column

    data = {"items": [{"id": 1, "meta": {"a": 1}}]}
    result = (
        etl(data, spark=spark)
        .goto("items")
        .each()
        .map_to(
            "t",
            fields=[
                Field("id", get("id")),
                Field("j", map_column(lambda c: __import__("pyspark.sql.functions", fromlist=["to_json"]).to_json(c), get("meta"))),
            ],
        )
        .run()
    )
    j = result.rows("t")[0]["j"]
    assert _json.loads(j) == {"a": 1}


def test_bind_many_to_one_dotted_key_names(spark):
    """Core-API binding with column names that contain a dot: each name
    is one literal column, not nested-field access (``p.id`` is not
    field ``id`` of a struct ``p``)."""
    from etielle_spark import ManyToOneSpec, bind_many_to_one
    from etielle_spark.relationships import (
        RelationshipIncompleteError,
        compute_relationship_keys,
        validate_relationship_completeness,
    )

    child = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "`p.id` long, `v.w` string"
    )
    parent = spark.createDataFrame(
        [(1, 100, 1), (1, 101, 2), (2, 200, 1)], "`id.x` long, `f.k` long, `o.rd` long"
    )
    spec = ManyToOneSpec("c", "p", "fk.v", ["p.id"], ["id.x"], parent_fk="f.k")
    bound, errors = bind_many_to_one(child, parent, spec, order_col="o.rd")
    assert bound.columns == ["p.id", "v.w", "fk.v"]
    assert sorted(tuple(r) for r in bound.collect()) == [(1, "a", 101), (2, "b", 200)]
    assert [tuple(r) for r in errors.collect()] == [(3, "c")]
    assert sorted(r[0] for r in compute_relationship_keys(child, spec).collect()) == [1, 2, 3]
    with pytest.raises(RelationshipIncompleteError, match=r"\(3,\)"):
        validate_relationship_completeness(child, parent, spec)
    # default fk = first parent key, no order column
    spec2 = ManyToOneSpec("c", "p", "fk", ["p.id"], ["id.x"], required=False)
    bound2, _ = bind_many_to_one(child, parent, spec2)
    assert sorted(tuple(r) for r in bound2.collect()) == [
        (1, "a", 1), (2, "b", 2), (3, "c", None)
    ]


# -- moved from the round-5 fix file: variant-key canonical form ----------


def test_key_canon_2_53_neighbors_link_to(spark):
    """Integer keys above 2**53 must stay distinct in link joins: the
    old double-canonicalization mapped 2**53 and 2**53 + 1 to the same
    value (a string key in the parent set makes the key variant-typed,
    which is the path that canonicalizes)."""
    from etielle_spark import Field, TempField, etl, get

    big = 2**53
    data = {
        "parents": [
            {"pid": big, "name": "P-even"},
            {"pid": big + 1, "name": "P-odd"},
            {"pid": "x", "name": "P-str"},
        ],
        "children": [
            {"ck": big, "t": "c-even"},
            {"ck": big + 1, "t": "c-odd"},
        ],
    }
    result = (
        etl(data, spark=spark)
        .goto("parents").each()
        .map_to("par", fields=[
            Field("name", get("name")), TempField("pid", get("pid")),
            Field("id", get("name")),
        ], join_on=["name"])
        .goto_root()
        .goto("children").each()
        .map_to("ch", fields=[Field("t", get("t")), TempField("ck", get("ck"))],
                join_on=["t"])
        .link_to("par", by={"ck": "pid"}, fk="parent_name")
        .run()
    )
    got = {r["t"]: r["parent_name"] for r in result.rows("ch")}
    assert got == {"c-even": "P-even", "c-odd": "P-odd"}


def test_key_canon_2_53_neighbors_backlink(spark):
    """Same 2**53-neighbor distinction through backlink's id-list join."""
    from etielle_spark import Field, TempField, etl, get

    big = 2**53
    data = {
        "qs": [{"qid": "q1", "cids": [big + 1, "pad"]}],
        "cs": [
            {"cid": big, "t": "c-even"},
            {"cid": big + 1, "t": "c-odd"},
        ],
    }
    result = (
        etl(data, spark=spark)
        .goto("qs").each()
        .map_to("q", fields=[Field("qid", get("qid")),
                             TempField("cids", get("cids"))], join_on=["qid"])
        .goto_root()
        .goto("cs").each()
        .map_to("c", fields=[Field("t", get("t")),
                             TempField("cid", get("cid"))], join_on=["t"])
        .backlink("q", "c", "children", by={"cids": "cid"})
        .run()
    )
    rows = result.rows("q")
    assert len(rows) == 1
    assert [c["t"] for c in rows[0]["children"]] == ["c-odd"]


def test_key_canon_int_float_still_match(spark):
    """The exact-integer canonical form must keep Python numeric
    equality: 7 (int) and 7.0 (float) are the SAME key."""
    from etielle_spark import Field, TempField, etl, get

    data = {
        "parents": [{"pid": 7.0, "name": "P-float"}, {"pid": "s", "name": "P-s"}],
        "children": [{"ck": 7, "t": "c-int"}],
    }
    result = (
        etl(data, spark=spark)
        .goto("parents").each()
        .map_to("par", fields=[
            Field("name", get("name")), TempField("pid", get("pid")),
            Field("id", get("name")),
        ], join_on=["name"])
        .goto_root()
        .goto("children").each()
        .map_to("ch", fields=[Field("t", get("t")), TempField("ck", get("ck"))],
                join_on=["t"])
        .link_to("par", by={"ck": "pid"}, fk="parent_name")
        .run()
    )
    got = {r["t"]: r["parent_name"] for r in result.rows("ch")}
    assert got == {"c-int": "P-float"}


def test_backlink_cache_released_even_when_sink_fails(spark):
    """A failing sink must not leak the backlink-parent cache (the
    unpersist runs in a finally)."""
    from etielle_spark import Field, TempField, etl, get
    from etielle_spark.sources.sinks import Sink

    class BoomSink(Sink):
        def write(self, table, df):
            df.count()  # materialize (fills the parent cache)...
            raise RuntimeError("sink down")

    data = {
        "qs": [{"qid": "q1", "cids": [1]}],
        "cs": [{"cid": 1, "t": "a"}],
    }
    base = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    with pytest.raises(RuntimeError, match="sink down"):
        (
            etl(data, spark=spark)
            .goto("qs").each()
            .map_to("q", fields=[Field("qid", get("qid")),
                                 TempField("cids", get("cids"))], join_on=["qid"])
            .goto_root()
            .goto("cs").each()
            .map_to("c", fields=[Field("t", get("t")),
                                 TempField("cid", get("cid"))], join_on=["t"])
            .backlink("q", "c", "children", by={"cids": "cid"})
            .load(BoomSink())
            .run()
        )
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() <= base

def test_sinkless_backlink_release(spark):
    """Sink-less runs hand their backlink-parent caches to the result;
    release() (or the context manager) frees them deterministically."""
    from pyspark import StorageLevel

    from etielle_spark import Field, TempField, etl, get

    data = {
        "qs": [{"qid": 1, "cids": [10, 11]}, {"qid": 2, "cids": [11]}],
        "cs": [{"cid": 10, "t": "a"}, {"cid": 11, "t": "b"}],
    }

    def build():
        return (
            etl(data, spark=spark)
            .goto("qs").each()
            .map_to("q", fields=[Field("qid", get("qid")),
                                 TempField("cids", get("cids"))],
                    join_on=["qid"])
            .goto_root()
            .goto("cs").each()
            .map_to("c", fields=[Field("t", get("t")),
                                 TempField("cid", get("cid"))],
                    join_on=["t"])
            .backlink("q", "c", "children", by={"cids": "cid"})
            .run()
        )

    res = build()
    assert res._persisted, "sink-less backlink run should own parent caches"
    cached = res._persisted[0]
    assert cached.storageLevel != StorageLevel.NONE
    rows = {d["qid"]: [c["t"] for c in d["children"]] for d in res.rows("q")}
    assert rows == {1: ["a", "b"], 2: ["b"]}
    res.release()
    assert cached.storageLevel == StorageLevel.NONE
    res.release()  # idempotent

    # context-manager form
    with build() as res2:
        pinned = list(res2._persisted)
        assert pinned and pinned[0].storageLevel != StorageLevel.NONE
    assert all(f.storageLevel == StorageLevel.NONE for f in pinned)


# -- one key rule for every relationship API -------------------------------

# (parents, children) per probe shape; parents arrive in list order
_BIND_SHAPES = {
    # the child key reads BIGINT, the parent key STRING: 7 != "7"
    "int_vs_str": ([{"k": "7"}], [{"pk": 7}]),
    # a string sibling makes the child key VARIANT; 7 still != "7"
    "variant_vs_str": ([{"k": "7"}, {"k": "x"}], [{"pk": 7}, {"pk": "x"}]),
    # BIGINT 2**53 + 1 != DOUBLE 2.0**53, while 2**53 == 2.0**53
    "2_53_neighbours": ([{"k": 2.0**53}], [{"pk": 2**53 + 1}, {"pk": 2**53}]),
    # a NULL child key is skipped: no fk, and never an orphan
    "null_child_key": ([{"k": 1}], [{"pk": 1}, {"pk": None}]),
    # parents sharing a key: the last one wins
    "dup_parent_key": ([{"k": 1}, {"k": 1}], [{"pk": 1}]),
}


@pytest.mark.parametrize("shape", sorted(_BIND_SHAPES))
def test_bind_apis_match_reference_bind(spark, shape):
    """link_to, backlink, bind_many_to_one and
    validate_relationship_completeness decide "does this child key match
    that parent key" by one rule, Python's: each agrees with the
    pure-Python dict bind on every probe shape."""
    from merge_reference import reference_bind

    from etielle_spark import ManyToOneSpec, bind_many_to_one
    from etielle_spark.fluent import _plain_py
    from etielle_spark.relationships import (
        RelationshipIncompleteError,
        validate_relationship_completeness,
    )

    shape_parents, shape_children = _BIND_SHAPES[shape]
    # parent ids 10.., child ids 1..; each parent lists its own key as
    # the backlink id list
    parents = [
        dict(p, id=10 + i, seq=i, kids=[p["k"]]) for i, p in enumerate(shape_parents)
    ]
    children = [dict(c, id=1 + i) for i, c in enumerate(shape_children)]
    bound, orphans = reference_bind(children, parents, [("pk", "k")])
    want_fk = {c["id"]: p and p["id"] for c, p in zip(children, bound)}
    want_kids, kid_orphans = {}, []
    for p in parents:
        got, missing = reference_bind([{"v": v} for v in p["kids"]], children, [("v", "pk")])
        want_kids[p["id"]] = [c["id"] for c in got if c]
        kid_orphans += missing

    def build(pk_field=Field):
        return (
            etl({"parents": parents, "children": children}, spark=spark)
            .goto("parents").each()
            .map_to("parents", fields=[
                Field("id", get("id")), Field("k", get("k")),
                Field("seq", get("seq")), TempField("kids", get("kids")),
            ], join_on=["id"])
            .goto_root()
            .goto("children").each()
            .map_to("children", fields=[Field("id", get("id")), pk_field("pk", get("pk"))],
                    join_on=["id"])
        )

    # link_to: fk and required errors
    res = build().link_to("parents", by={"pk": "k"}, fk="parent_id", required=True).run()
    assert {r["id"]: r["parent_id"] for r in res.rows("children")} == want_fk
    assert res.errors["children"].count() == len(orphans)
    # backlink: the collected children, and fail_on_missing (the key is
    # a TempField: a collected row cannot hold a VARIANT column)
    res = build(TempField).backlink("parents", "children", "kid_rows", by={"kids": "pk"}).run()
    got_kids = {r["id"]: [c["id"] for c in r["kid_rows"]] for r in res.rows("parents")}
    assert got_kids == want_kids
    strict = build(TempField).backlink(
        "parents", "children", "kid_rows", by={"kids": "pk"}, fail_on_missing=True
    )
    if kid_orphans:
        with pytest.raises(ValueError, match="missing child ids"):
            strict.run()
    else:
        strict.run()

    # the core API on the same typed frames
    plain = build().run()
    child_df, parent_df = plain["children"], plain["parents"]
    spec = ManyToOneSpec("children", "parents", "parent_id", ["pk"], ["k"], parent_fk="id")
    b, errors = bind_many_to_one(child_df, parent_df, spec, order_col="seq")
    assert {r["id"]: r["parent_id"] for r in b.collect()} == {
        i: fk for i, fk in want_fk.items() if i not in {c["id"] for c in orphans}
    }
    assert sorted(r["id"] for r in errors.collect()) == sorted(c["id"] for c in orphans)
    assert {_plain_py(r["pk"]) for r in errors.collect()} == {c["pk"] for c in orphans}
    if orphans:
        with pytest.raises(RelationshipIncompleteError) as ei:
            validate_relationship_completeness(child_df, parent_df, spec)
        assert str(len(orphans)) + "+ missing" in str(ei.value)
    else:
        validate_relationship_completeness(child_df, parent_df, spec)
