"""F3 — merge policies as aggregates (FIXTURES.md; reference
etielle/instances.py:36-85, applied incrementally from old=None)."""

from etielle_spark import (
    AddPolicy,
    AppendPolicy,
    ExtendPolicy,
    Field,
    FirstNonNullPolicy,
    MaxPolicy,
    MinPolicy,
    etl,
    get,
)


def run_policies(spark, events, policies):
    fields = [Field("k", get("k"))]
    for name, (path, pol) in policies.items():
        fields.append(Field(name, get(path), merge=pol))
    return (
        etl({"events": events}, spark=spark)
        .goto("events")
        .each()
        .map_to("out", fields=fields, join_on=["k"])
        .run()
    )


def by_key(result):
    return {r["k"]: r for r in result.rows("out")}


def test_add_append_min_max_first(spark):
    events = [
        {"k": "a", "n": 1, "tag": "x", "m": 5},
        {"k": "a", "n": 2, "tag": "y", "m": 3},
        {"k": "b", "n": 10, "tag": None, "m": None},
        {"k": "a", "n": None, "tag": "z", "m": 9},
    ]
    result = run_policies(
        spark,
        events,
        {
            "total": ("n", AddPolicy()),
            "tags": ("tag", AppendPolicy()),
            "lo": ("m", MinPolicy()),
            "hi": ("m", MaxPolicy()),
            "first_m": ("m", FirstNonNullPolicy()),
        },
    )
    rows = by_key(result)
    a, b = rows["a"], rows["b"]
    # AddPolicy: (old or 0) + (new or 0) folded from None
    assert a["total"] == 3
    assert b["total"] == 10
    # AppendPolicy: non-None values in arrival order
    assert a["tags"] == ["x", "y", "z"]
    assert b["tags"] == []
    # Min/Max None-tolerant
    assert (a["lo"], a["hi"]) == (3, 9)
    assert (b["lo"], b["hi"]) == (None, None)
    # FirstNonNull
    assert a["first_m"] == 5
    assert b["first_m"] is None


def test_add_all_none_yields_zero(spark):
    # merge(None, None) = (None or 0) + (None or 0) = 0 on the second emit
    events = [{"k": "a", "n": None}, {"k": "a", "n": None}]
    result = run_policies(spark, events, {"total": ("n", AddPolicy())})
    assert by_key(result)["a"]["total"] == 0


def test_extend_policy_arrays(spark):
    events = [
        {"k": "a", "vals": [1, 2]},
        {"k": "a", "vals": [3]},
        {"k": "a", "vals": None},
        {"k": "b", "vals": []},
    ]
    result = run_policies(spark, events, {"vals": ("vals", ExtendPolicy())})
    rows = by_key(result)
    assert rows["a"]["vals"] == [1, 2, 3]
    assert rows["b"]["vals"] == []


def test_lww_default_overwrites_with_none(spark):
    # default (no policy): last write wins even when the last value is None
    # (executor.py:278-281 row[fld.name] = value)
    events = [
        {"k": "a", "v": "first"},
        {"k": "a", "v": None},
        {"k": "b", "v": None},
        {"k": "b", "v": "second"},
    ]
    result = run_policies(spark, events, {"v": ("v", None)})
    rows = by_key(result)
    assert rows["a"]["v"] is None
    assert rows["b"]["v"] == "second"


def test_single_emission_lww_plan_is_per_field_max_by(spark):
    """A single-emission, all-atomic LWW table (the benchmark's ``posts``
    shape) merges with one ``max_by`` per field over the shared arrival
    order: no ``__o_<name>`` mirror column, no whole-row ``__row``
    struct.  Without nesting positions the order is the long
    ``__ord.w``; under an ``each()`` it is the ``__ord`` struct."""
    import re

    fields = [Field("id", get("id")), Field("user_id", get("user_id")),
              Field("title", get("title"))]
    flat = spark.createDataFrame(
        [(10, 1, "t", 1), (10, 1, "u", 2), (11, 2, "v", 3)],
        "id long, user_id long, title string, seq long",
    )
    res = (
        etl(flat, spark=spark, order_col="seq")
        .map_to("posts", fields=fields, join_on=["id"])
        .run()
    )
    nested = (
        etl({"posts": [{"id": 10, "user_id": 1, "title": "t"},
                       {"id": 10, "user_id": 1, "title": "u"},
                       {"id": 11, "user_id": 2, "title": "v"}]}, spark=spark)
        .goto("posts").each()
        .map_to("posts", fields=fields, join_on=["id"])
        .run()
    )
    for result, order in ((res, r"__ord#\d+L?\.w"), (nested, r"__ord#\d+")):
        qe = result["posts"]._jdf.queryExecution()
        analyzed = qe.analyzed().toString()
        for name in ("user_id", "title"):
            assert re.search(rf"max_by\({name}#\d+L?, {order}\) AS {name}#", analyzed)
        for plan in (analyzed, qe.optimizedPlan().toString()):
            assert not re.search(r"\b(__o_\w+|__row)#", plan)
        assert sorted((r["id"], r["title"]) for r in result.rows("posts")) == [
            (10, "u"), (11, "v")
        ]
