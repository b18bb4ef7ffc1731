"""M4 surface: sinks + topological flush order, stats via observe,
error modes, graph utils (SURVEY §2.7/§2.9)."""

import pytest
from pyspark.sql import functions as F

from etielle_spark import Field, TempField, etl, get
from etielle_spark.sources import CollectSink, ParquetSink
from etielle_spark.utils import connected_components, topological_order


def three_table_pipeline(spark, sink=None):
    data = {
        "regions": [{"id": "r1", "name": "na"}],
        "users": [{"id": "u1", "region": "r1"}],
        "posts": [{"id": "p1", "user": "u1"}],
    }
    p = (
        etl(data, spark=spark)
        .goto("posts")
        .each()
        .map_to(
            "posts",
            fields=[Field("id", get("id")), Field("user_id", get("user"))],
            join_on=["id"],
        )
        .link_to("users", by={"user_id": "id"})
        .goto_root(0)
        .goto("users")
        .each()
        .map_to(
            "users",
            fields=[Field("id", get("id")), Field("region_id", get("region"))],
            join_on=["id"],
        )
        .link_to("regions", by={"region_id": "id"})
        .goto_root(0)
        .goto("regions")
        .each()
        .map_to(
            "regions",
            fields=[Field("id", get("id")), Field("name", get("name"))],
            join_on=["id"],
        )
    )
    if sink is not None:
        p = p.load(sink)
    return p


def test_topological_flush_order(spark):
    sink = CollectSink()
    result = three_table_pipeline(spark, sink).run()
    written = list(sink.tables.keys())
    assert written.index("regions") < written.index("users") < written.index("posts")
    assert result.write_order == written


def test_parquet_sink_roundtrip(spark, tmp_path):
    sink = ParquetSink(str(tmp_path))
    three_table_pipeline(spark, sink).run()
    back = spark.read.parquet(str(tmp_path / "posts"))
    assert [tuple(r) for r in back.select("id", "user_id").collect()] == [("p1", "u1")]


def test_cycle_detection():
    with pytest.raises(ValueError, match="cycle"):
        topological_order({"a", "b"}, {"a": {"b"}, "b": {"a"}})


def test_connected_components():
    comps = connected_components(
        {"a", "b", "c", "d"}, {("a", "b"), ("c", "d")}
    )
    assert comps == [["a", "b"], ["c", "d"]]


def test_observe_stats(spark):
    """TableStats equivalent: df.observe metrics collected on write
    (reference fluent.py:164-178)."""
    from pyspark.sql import Observation

    data = {"users": [{"id": "u1"}, {"id": "u2"}, {"id": None}]}
    result = (
        etl(data, spark=spark)
        .goto("users")
        .each()
        .map_to("users", fields=[Field("id", get("id"))], join_on=["id"])
        .run()
    )
    obs = Observation("stats")
    df = result["users"].observe(obs, F.count(F.lit(1)).alias("mapped"))
    df.collect()
    assert obs.get["mapped"] == 2  # null-key row skipped


def test_two_phase_fk_write(spark, tmp_path):
    """Two-phase FK against generated parent IDs (SURVEY §7 hard part #4)."""
    from etielle_spark.sources.twophase import (
        populate_child_fk,
        write_parents_with_generated_ids,
    )

    parents = spark.createDataFrame(
        [("alice",), ("bob",), ("carol",)], "username string"
    )
    children = spark.createDataFrame(
        [("p1", "alice"), ("p2", "bob"), ("p3", "alice"), ("p4", "ghost")],
        "post string, author string",
    )
    written = write_parents_with_generated_ids(
        spark, parents, str(tmp_path / "users"), natural_key=["username"]
    )
    # ids are unique and dense 1..N (the IDENTITY guarantee); assignment
    # order follows partition layout, like a DB under parallel inserts
    id_of = {r["username"]: r["gen_id"] for r in written.collect()}
    assert sorted(id_of.values()) == [1, 2, 3]
    # no single-partition exchange in the staging plan (the point of the
    # per-partition offset design)
    linked = populate_child_fk(
        children, written, by={"author": "username"}, fk_col="user_id"
    )
    got = {r["post"]: r["user_id"] for r in linked.collect()}
    assert got == {
        "p1": id_of["alice"],
        "p2": id_of["bob"],
        "p3": id_of["alice"],
        "p4": None,
    }

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="unwritten parents"):
        populate_child_fk(
            children, written, by={"author": "username"}, fk_col="user_id", required=True
        )


def test_supabase_two_phase_all_null_column(spark):
    """A nullable parent column that is None in EVERY row must not crash
    phase 2's DataFrame lift (schema inference would)."""
    from etielle_spark.sources.supabase import fake_client
    from etielle_spark.sources.twophase import supabase_two_phase_insert

    client = fake_client(generate_id="id")
    users = spark.createDataFrame(
        [("a@x", None), ("b@x", None)], "email string, bio string"
    )
    posts = spark.createDataFrame(
        [("a@x", "t1"), ("b@x", "t2")], "user_email string, title string"
    )
    _, n_p, n_c = supabase_two_phase_insert(
        client, "users", users, "posts", posts,
        by={"user_email": "email"}, fk_col="user_id",
    )
    assert (n_p, n_c) == (2, 2)
    uid = {r["email"]: r["id"] for r in client.rows["users"]}
    got = {(r["title"], r["user_id"]) for r in client.rows["posts"]}
    assert got == {("t1", uid["a@x"]), ("t2", uid["b@x"])}


def test_two_phase_fk_non_string_natural_key(spark):
    """Date natural keys survive the json default=str echo lift: the
    parent key is cast to the CHILD key's dtype before the FK join, so
    the equality is exact instead of implicit-cast roulette."""
    import datetime

    from etielle_spark.sources.supabase import fake_client
    from etielle_spark.sources.twophase import supabase_two_phase_insert

    client = fake_client(generate_id="id")
    days = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), "mon"), (datetime.date(2024, 1, 2), "tue")],
        "day date, label string",
    )
    events = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), "a"), (datetime.date(2024, 1, 2), "b"),
         (datetime.date(2024, 1, 2), "c")],
        "event_day date, name string",
    )
    children, n_parents, n_children = supabase_two_phase_insert(
        client, "days", days, "events", events,
        by={"event_day": "day"}, fk_col="day_id", required=True,
    )
    assert (n_parents, n_children) == (2, 3)
    did = {str(r["day"]): r["id"] for r in client.rows["days"]}
    got = {(r["name"], r["day_id"]) for r in client.rows["events"]}
    assert got == {
        ("a", did["2024-01-01"]),
        ("b", did["2024-01-02"]),
        ("c", did["2024-01-02"]),
    }
    assert None not in {fk for _, fk in got}


def test_two_phase_fk_duplicate_natural_key_is_deterministic(spark):
    """A natural key written twice resolves to its greatest generated id,
    whatever order the written rows come back in; a NULL child key keeps
    a NULL fk and is not a missing parent."""
    from etielle_spark.sources.twophase import populate_child_fk

    children = spark.createDataFrame(
        [("p1", "alice"), ("p2", "bob"), ("p3", None)], "post string, author string"
    )
    for rows in (
        [("alice", 1), ("alice", 2), ("bob", 3)],
        [("bob", 3), ("alice", 2), ("alice", 1)],
    ):
        written = spark.createDataFrame(rows, "username string, gen_id long")
        linked = populate_child_fk(
            children, written, by={"author": "username"}, fk_col="user_id",
            required=True,
        )
        got = {r["post"]: r["user_id"] for r in linked.collect()}
        assert got == {"p1": 2, "p2": 3, "p3": None}


def test_generated_ids_multi_partition_no_global_funnel(spark):
    """Per-partition offset ids: dense 1..N across many partitions, and the
    staging plan contains NO single-partition exchange (the round-1 global
    Window.orderBy would have shown 'Exchange SinglePartition')."""
    from etielle_spark.sources.twophase import stage_with_generated_ids

    df = spark.range(0, 5000).selectExpr("concat('u', id) AS username").repartition(8)
    staged, pinned, n = stage_with_generated_ids(df, natural_key=["username"])
    try:
        ids = [r["gen_id"] for r in staged.select("gen_id").collect()]
        assert n == 5000
        assert sorted(ids) == list(range(1, 5001))
        plan = staged._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan
    finally:
        pinned.unpersist()


def test_flushed_stats_without_callback(spark):
    """table_stats().inserted is populated whenever a sink is attached,
    even with no on_event callback (round-2 ADVICE: _flushed was only
    written inside the callback branch)."""
    sink = CollectSink()
    result = three_table_pipeline(spark, sink).run()
    stats = result.table_stats()
    assert stats["regions"].inserted == 1
    assert stats["users"].inserted == 1
    assert stats["posts"].inserted == 1


def test_flush_failed_event_and_stats(spark):
    """A sink failure emits FlushFailed, records the attempted rows as
    failed, and re-raises (reference fluent.py:1003-1019)."""
    from etielle_spark.sources.sinks import Sink
    from etielle_spark.telemetry import FlushFailed

    class BoomSink(Sink):
        def write(self, table, df):
            raise RuntimeError("disk on fire")

    events = []
    p = three_table_pipeline(spark, BoomSink())
    p._on_event = events.append
    with pytest.raises(RuntimeError, match="disk on fire"):
        p.run()
    failed = [e for e in events if isinstance(e, FlushFailed)]
    assert failed and failed[0].table == "regions"
    assert "disk on fire" in failed[0].error


def test_map_completed_count_with_sink(spark):
    """With a sink attached the write job's observe() gives the mapped
    count for free — MapCompleted carries it (round-2 VERDICT ask #6)."""
    from etielle_spark.telemetry import MapCompleted

    events = []
    sink = CollectSink()
    p = three_table_pipeline(spark, sink)
    p._on_event = events.append
    p.run()
    counts = {e.table: e.count for e in events if isinstance(e, MapCompleted)}
    assert counts == {"regions": 1, "users": 1, "posts": 1}
