"""F9/F10 — streaming parity: chunked == resident (the differential oracle
from reference tests/test_issue_75.py:88), relationship-completeness,
flush strategies, eager dimensions, and native Structured Streaming."""

import pytest
from pyspark.sql import functions as F

from etielle_spark import AddPolicy, Field, TempField, etl, get, literal
from etielle_spark.streaming import (
    Chunk,
    GroupByChunkSource,
    OneRecordPerChunkSource,
    PreSegmentedChunkSource,
    RelationshipIncompleteError,
    UpsertFlushStrategy,
    partitioned_chunks,
    stream,
    tumbling_agg,
)


def records():
    # each record is a parent subtree: orders + their items (FIXTURES F9)
    return [
        {
            "orders": [{"id": i, "customer": f"c{i % 3}"}],
            "items": [
                {"id": i * 10 + j, "order_id": i, "sku": f"sku{j}"}
                for j in range(i % 3 + 1)
            ],
        }
        for i in range(1, 8)
    ]


def build(pipeline):
    return (
        pipeline.goto("orders")
        .each()
        .map_to(
            "orders",
            fields=[Field("id", get("id")), Field("customer", get("customer"))],
            join_on=["id"],
        )
        .goto_root(0)
        .goto("items")
        .each()
        .map_to(
            "items",
            fields=[
                Field("id", get("id")),
                Field("order_id", get("order_id")),
                Field("sku", get("sku")),
            ],
            join_on=["id"],
        )
        .link_to("orders", by={"order_id": "id"})
    )


def resident_tables(spark):
    merged = {
        "orders": [o for r in records() for o in r["orders"]],
        "items": [i for r in records() for i in r["items"]],
    }
    res = build(etl(merged, spark=spark)).run()
    return {
        "orders": res.row_set("orders", "id", "customer"),
        "items": res.row_set("items", "id", "order_id", "sku"),
    }


def as_sets(stream_result):
    out = {}
    for name in ("orders", "items"):
        df = stream_result[name]
        cols = ["id", "customer"] if name == "orders" else ["id", "order_id", "sku"]
        out[name] = {tuple(r) for r in df.select(*cols).collect()}
    return out


def test_chunked_equals_resident(spark):
    """THE differential oracle (reference test_issue_75.py:88)."""
    expected = resident_tables(spark)
    got = as_sets(build(stream(OneRecordPerChunkSource(records()), spark=spark)).run())
    assert got == expected


def test_presegmented_and_groupby_sources(spark):
    expected = resident_tables(spark)
    seg = PreSegmentedChunkSource([records()[:3], records()[3:]])
    assert as_sets(build(stream(seg, spark=spark)).run()) == expected

    grouped = GroupByChunkSource(records(), key=lambda r: r["orders"][0]["customer"])
    got = as_sets(build(stream(grouped, spark=spark)).run())
    assert got == expected


def test_partitioned_chunks_unsorted_input(spark):
    """ExternalPartition replacement: unsorted input, one chunk per key
    in first-appearance order (reference test_issue_77.py:85-103)."""
    recs = records()
    shuffled = [recs[i] for i in (3, 0, 5, 1, 6, 2, 4)]
    chunks = list(partitioned_chunks(shuffled, key=lambda r: r["orders"][0]["customer"]))
    assert len(chunks) == 3  # 3 distinct customers
    src = PreSegmentedChunkSource(chunks)
    assert as_sets(build(stream(src, spark=spark)).run()) == resident_tables(spark)


def test_relationship_incomplete_raises(spark):
    bad = [{"orders": [], "items": [{"id": 99, "order_id": 42, "sku": "x"}]}]
    with pytest.raises(RelationshipIncompleteError):
        build(stream(OneRecordPerChunkSource(bad), spark=spark)).run()


def test_eager_dimension(spark):
    """F10: eager dims mapped once, children across all chunks resolve
    (reference test_issue_75.py:360-405)."""
    tags_root = {"tags": [{"id": "t1", "name": "red"}, {"id": "t2", "name": "blue"}]}
    item_records = [
        {"items": [{"id": 1, "tag_id": "t1"}]},
        {"items": [{"id": 2, "tag_id": "t2"}]},
        {"items": [{"id": 3, "tag_id": "t1"}]},
    ]
    pipe = (
        stream(
            OneRecordPerChunkSource(item_records),
            spark=spark,
            eager_roots=[tags_root],
        )
        .goto("tags")
        .each()
        .map_to(
            "tags",
            fields=[Field("id", get("id")), Field("name", get("name"))],
            join_on=["id"],
        )
        .load_eager("tags")
        .goto_root(0)
        .goto("items")
        .each()
        .map_to(
            "items",
            fields=[Field("id", get("id")), Field("tag_id", get("tag_id"))],
            join_on=["id"],
        )
        .link_to("tags", by={"tag_id": "id"})
    )
    result = pipe.run()
    assert {tuple(r) for r in result["tags"].select("id", "name").collect()} == {
        ("t1", "red"),
        ("t2", "blue"),
    }
    assert result["items"].count() == 3
    # a chunk referencing an absent, non-eager tag still fails
    bad = stream(
        OneRecordPerChunkSource([{"items": [{"id": 9, "tag_id": "ghost"}]}]),
        spark=spark,
        eager_roots=[tags_root],
    )
    bad = (
        bad.goto("tags").each()
        .map_to("tags", fields=[Field("id", get("id"))], join_on=["id"])
        .load_eager("tags")
        .goto_root(0)
        .goto("items").each()
        .map_to("items", fields=[Field("id", get("id")), Field("tag_id", get("tag_id"))], join_on=["id"])
        .link_to("tags", by={"tag_id": "id"})
    )
    with pytest.raises(RelationshipIncompleteError):
        bad.run()


def test_upsert_strategies(spark):
    recs = [
        {"users": [{"id": "u1", "v": 1}]},
        {"users": [{"id": "u1", "v": 2}, {"id": "u2", "v": 5}]},
    ]

    def pipe(strategy):
        return (
            stream(OneRecordPerChunkSource(recs), spark=spark, flush_strategy=strategy)
            .goto("users")
            .each()
            .map_to(
                "users",
                fields=[Field("id", get("id")), Field("v", get("v"))],
                join_on=["id"],
            )
        )

    update = pipe(UpsertFlushStrategy("update")).run()
    assert {tuple(r) for r in update["users"].select("id", "v").collect()} == {
        ("u1", 2),
        ("u2", 5),
    }
    skip = pipe(UpsertFlushStrategy("skip")).run()
    assert {tuple(r) for r in skip["users"].select("id", "v").collect()} == {
        ("u1", 1),
        ("u2", 5),
    }


def test_flush_strategies_with_dotted_names(spark):
    from etielle_spark.streaming import BufferedKeyFlushStrategy

    recs = [
        {"users": [{"id": "u1", "v": 1}]},
        {"users": [{"id": "u1", "v": 2}, {"id": "u2", "v": 5}]},
    ]

    def run(strategy):
        res = (
            stream(OneRecordPerChunkSource(recs), spark=spark, flush_strategy=strategy)
            .goto("users")
            .each()
            .map_to(
                "users",
                fields=[Field("k.1", get("id")), Field("v.x", get("v"))],
                join_on=["k.1"],
            )
            .run()
        )
        return sorted((r["k.1"], r["v.x"]) for r in res["users"].collect())

    assert run(UpsertFlushStrategy("update")) == [("u1", 2), ("u2", 5)]
    assert run(UpsertFlushStrategy("skip")) == [("u1", 1), ("u2", 5)]
    assert run(BufferedKeyFlushStrategy()) == [("u1", 2), ("u2", 5)]


def test_structured_streaming_windows(spark):
    """Drive a real readStream (availableNow over the events parquet) and
    check the windowed aggregation equals the batch computation."""
    import shutil
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = "/root/testdata/sf0.001/events.parquet"
    # FileStreamSource wants a directory of files
    path = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(src, f"{path}/part-0.parquet")
    static = spark.read.parquet(path)
    schema = static.schema
    from etielle_spark.benchqueries import fix_event_ts

    fix = fix_event_ts

    batch = tumbling_agg(
        fix(static), "ts", "1 hour", F.count("*").alias("n"), keys=["event_type"]
    )

    events = spark.readStream.schema(schema).parquet(path)
    agg = tumbling_agg(
        fix(events),
        "ts",
        "1 hour",
        F.count("*").alias("n"),
        keys=["event_type"],
        watermark="1 minute",
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT window_start, event_type, n FROM win_out")
    want = batch.select("window_start", "event_type", "n")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_many_chunks_lineage_bounded(spark):
    """A long chunk stream keeps its state bounded: every 16th part of a
    table, the store checkpoints the resolved table into one part, so a
    read unions at most 16 chunk frames."""
    recs = [{"users": [{"id": f"u{i}", "v": i}]} for i in range(40)]
    pipe = (
        stream(
            OneRecordPerChunkSource(recs),
            spark=spark,
            flush_strategy=UpsertFlushStrategy("update"),
        )
        .goto("users")
        .each()
        .map_to(
            "users",
            fields=[Field("id", get("id")), Field("v", get("v"))],
            join_on=["id"],
        )
    )
    result = pipe.run()
    assert result.n_chunks == 40
    assert result["users"].count() == 40


def test_drop_duplicates_within_watermark(spark):
    """Spark-native late-duplicate handling — the streaming twin of the
    reference's BufferedKeyFlushStrategy LRU (chunking.py:543-677)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F2

    path = tempfile.mkdtemp(prefix="dupe_stream_")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:30"), (2, "2024-01-01 10:01:00")],
        "k long, ts_s string",
    ).withColumn("ts", F2.col("ts_s").cast("timestamp")).drop("ts_s").write.mode(
        "overwrite"
    ).parquet(path)

    src = spark.readStream.schema("k long, ts timestamp").parquet(path)
    deduped = src.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT k FROM dd_out").count() == 2


def test_stateful_running_counts_across_batches(spark):
    """applyInPandasWithState: per-key state survives micro-batches
    (maxFilesPerTrigger=1 forces multiple batches)."""
    import tempfile

    from etielle_spark.streaming.stateful import running_counts

    src = tempfile.mkdtemp(prefix="state_src_")
    spark.createDataFrame([(1, 10.0), (2, 5.0)], "k long, v double").write.mode(
        "overwrite"
    ).parquet(f"{src}/b1")
    spark.createDataFrame([(1, 7.0)], "k long, v double").write.mode(
        "overwrite"
    ).parquet(f"{src}/b2")

    stream_df = (
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = running_counts(stream_df, "k", "v")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("state_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT k, max(running_count) c, max(running_sum) s FROM state_out GROUP BY k"
    ).collect()
    got = {r["k"]: (r["c"], r["s"]) for r in rows}
    assert got[1] == (2, 17.0)
    assert got[2] == (1, 5.0)


def test_eager_parent_fk_resolves_across_chunks(spark):
    """Children in chunks pick up FK values from an eager dimension that
    the chunk itself never emits (the corrupt-NULL-FK regression)."""
    tags_root = {"tags": [{"id": "t1"}, {"id": "t2"}]}
    recs = [
        {"items": [{"id": 1, "tag_id": "t1"}]},
        {"items": [{"id": 2, "tag_id": "t2"}]},
    ]
    pipe = (
        stream(OneRecordPerChunkSource(recs), spark=spark, eager_roots=[tags_root])
        .goto("tags")
        .each()
        .map_to("tags", fields=[Field("id", get("id"))], join_on=["id"])
        .load_eager("tags")
        .goto_root(0)
        .goto("items")
        .each()
        .map_to(
            "items",
            fields=[Field("id", get("id")), Field("tag_id", get("tag_id"))],
            join_on=["id"],
        )
        .link_to("tags", by={"tag_id": "id"}, fk="tag_fk")
    )
    result = pipe.run()
    got = {r["id"]: r["tag_fk"] for r in result["items"].collect()}
    assert got == {1: "t1", 2: "t2"}


def test_stream_errors_collected(spark):
    recs = [
        {"users": [{"id": "u1", "age": "30"}]},
        {"users": [{"id": "u2", "age": "bad"}]},
    ]
    result = (
        stream(OneRecordPerChunkSource(recs), spark=spark)
        .goto("users")
        .each()
        .map_to(
            "users",
            fields=[Field("id", get("id")), Field("age", get("age"))],
            join_on=["id"],
            schema="id string, age int",
        )
        .run()
    )
    assert result["users"].count() == 1
    assert "users" in result.errors
    errs = result.errors["users"].collect()
    assert len(errs) == 1 and errs[0]["key"] == "u2"


def test_stream_sink_gets_final_tables_including_eager(spark):
    from etielle_spark.sources import CollectSink

    tags_root = {"tags": [{"id": "t1"}]}
    recs = [{"items": [{"id": 1, "tag_id": "t1"}]}]
    sink = CollectSink()
    pipe = (
        stream(OneRecordPerChunkSource(recs), spark=spark, eager_roots=[tags_root])
        .goto("tags").each()
        .map_to("tags", fields=[Field("id", get("id"))], join_on=["id"])
        .load_eager("tags")
        .goto_root(0)
        .goto("items").each()
        .map_to("items", fields=[Field("id", get("id")), Field("tag_id", get("tag_id"))], join_on=["id"])
        .link_to("tags", by={"tag_id": "id"})
        .load(sink)
    )
    pipe.run()
    assert "tags" in sink.tables and "items" in sink.tables


def test_stream_rejects_traversal_index(spark):
    from etielle_spark import node as t_node

    pipe = (
        stream(OneRecordPerChunkSource([{"a": [1]}]), spark=spark)
        .goto("a")
        .each()
        .build_index("idx", key=t_node(), value=t_node())
        .map_to("t", fields=[Field("v", get("x"))])
    )
    with pytest.raises(ValueError, match="traversal-built"):
        pipe.run()


def test_multiroot_nonsequential_chunks(spark):
    """Chunk(sequential=False): root i feeds goto_root(i)
    (reference chunking.py:24-33)."""
    from etielle_spark.streaming import CallableChunkSource

    def make_chunks():
        for i in range(1, 4):
            yield Chunk(
                roots=(
                    {"orders": [{"id": i, "customer": f"c{i}"}]},
                    {"items": [{"id": i * 10, "order_id": i}]},
                ),
                sequential=False,
            )

    pipe = (
        stream(CallableChunkSource(make_chunks), spark=spark)
        .goto("orders")
        .each()
        .map_to(
            "orders",
            fields=[Field("id", get("id")), Field("customer", get("customer"))],
            join_on=["id"],
        )
        .goto_root(1)
        .goto("items")
        .each()
        .map_to(
            "items",
            fields=[Field("id", get("id")), Field("order_id", get("order_id"))],
            join_on=["id"],
        )
        .link_to("orders", by={"order_id": "id"}, fk="ofk")
        .run()
    )
    assert {tuple(r) for r in pipe["orders"].select("id", "customer").collect()} == {
        (1, "c1"),
        (2, "c2"),
        (3, "c3"),
    }
    assert {tuple(r) for r in pipe["items"].select("id", "ofk").collect()} == {
        (10, 1),
        (20, 2),
        (30, 3),
    }


def test_buffered_key_lru_bound(spark):
    """BufferedKeyFlushStrategy honors max_keys (reference
    chunking.py:543-677): a key still in the LRU merges non-None values
    onto its row; a key evicted from the LRU re-inserts as a duplicate
    row (the documented heuristic breakage)."""
    from etielle_spark.streaming import (
        BufferedKeyFlushStrategy,
        OneRecordPerChunkSource,
        stream,
    )

    recs = [
        {"users": [{"id": "u1", "v": 1, "w": "a"}]},
        {"users": [{"id": "u2", "v": 2, "w": "b"}]},
        # u1 still cached (max_keys=2): merges, None w keeps old value
        {"users": [{"id": "u1", "v": 10}]},
        # u3 pushes u2 out of the LRU (u1 was refreshed above)
        {"users": [{"id": "u3", "v": 3, "w": "c"}]},
        # u2 was evicted -> re-inserted as a duplicate row
        {"users": [{"id": "u2", "v": 20, "w": "B"}]},
    ]
    result = (
        stream(
            OneRecordPerChunkSource(recs),
            spark=spark,
            flush_strategy=BufferedKeyFlushStrategy(max_keys=2),
        )
        .goto("users")
        .each()
        .map_to(
            "users",
            fields=[Field("id", get("id")), Field("v", get("v")), Field("w", get("w"))],
            join_on=["id"],
        )
        .run()
    )
    rows = sorted(
        (r["id"], r["v"], r["w"]) for r in result["users"].collect()
    )
    assert rows == [
        ("u1", 10, "a"),   # merged: v updated, w kept (None does not overwrite)
        ("u2", 2, "b"),    # original insert
        ("u2", 20, "B"),   # evicted -> duplicate insert
        ("u3", 3, "c"),
    ]


def test_buffered_key_rejects_bad_bound():
    from etielle_spark.streaming import BufferedKeyFlushStrategy

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_keys"):
        BufferedKeyFlushStrategy(max_keys=0)


# ---------------------------------------------------------------------------
# incremental LSH dedup (streaming/incremental_dedup.py)
# ---------------------------------------------------------------------------


def test_incremental_dedup_equals_batch(spark, tmp_path):
    """Differential: processing the corpus in 3 chunks emits exactly the
    pair set the one-shot batch LSH computes."""
    from etielle_spark.operators.dedup import lsh_candidate_pairs
    from etielle_spark.streaming.incremental_dedup import IncrementalLSHDedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    clones = docs.limit(15).selectExpr("doc_id + 1000000 AS doc_id", "text")
    corpus = docs.union(clones).cache()

    expected = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            corpus, "doc_id", "text", num_hashes=8, bands=4
        ).collect()
    }

    inc = IncrementalLSHDedup(
        spark, str(tmp_path / "lsh_index"), num_hashes=8, bands=4
    )
    got = set()
    for chunk in (
        corpus.filter("doc_id % 3 = 0"),
        corpus.filter("doc_id % 3 = 1"),
        corpus.filter("doc_id % 3 = 2"),
    ):
        out = inc.process_batch(chunk)
        got |= {(r["id_a"], r["id_b"]) for r in out.collect()}
        out.unpersist()

    assert got == expected and expected  # nonempty: the clones must pair


def test_incremental_dedup_foreachbatch_stream(spark, tmp_path):
    """Real readStream -> foreachBatch drive of the incremental dedup."""
    from etielle_spark.operators.dedup import lsh_candidate_pairs
    from etielle_spark.streaming.incremental_dedup import IncrementalLSHDedup

    src = str(tmp_path / "src")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    dup = docs.limit(8).selectExpr("doc_id + 5000000 AS doc_id", "text")
    docs.union(dup).repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    collected = []
    inc = IncrementalLSHDedup(
        spark, str(tmp_path / "idx"), num_hashes=8, bands=4
    )

    def sink(pairs, batch_id):
        collected.extend((r["id_a"], r["id_b"]) for r in pairs.collect())
        pairs.unpersist()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(inc.attach(sink))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    expected = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            spark.read.parquet(src), "doc_id", "text", num_hashes=8, bands=4
        ).collect()
    }
    assert set(collected) == expected and expected


def test_sessionize_stateful_matches_batch(spark):
    """Streaming stateful sessionization emits exactly the CLOSED
    sessions that the batch sessionizer computes on the same events —
    differential check, state carried across micro-batches."""
    import datetime
    import tempfile

    from etielle_spark.operators.events import sessionize
    from etielle_spark.streaming.stateful import sessionize_stateful

    def ts(m):
        return datetime.datetime(2026, 1, 1, 10, m, 0)

    # user 1: sessions [0-2], [40-41], open [55]; user 2: [5], open [50]
    b1 = [(1, ts(0)), (1, ts(1)), (2, ts(5)), (1, ts(2))]
    b2 = [(1, ts(40)), (1, ts(41)), (2, ts(50)), (1, ts(55))]

    src = tempfile.mkdtemp(prefix="sess_src_")
    spark.createDataFrame(b1, "k long, ts timestamp").coalesce(1).write.parquet(f"{src}/b1")
    spark.createDataFrame(b2, "k long, ts timestamp").coalesce(1).write.parquet(f"{src}/b2")
    # the file source orders batches by modification time; pin b2 after b1
    # so the micro-batches deliver in event order
    import os, time as _time

    now = _time.time()
    for d, off in ((f"{src}/b1", 0), (f"{src}/b2", 30)):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + off, now + off))

    stream_df = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = sessionize_stateful(stream_df, "k", "ts", gap_seconds=600)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }

    batch = sessionize(
        spark.createDataFrame(b1 + b2, "k long, ts timestamp"),
        "k", "ts", gap_seconds=600,
    ).collect()
    # drop each user's LAST session (still open in the state store)
    last_per_user = {}
    for r in batch:
        if r["k"] not in last_per_user or r["session_id"] > last_per_user[r["k"]]["session_id"]:
            last_per_user[r["k"]] = r
    want = {
        (
            r["k"],
            int(r["session_start"].timestamp()),
            int(r["session_end"].timestamp()),
            r["n_events"],
        )
        for r in batch
        if r is not last_per_user[r["k"]]
    }
    assert got == want and len(got) == 3


def test_sequential_chunk_cross_root_kind_mix(spark):
    """Roots within one sequential chunk disagreeing on a field's kind
    (list vs dict vs scalar) iterate per-row via the variant path — the
    batch analyzer must see ALL the chunk's roots, not one at a time."""
    from etielle_spark import get_from_parent, index, key

    recs = [
        {"items": [{"id": 1, "v": [10, 20]}]},
        {"items": [{"id": 2, "v": {"a": 9}}]},
        {"items": [{"id": 3, "v": 5}]},
    ]
    pipe = (
        stream(PreSegmentedChunkSource([recs]), spark=spark)
        .goto("items").each().goto("v").each()
        .map_to("t", fields=[
            Field("pid", get_from_parent("id")),
            Field("k", key()),
            Field("i", index()),
        ])
    )
    res = pipe.run()
    got = {(r["pid"], r["k"], r["i"])
           for r in (dict(zip(res["t"].columns, row)) for row in res["t"].collect())}
    assert got == {(1, None, 0), (1, None, 1), (2, "a", None), (3, None, None)}


def test_sessionize_stateful_late_event_no_rewind(spark):
    """A late cross-batch event (t < last, within gap) must NOT rewind
    the session frontier — with the rewind bug an on-time follow-up
    appeared > gap after `last` and spuriously closed the session
    (round-2 ADVICE)."""
    import datetime
    import os
    import tempfile
    import time as _time

    from etielle_spark.streaming.stateful import sessionize_stateful

    def ts(m):
        return datetime.datetime(2026, 1, 1, 10, 0, 0) + datetime.timedelta(
            minutes=m
        )

    def ep(m):
        return int(ts(m).replace(tzinfo=datetime.timezone.utc).timestamp())

    # gap 600s. b1: 10:10; b2: LATE 10:05 (within gap); b3: 10:16
    # (360s after true last 10:10 -> same session; 660s after the
    # rewound 10:05 -> spurious close with the bug); b4: 11:00 closes.
    batches = [
        [(1, ts(10))],
        [(1, ts(5))],
        [(1, ts(16))],
        [(1, ts(60))],
    ]
    src = tempfile.mkdtemp(prefix="sess_late_")
    now = _time.time()
    for i, b in enumerate(batches):
        d = f"{src}/b{i}"
        spark.createDataFrame(b, "k long, ts timestamp").coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + 10 * i, now + 10 * i))

    stream_df = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = sessionize_stateful(stream_df, "k", "ts", gap_seconds=600)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_late_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_late_out").collect()
    }
    # one closed session covering all three early events; frontier at
    # 10:16 (never rewound to 10:05).  Compare spans, not absolute
    # epochs (session-timezone neutral).
    assert len(got) == 1
    (k, s0, s1, n) = next(iter(got))
    assert (k, s1 - s0, n) == (1, 660, 3)


def test_incremental_hll_equals_batch(spark, tmp_path):
    """HLL register max-merge is associative: the estimate from state
    accumulated over 3 batches EXACTLY equals the one-shot batch
    estimate on the concatenated input."""
    from etielle_spark.operators.sketches import hll_distinct
    from etielle_spark.streaming.incremental_sketch import IncrementalHLL

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "lang", "text"
    )
    inc = IncrementalHLL(
        spark, str(tmp_path / "hll"), group_cols=["lang"], item_col="text"
    )
    assert inc.estimate().count() == 0  # empty state
    for k in range(3):
        inc.process_batch(docs.filter(F.crc32("text") % 3 == k))
    got = {
        (r["lang"], r["est_distinct"]) for r in inc.estimate().collect()
    }
    want = {
        (r["lang"], r["est_distinct"])
        for r in hll_distinct(docs, ["lang"], "text").collect()
    }
    assert got == want and want


def test_incremental_hll_foreachbatch_stream(spark, tmp_path):
    """readStream -> foreachBatch drive; duplicate re-ingest does not
    inflate the estimate (register merge is idempotent)."""
    from etielle_spark.operators.sketches import hll_distinct
    from etielle_spark.streaming.incremental_sketch import IncrementalHLL

    src = str(tmp_path / "src")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "lang", "text"
    )
    docs.union(docs.limit(50)).repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    inc = IncrementalHLL(
        spark, str(tmp_path / "hll2"), group_cols=["lang"], item_col="text"
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(inc.attach())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {(r["lang"], r["est_distinct"]) for r in inc.estimate().collect()}
    want = {
        (r["lang"], r["est_distinct"])
        for r in hll_distinct(docs, ["lang"], "text").collect()
    }
    assert got == want and want


def test_stream_session_sizes_state_partitions_and_keeps_parent_conf(spark, tmp_path):
    """A windowed stream started on stream_session's child runs its
    stateful operator at the derived partition count; the parent's conf
    is identical before and after, and the child carries the parent's
    runtime SQL conf."""
    import datetime

    from etielle_spark.session import partitions_for_rows
    from etielle_spark.streaming.windows import stream_session

    keys = ("spark.sql.shuffle.partitions", "spark.sql.legacy.parquet.nanosAsLong")
    saved = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        t0 = datetime.datetime(2024, 1, 1)
        src = str(tmp_path / "src")
        rows = [
            (t0 + datetime.timedelta(minutes=i), f"k{i % 3}", i) for i in range(40)
        ]
        spark.createDataFrame(rows, "ts timestamp, k string, v long").repartition(
            4
        ).write.parquet(src)
        schema = spark.read.parquet(src).schema
        before = dict(spark.conf.getAll)

        child = stream_session(spark, rows_per_batch=10)
        assert child.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        want_parts = partitions_for_rows(spark, 10)
        assert want_parts == 4
        agg = (
            child.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "5 minutes")
            .groupBy(F.window("ts", "1 minute"), "k")
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None
        state = q.lastProgress["stateOperators"]
        assert state[0]["numShufflePartitions"] == want_parts
        assert spark.read.parquet(str(tmp_path / "out")).count() > 0
        assert dict(spark.conf.getAll) == before
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# -- a sequential chunk reads and checks like a batch run ------------------


def test_variant_key_link_stream(spark):
    """A link key that mixes strings and numbers within one chunk is
    VARIANT-typed; the completeness probe joins it on the same canonical
    form as the batch link (7 matches 7.0, never '7')."""
    recs = [
        {"orders": [{"id": 1, "c": "x"}], "items": [{"id": 10, "order_id": 1}]},
        {"orders": [{"id": "b", "c": "y"}], "items": [{"id": 20, "order_id": "b"}]},
    ]

    def pipe(source):
        return (
            stream(source, spark=spark)
            .goto("orders").each()
            .map_to("orders", fields=[Field("id", get("id")), Field("c", get("c"))],
                    join_on=["c"])
            .goto_root(0).goto("items").each()
            .map_to("items", fields=[Field("id", get("id")),
                                     Field("order_id", get("order_id"))],
                    join_on=["id"])
            .link_to("orders", by={"order_id": "id"})
        )

    merged = {k: [x for r in recs for x in r[k]] for k in ("orders", "items")}
    batch = (
        etl(merged, spark=spark)
        .goto("orders").each()
        .map_to("orders", fields=[Field("id", get("id")), Field("c", get("c"))],
                join_on=["c"])
        .goto_root(0).goto("items").each()
        .map_to("items", fields=[Field("id", get("id")),
                                 Field("order_id", get("order_id"))],
                join_on=["id"])
        .link_to("orders", by={"order_id": "id"})
        .run()
    )
    res = pipe(PreSegmentedChunkSource([recs])).run()
    assert res["items"].count() == batch["items"].count() == 2
    assert sorted(r["c"] for r in res["orders"].collect()) == ["x", "y"]

    bad = [
        {"orders": [{"id": 7, "c": "x"}, {"id": "s", "c": "y"}],
         "items": [{"id": 10, "order_id": 7.0}, {"id": 20, "order_id": "7"}]},
    ]
    with pytest.raises(RelationshipIncompleteError, match=r"items\.order_id -> orders\.id"):
        pipe(OneRecordPerChunkSource(bad)).run()


def _doc_pipeline(p, doc):
    from etielle_spark import index, key

    p = p.map_to("root", fields=[Field(f"f_{k}", get(k)) for k in doc])
    p = p.goto_root(0).each().map_to("entries", fields=[Field("k", key()), Field("i", index())])
    if "posts" in doc:
        p = (
            p.goto_root(0).goto("posts").each()
            .map_to("posts", fields=[Field("pid", get("pid")), Field("tags", get("tags"))],
                    join_on=["pid"])
        )
    return p


@pytest.mark.parametrize("seed", [6, 19])
def test_one_document_chunk_equals_batch(spark, seed):
    """A one-document sequential chunk under the append strategy gives
    the same tables as ``etl(doc).run()``: both read the document through
    the same reader and compile the same plan."""
    import random

    from test_json_ingest import CORPUS

    from etielle_spark.streaming import KeyCompleteFlushStrategy

    rng = random.Random(seed)
    for case in sorted(CORPUS):
        if not CORPUS[case]:
            continue
        doc = rng.choice(CORPUS[case])
        want = _doc_pipeline(etl(doc, spark=spark), doc).run()
        got = _doc_pipeline(
            stream(OneRecordPerChunkSource([doc]), spark=spark,
                   flush_strategy=KeyCompleteFlushStrategy()),
            doc,
        ).run()
        assert set(got.tables) == set(want._tables_dict), case
        for name, df in want._tables_dict.items():
            assert got[name].schema == df.schema, (case, name)
            assert sorted(map(repr, got[name].collect())) == sorted(
                map(repr, df.collect())
            ), (case, name)


def test_sequential_chunk_list_root_and_roword_key(spark):
    """A sequential chunk takes a list root and a dict root with a user
    key named ``__roword`` like ``etl()`` does; the later root's write
    wins the keyed merge."""
    from etielle_spark import key
    from etielle_spark.fluent import _plain_py

    roots = [
        [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}],
        {"__roword": {"id": 2, "v": "B"}, "x": {"id": 3, "v": "c"}},
    ]
    res = (
        stream(PreSegmentedChunkSource([roots]), spark=spark)
        .each()
        .map_to("t", fields=[Field("id", get("id")), Field("v", get("v")),
                             Field("k", key())], join_on=["id"])
        .run()
    )
    # the roots disagree on list vs dict, so the root reads as a variant
    got = {tuple(_plain_py(x) for x in r) for r in res["t"].select("id", "v", "k").collect()}
    assert got == {(1, "a", None), (2, "B", "__roword"), (3, "c", "x")}


def test_third_link_orphan_names_that_link(spark):
    recs = [
        {
            "p": [{"id": 1}],
            "c1": [{"id": 10, "pid": 1}],
            "c2": [{"id": 20, "pid": 1}],
            "c3": [{"id": 30, "pid": 99}, {"id": 31, "pid": 1}],
        }
    ]
    pipe = stream(OneRecordPerChunkSource(recs), spark=spark)
    pipe = pipe.goto("p").each().map_to("p", fields=[Field("id", get("id"))], join_on=["id"])
    for c in ("c1", "c2", "c3"):
        pipe = (
            pipe.goto_root(0).goto(c).each()
            .map_to(c, fields=[Field("id", get("id")), Field("pid", get("pid"))],
                    join_on=["id"])
            .link_to("p", by={"pid": "id"})
        )
    with pytest.raises(RelationshipIncompleteError) as err:
        pipe.run()
    msg = str(err.value)
    assert "c3.pid -> p.id" in msg and "99" in msg
    assert "c1." not in msg and "c2." not in msg


def test_upsert_by_temp_field_key(spark):
    """A single TempField key flushes by the injected ``id`` that carries
    its value; a key with no public column raises before any flush."""
    from etielle_spark.streaming import KeyCompleteFlushStrategy
    from etielle_spark.streaming.pipeline import FlushStrategy

    recs = [
        {"users": [{"uid": "u1", "v": 1}]},
        {"users": [{"uid": "u1", "v": 2}, {"uid": "u2", "v": 5}]},
    ]

    def pipe(strategy, fields):
        return (
            stream(OneRecordPerChunkSource(recs), spark=spark, flush_strategy=strategy)
            .goto("users").each()
            .map_to("users", fields=fields, join_on=["uid"])
        )

    fields = [TempField("uid", get("uid")), Field("v", get("v"))]
    res = pipe(UpsertFlushStrategy("update"), fields).run()
    assert sorted(tuple(r) for r in res["users"].select("id", "v").collect()) == [
        ("u1", 2),
        ("u2", 5),
    ]

    class Spy(FlushStrategy):
        calls = 0

        def flush(self, store, name, df, keys):
            Spy.calls += 1

    shadowed = fields + [Field("id", get("v"))]
    with pytest.raises(ValueError, match=r"table 'users': key 'uid'"):
        pipe(Spy(), shadowed).run()
    assert Spy.calls == 0
    # plain append never reads the keys, so it needs no public key column
    assert pipe(KeyCompleteFlushStrategy(), shadowed).run()["users"].count() == 3


def test_empty_sequential_chunk(spark):
    """A sequential chunk with no roots reads as zero documents and flushes
    nothing, before or after a chunk with rows."""
    doc = {"users": [{"id": 1, "v": 2}]}
    for chunks in ([[]], [[], [doc]], [[doc], []]):
        res = (
            stream(PreSegmentedChunkSource(chunks), spark=spark,
                   flush_strategy=UpsertFlushStrategy("update"))
            .goto("users").each()
            .map_to("users", fields=[Field("id", get("id")), Field("v", get("v"))],
                    join_on=["id"])
            .run()
        )
        want = [] if chunks == [[]] else [(1, 2)]
        assert sorted(map(tuple, res["users"].collect())) == want, chunks


def _users_stream(spark, recs, strategy):
    """The final ``users(id, v)`` table of a one-record-per-chunk stream."""
    return (
        stream(OneRecordPerChunkSource(recs), spark=spark, flush_strategy=strategy)
        .goto("users")
        .each()
        .map_to(
            "users",
            fields=[Field("id", get("id")), Field("v", get("v"))],
            join_on=["id"],
        )
        .run()["users"]
    )


@pytest.mark.parametrize(
    "strategy,want",
    [
        (UpsertFlushStrategy("update"), [(1, "c"), ("b", "b")]),
        (UpsertFlushStrategy("skip"), [(1, "a"), ("b", "b")]),
        (None, [(1, "a"), (1, "c"), ("b", "b")]),
    ],
    ids=["update", "skip", "append"],
)
def test_key_type_differs_between_chunks(spark, strategy, want):
    """A key read as VARIANT in one chunk (its documents mix strings and
    numbers) and as BIGINT in the next resolves on one key: the store
    casts the BIGINT part to VARIANT and groups on ``_key_canon``."""
    recs = [
        {"users": [{"id": 1, "v": "a"}, {"id": "b", "v": "b"}]},
        {"users": [{"id": 1, "v": "c"}]},
    ]
    rows = [
        (r["id"].toPython(), r["v"])
        for r in _users_stream(spark, recs, strategy).collect()
    ]
    assert sorted(rows, key=repr) == sorted(want, key=repr)



@pytest.mark.parametrize(
    "ids,want",
    [(["1", 1], [("1", "a"), (1, "c")]), ([7, 7.0], [(7, "c")])],
    ids=["string_then_number", "int_then_float"],
)
def test_key_kind_differs_between_chunks(spark, ids, want):
    """A key read as STRING in one chunk and as BIGINT in the next stays
    two keys, as in a batch run ("1" != 1): the store casts both parts
    to VARIANT.  BIGINT beside DOUBLE is one kind, a plain union, so 7
    and 7.0 stay one key."""
    from etielle_spark.fluent import _plain_py

    recs = [{"users": [{"id": ids[0], "v": "a"}]}, {"users": [{"id": ids[1], "v": "c"}]}]
    users = _users_stream(spark, recs, UpsertFlushStrategy("update"))
    rows = [(_plain_py(r["id"]), r["v"]) for r in users.collect()]
    assert sorted(rows, key=repr) == sorted(want, key=repr)

def test_buffered_key_strategy_reused_across_runs(spark):
    """The LRU belongs to the run's store: a second run of the same
    strategy instance starts cold instead of treating the first run's
    keys as cached rows it does not have."""
    from etielle_spark.streaming import BufferedKeyFlushStrategy

    recs = [{"users": [{"id": "u1", "v": 1}]}, {"users": [{"id": "u2", "v": 2}]}]
    strategy = BufferedKeyFlushStrategy()
    for _ in range(2):
        rows = sorted(tuple(r) for r in _users_stream(spark, recs, strategy).collect())
        assert rows == [("u1", 1), ("u2", 2)]


def test_buffered_key_merges_only_the_cached_generation(spark):
    """max_keys=1: u2 evicts u1, so u1=3 starts a new row; u1=4 merges
    onto that row only, and the first u1 row keeps its value."""
    from etielle_spark.streaming import BufferedKeyFlushStrategy

    writes = [("u1", 1), ("u2", 2), ("u1", 3), ("u1", 4)]
    recs = [{"users": [{"id": k, "v": v}]} for k, v in writes]
    users = _users_stream(spark, recs, BufferedKeyFlushStrategy(max_keys=1))
    assert sorted(tuple(r) for r in users.collect()) == [
        ("u1", 1),
        ("u1", 4),
        ("u2", 2),
    ]


def _plan_depth(df) -> int:
    def depth(node):
        it = node.children().iterator()
        d = 0
        while it.hasNext():
            d = max(d, depth(it.next()))
        return d + 1

    return depth(df._jdf.queryExecution().optimizedPlan())


def test_upsert_state_plan_depth_is_constant(spark):
    """An upsert stream's final table is one aggregate over a union of
    the chunk frames: its optimized plan is as deep after 12 chunks as
    after 4, and has no anti join."""

    def final(n):
        recs = [{"users": [{"id": f"u{i % 3}", "v": i}]} for i in range(n)]
        return _users_stream(spark, recs, UpsertFlushStrategy("update"))

    four, twelve = final(4), final(12)
    assert _plan_depth(four) == _plan_depth(twelve)
    plan = twelve._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" not in plan
    rows = sorted(tuple(r) for r in twelve.collect())
    assert rows == [("u0", 9), ("u1", 10), ("u2", 11)]
