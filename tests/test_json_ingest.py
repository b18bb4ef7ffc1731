"""In-memory JSON ingest (``fluent.read_json_payloads``): dict roots,
stream chunks and the two-phase insert's echoed rows are parsed on the JVM.

The differential tests hold the helper to ``spark.read.json`` over a
Python-parallelized RDD, the older ingest path, kept here only as an
independent reference.  The lineage guards pin that no ingest scan runs
through a Python worker."""

import json
import math
import random
import re
from pathlib import Path

import pytest

from etielle_spark.fluent import (
    _null_only_paths,
    _prepare_obj,
    _read_docs,
    _read_prepared_json,
    _variant_paths,
    _voidify,
    read_json_payloads,
)


def _reference_read(spark, payloads, void_paths=frozenset()):
    rdd = spark.sparkContext.parallelize(payloads, 1)
    df = spark.read.json(rdd)
    if void_paths:
        fixed = _voidify(df.schema, (), void_paths)
        if fixed != df.schema:
            df = spark.read.schema(fixed).json(rdd)
    return df


def _rows(df):
    # repr, not the Row: NaN != NaN, and None does not order against values
    return sorted(repr(r) for r in df.collect())


def _user(rng, i):
    return {
        "id": i,
        "name": rng.choice(["ana", "zoë", "日本語", "emoji 😀", "a\nb\tc \"q\""]),
        "score": rng.choice([1, 2.5, -3, 7.25]),
        "posts": [
            {"pid": i * 10 + j, "tags": rng.sample(["x", "y", "z"], rng.randint(0, 3))}
            for j in range(rng.randint(0, 3))
        ],
        "meta": rng.choice([{}, {"src": "web"}, {"src": None}]),
    }


def _corpus():
    rng = random.Random(20261018)
    return {
        "empty": [],
        "one": [{"a": 1}],
        "text": [
            {"s": "é ü ß 日本   😀 𝄞"},
            {"s": "line\nbreak\ttab \"quoted\" back\\slash \r\x00\x1f"},
        ],
        "non_finite": [{"f": math.nan}, {"f": math.inf}, {"f": -math.inf}, {"f": 1.5}],
        "big_int": [{"n": 2**63}, {"n": 2**64 + 7}, {"n": -(2**70)}],
        "int_float": [{"v": 1}, {"v": 2.5}, {"v": -4}],
        "null_only": [{"k": 1, "z": None, "s": {"a": None, "b": 2}}, {"k": 2, "z": None}],
        "markers_variants": [
            {"m": {}, "v": [1, 2], "w": {"x": 1}},
            {"m": {}, "v": {"a": 1}, "w": "str"},
            {"m": {}, "v": 3, "w": [{"deep": None}]},
        ],
        "chunk_250": [_user(rng, i) for i in range(250)],
    }


CORPUS = _corpus()


@pytest.mark.parametrize("case", sorted(CORPUS))
def test_prepared_read_matches_reference(spark, case):
    objs = CORPUS[case]
    vp = _variant_paths(objs)
    prepared = [_prepare_obj(o, vp) for o in objs]
    payloads = [json.dumps(p) for p in prepared]
    got = _read_prepared_json(spark, payloads, prepared)
    want = _reference_read(spark, payloads, _null_only_paths(prepared))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize("case", sorted(CORPUS))
def test_raw_read_matches_reference(spark, case):
    # unprepared payloads, raw (non-ASCII-escaped) text included
    payloads = [json.dumps(o, ensure_ascii=False) for o in CORPUS[case]]
    got = read_json_payloads(spark, payloads)
    want = _reference_read(spark, payloads)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_ingest_types_and_partitioning(spark):
    got = read_json_payloads(spark, [json.dumps(o) for o in CORPUS["big_int"]])
    assert got.schema["n"].dataType.typeName() == "decimal"
    chunk = read_json_payloads(spark, [json.dumps(o) for o in CORPUS["chunk_250"]])
    # one partition, like the parallelize(payloads, 1) it replaced
    assert chunk._jdf.queryExecution().toRdd().getNumPartitions() == 1
    assert chunk.count() == 250
    assert read_json_payloads(spark, []).schema.simpleString() == "struct<>"
    prepared = [_prepare_obj(o) for o in CORPUS["null_only"]]
    voided = _read_prepared_json(spark, [json.dumps(p) for p in prepared], prepared)
    assert voided.schema["z"].dataType.typeName() == "void"


def test_multiline_payload_raises(spark):
    with pytest.raises(ValueError, match="single-line"):
        read_json_payloads(spark, [json.dumps({"a": 1}, indent=2)])


def _no_python_rdd(df):
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_dict_root_tables_have_no_python_scan(spark):
    from etielle_spark import Field, etl, get, get_from_parent

    rng = random.Random(7)
    root = {"users": [_user(rng, i) for i in range(40)]}
    res = (
        etl(root, spark=spark)
        .goto("users").each()
        .map_to("users", fields=[Field("id", get("id")), Field("name", get("name"))],
                join_on=["id"])
        .goto("posts").each()
        .map_to("posts", fields=[Field("pid", get("pid")),
                                 Field("user_id", get_from_parent("id")),
                                 Field("tags", get("tags"))],
                join_on=["pid"])
        .link_to("users", by={"user_id": "id"})
        .run()
    )
    assert set(res._tables_dict) == {"users", "posts"}
    for df in res._tables_dict.values():
        _no_python_rdd(df)


def test_stream_chunk_frame_has_no_python_scan(spark):
    """A sequential chunk's roots read through the same reader as a dict
    root: one row per document, none through a Python worker."""
    from etielle_spark import Field, get
    from etielle_spark.streaming import PreSegmentedChunkSource, stream

    rng = random.Random(11)
    users = [_user(rng, i) for i in range(30)]
    frame, _ = _read_docs(spark, users)
    _no_python_rdd(frame)
    assert [r["__roword"] for r in frame.collect()] == list(range(30))
    pipe = (
        stream(PreSegmentedChunkSource([users[:15], users[15:]]), spark=spark)
        .map_to("users", fields=[Field("id", get("id")), Field("name", get("name"))],
                join_on=["id"])
    )
    res = pipe.run()
    assert res["users"].count() == 30
    for df in res.tables.values():
        _no_python_rdd(df)


def test_engine_has_no_python_parallelize():
    import etielle_spark

    root = Path(etielle_spark.__file__).parent
    hits = [
        f"{path.relative_to(root).as_posix()}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.parallelize\(", line)
    ]
    assert hits == []


def test_streaming_has_no_reader_of_its_own():
    """Stream chunks and eager roots read through the batch root reader
    (``fluent._read_docs``); no module under ``streaming/`` builds JSON
    payloads itself."""
    import etielle_spark.streaming

    root = Path(etielle_spark.streaming.__file__).parent
    hits = [
        f"{path.name}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"_read_prepared_json|read_json_payloads|_prepare_obj", line)
    ]
    assert hits == []


# -- moved from the round-7 and round-8 fix files: ingest-type pins --------


def test_multi_emission_merge_preserves_types(spark):
    """An emission whose column is None in EVERY document must not drag
    the merged column to string: spark.read.json infers all-null leaves
    as string, which unionByName would promote long+string to string —
    the round-7 fuzz shape-11 find.  Null-only leaves now read as VOID
    and unify to the other emission's real type."""
    from etielle_spark import Field, MinPolicy, etl, get

    data = {
        "xs": [{"k": "a", "v": 1}, {"k": "b", "v": 3}],
        "ys": [{"k": "a", "v": None}, {"k": "b", "v": None}],
    }
    res = (
        etl(data, spark=spark)
        .goto("xs").each()
        .map_to("m", fields=[Field("k", get("k")),
                             Field("mn", get("v"), merge=MinPolicy()),
                             Field("last", get("v"))], join_on=["k"])
        .goto_root()
        .goto("ys").each()
        .map_to("m", fields=[Field("k", get("k")),
                             Field("mn", get("v"), merge=MinPolicy()),
                             Field("last", get("v"))], join_on=["k"])
        .run()
    )
    df = res["m"]
    types = dict(df.dtypes)
    assert types["mn"] == "bigint" and types["last"] == "bigint", types
    rows = {r["k"]: (r["mn"], r["last"]) for r in df.collect()}
    # LWW: the ys None arrives later and overwrites (reference
    # explicit-None semantics); Min ignores the Nones
    assert rows == {"a": (1, None), "b": (3, None)}


def test_nested_variant_wrapper_in_void_struct_materializes(spark):
    """A kind-mixed SUBTREE (serialize-time variant wrapper) nested in a
    struct that also carries a void (all-None) field used to crash with
    INVALID_VARIANT_CAST: strip_marker_fields parsed the wrapper to a
    VARIANT value while _stripped_type still declared the wrapper
    struct, and _project_to's devoid cast materialized the mismatch.
    Found by fuzz shape 3 seed 77; pinned minimal here."""
    from etielle_spark import Field, etl, get, key

    blob = {
        "root": {
            "k0": [],  # array sibling: forces variant unification of entries
            "k1": {
                "b": {"c": -1, "a": None},  # void field -> devoid cast path
                "c": [7, "s"],  # kind-mixed list -> nested wrapper
            },
        }
    }
    res = (
        etl(blob, spark=spark)
        .goto("root")
        .each()
        .map_to(
            "t",
            fields=[
                Field("k", key()),
                Field("a", get("a")),
                Field("cb", get("b.c")),
                Field("c1", get("c.1")),
            ],
        )
        .run()
    )
    rows = {r["k"]: r for r in res.rows("t")}
    assert set(rows) == {"k0", "k1"}
    assert rows["k0"]["a"] is None and rows["k0"]["cb"] is None
    assert rows["k1"]["cb"] == -1
    assert rows["k1"]["c1"] == "s"  # navigates INTO the nested wrapper
