"""F3 — merge policies as aggregates (FIXTURES.md; reference
etielle/instances.py:36-85, applied incrementally from old=None), and the
stream flush strategies checked against the pure-Python fold."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

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


def test_policy_merge_matches_reference_fold(spark):
    """A single-emission keyed merge with every policy equals the
    pure-Python reference fold — LWW including explicit-None overwrite,
    Add/Min/Max/Append/FirstNonNull, a TempField that supplies nothing,
    id injection."""
    from merge_reference import reference_merge

    from etielle_spark import Field, TempField, etl, get
    from etielle_spark.policies import (
        AddPolicy,
        AppendPolicy,
        FirstNonNullPolicy,
        MaxPolicy,
        MinPolicy,
    )

    docs = [
        {"k": 1, "a": 5, "b": "x", "c": 2, "d": None},
        {"k": 1, "a": None, "b": "y", "c": 7, "d": 9},
        {"k": 2, "a": 3, "b": None, "c": 1, "d": 4},
        {"k": 1, "a": 8, "b": "z", "c": 0, "d": None},
    ]
    policies = {
        "a": AddPolicy(),
        "cmin": MinPolicy(),
        "cmax": MaxPolicy(),
        "clist": AppendPolicy(),
        "dfirst": FirstNonNullPolicy(),
    }
    res = (
        etl({"docs": docs}, spark=spark)
        .goto("docs").each()
        .map_to("t", fields=[
            Field("k", get("k")),
            Field("a", get("a"), merge=policies["a"]),
            Field("b", get("b")),                      # LWW w/ None overwrite
            Field("cmin", get("c"), merge=policies["cmin"]),
            Field("cmax", get("c"), merge=policies["cmax"]),
            Field("clist", get("c"), merge=policies["clist"]),
            Field("dfirst", get("d"), merge=policies["dfirst"]),
            TempField("tmp", get("a")),
        ], join_on=["k"])
        .run()
    )
    want = reference_merge(
        [
            ((d["k"],), {
                "k": d["k"], "a": d["a"], "b": d["b"], "cmin": d["c"],
                "cmax": d["c"], "clist": d["c"], "dfirst": d["d"],
            })
            for d in docs
        ],
        policies,
    )
    got = {(r["k"],): r for r in res.rows("t")}
    assert got.keys() == want.keys() == {(1,), (2,)}
    for key, row in got.items():
        assert row == {"id": key[0], **want[key]}
    assert want[(1,)]["b"] == "z" and want[(2,)]["b"] is None
    assert want[(1,)]["a"] == 13 and want[(1,)]["clist"] == [2, 7, 0]


def test_merge_seeded_matches_reference_fold(spark):
    """Seeded random keyed pipelines — one to three emissions into one
    table, random policies, a list field (LWW by the whole-row struct
    form), TempField declarations that supply nothing,
    a field only some emissions declare, None/"" keys — equal the
    pure-Python reference fold in arrival order.  A dict root is one
    document, so its arrival order is emission by emission, list items
    in order; a DataFrame root is one document per row, so it is row by
    row, emissions in order within a row."""
    import random

    from merge_reference import reference_merge

    from etielle_spark import Field, TempField, etl, get
    from etielle_spark.policies import (
        AddPolicy,
        AppendPolicy,
        ExtendPolicy,
        FirstNonNullPolicy,
        MaxPolicy,
        MinPolicy,
    )

    pol_mk = [
        lambda: None,
        AddPolicy,
        AppendPolicy,
        ExtendPolicy,
        MinPolicy,
        MaxPolicy,
        FirstNonNullPolicy,
    ]
    norm = lambda v: tuple(v) if isinstance(v, list) else v
    for seed in range(12):
        rng = random.Random(1000 + seed)
        docs = [
            {
                "k": rng.choice([None, "", "k1", "k2", "k3"]),
                "a": rng.choice([None, rng.randint(0, 9)]),
                "a2": rng.choice([None, rng.randint(0, 9)]),
                "b": rng.choice([None, "", "x", "y"]),
                "b2": rng.choice([None, "z", "x"]),
                "c": rng.choice([None, rng.randint(0, 9)]),
                "l": rng.choice([None, [], [1], [2, 3]]),
            }
            for _ in range(rng.randint(4, 24))
        ]
        # one policy per field, the same in every declaration (absent =
        # LWW); Add needs a number, so the string field "b" never takes it
        policies = {}
        for n in ("a", "b", "c"):
            pol = rng.choice(pol_mk)()
            if pol is not None and not (n == "b" and isinstance(pol, AddPolicy)):
                policies[n] = pol
        # a list field: LWW keeps it in the whole-row max_by(struct)
        pol = rng.choice([None, None, AppendPolicy, ExtendPolicy])
        if pol is not None:
            policies["l"] = pol()
        n_em = 1 + seed % 3
        df_root = (seed // 3) % 2 == 1
        # per emission: (field, source key, temp?) — "c" only in some
        emissions = []
        for _ in range(n_em):
            decl = [("k", "k", False)]
            for n, alts in (("a", ["a", "a2"]), ("b", ["b", "b2"]), ("l", ["l"])):
                decl.append((n, rng.choice(alts), n_em > 1 and rng.random() < 0.3))
            if n_em == 1 or rng.random() < 0.5:
                decl.append(("c", "c", n_em > 1 and rng.random() < 0.3))
            emissions.append(decl)

        if df_root:
            root = spark.createDataFrame(
                [dict(d, seq=i) for i, d in enumerate(docs)],
                "k string, a long, a2 long, b string, b2 string, c long, "
                "l array<bigint>, seq long",
            )
            b = etl(root, spark=spark, order_col="seq")
        else:
            b = etl({"docs": docs}, spark=spark)
        for decl in emissions:
            b = b.goto_root()
            if not df_root:
                b = b.goto("docs").each()
            b = b.map_to(
                "t",
                fields=[
                    (TempField if temp else Field)(
                        n, get(src), merge=policies.get(n)
                    )
                    for n, src, temp in decl
                ],
                join_on=["k"],
            )
        res = b.run()

        public = sorted(
            {n for decl in emissions for n, _, temp in decl if not temp} - {"k"}
        )
        internal = {
            n
            for decl in emissions
            for n, _, _ in decl
            if all(t for d in emissions for m, _, t in d if m == n)
        }
        want = reference_merge(
            [
                (
                    (d["k"],),
                    {n: d[src] for n, src, temp in decl if not temp or n in internal},
                )
                for decl, d in (
                    [(e, d) for d in docs for e in emissions]
                    if df_root
                    else [(e, d) for e in emissions for d in docs]
                )
            ],
            policies,
        )
        want = {
            k: tuple(norm(row.get(n)) for n in public) for k, row in want.items()
        }
        rows = res.rows("t")
        assert all(r["id"] == r["k"] for r in rows)
        got = {(r["k"],): tuple(norm(r[n]) for n in public) for r in rows}
        assert got == want, f"seed {seed} ({emissions}, {policies})"


def test_skip_path_seeded_self_differential(spark):
    """Seeded random grouped DataFrame roots produce the same table
    through the distinct-key skip (Catalyst proves one row per key) as
    the same rows through the real merge (a local frame the proof can't
    see), and both equal the reference fold of the rows."""
    import random

    from merge_reference import reference_merge

    from etielle_spark import Field, etl, get

    for seed in range(5):
        rng = random.Random(2000 + seed)
        rows = [
            (rng.randint(1, 5), rng.randint(0, 99))
            for _ in range(rng.randint(3, 40))
        ]
        src = spark.createDataFrame(rows, "k long, v long")
        grouped = src.groupBy("k").agg(
            F.sum("v").alias("s"), F.max("v").alias("m")
        )
        unproven = spark.createDataFrame(grouped.collect(), grouped.schema)

        def run(root):
            res = (
                etl(root, spark=spark)
                .map_to(
                    "t",
                    fields=[
                        Field("k", get("k")),
                        Field("s", get("s")),
                        Field("m", get("m")),
                    ],
                    join_on=["k"],
                )
                .run()
            )
            return sorted((r["k"], r["s"], r["m"]) for r in res.rows("t"))

        sums, maxes = {}, {}
        for k, v in rows:
            sums[k] = sums.get(k, 0) + v
            maxes[k] = max(maxes.get(k, v), v)
        want = reference_merge(
            [((k,), {"k": k, "s": sums[k], "m": maxes[k]}) for k in sums], {}
        )
        want = sorted((r["k"], r["s"], r["m"]) for r in want.values())
        assert run(grouped) == run(unproven) == want, f"seed {seed}"


def test_distinct_key_skip_differential(spark):
    """When the emission root is a groupBy on exactly the join keys,
    Catalyst proves <=1 row per key and the keyed-merge aggregation is
    skipped (fluent._keys_provably_distinct).  The skip must be
    invisible: the same rows as a local frame of the same data (which
    the proof can't see, so the real merge runs) and as the reference
    fold, and the skipped plan must actually drop the merge aggregate."""
    from merge_reference import reference_merge

    from etielle_spark import Field, etl, get

    data = [(1, 10), (1, 20), (2, 5), (3, 7), (3, 1)]
    src = spark.createDataFrame(data, "k long, v long")
    grouped = src.groupBy("k").agg(
        F.sum("v").alias("total"), F.collect_list("v").alias("vs")
    )
    unproven = spark.createDataFrame(grouped.collect(), grouped.schema)

    def run(root):
        res = (
            etl(root, spark=spark)
            .map_to(
                "t",
                fields=[
                    Field("k", get("k")),
                    Field("total", get("total")),
                    Field("n", get("vs")),
                ],
                join_on=["k"],
            )
            .run()
        )
        rows = sorted(
            (r["k"], r["total"], tuple(sorted(r["n"]))) for r in res.rows("t")
        )
        return res["t"]._jdf.queryExecution().executedPlan().toString(), rows

    plan_on, rows_on = run(grouped)
    assert "max_by" not in plan_on
    plan_off, rows_off = run(unproven)
    assert "max_by" in plan_off
    vs: dict = {}
    for k, v in data:
        vs.setdefault(k, []).append(v)
    want = reference_merge(
        [((k,), {"k": k, "total": sum(x), "n": x}) for k, x in vs.items()], {}
    )
    want = sorted(
        (r["k"], r["total"], tuple(sorted(r["n"]))) for r in want.values()
    )
    assert rows_on == rows_off == want
    assert [r[0] for r in rows_on] == [1, 2, 3]


def test_distinct_key_skip_not_claimed_on_raw_frames(spark):
    """A raw frame with duplicate keys must still run the real LWW
    merge with the skip flag on — the proof can't fire, and last-write
    -wins semantics stay intact."""
    from etielle_spark import Field, etl, get

    src = spark.createDataFrame(
        [(1, "first"), (1, "second"), (2, "only")], "k long, v string"
    )
    res = (
        etl(src, spark=spark)
        .map_to(
            "t",
            fields=[Field("k", get("k")), Field("v", get("v"))],
            join_on=["k"],
        )
        .run()
    )
    rows = {r["k"]: r["v"] for r in res.rows("t")}
    assert rows == {1: "second", 2: "only"}


def test_distinct_key_skip_keeps_null_key_filter(spark):
    """The skip path still drops NULL/empty join keys (the reference's
    executor.py:189-191 contract) even though the groupBy it replaced
    was also doing the filtering's plumbing."""
    from etielle_spark import Field, etl, get

    src = spark.createDataFrame(
        [(1, 10), (None, 99), (2, 5)], "k long, v long"
    )
    grouped = src.groupBy("k").agg(F.sum("v").alias("total"))
    res = (
        etl(grouped, spark=spark)
        .map_to(
            "t",
            fields=[Field("k", get("k")), Field("total", get("total"))],
            join_on=["k"],
        )
        .run()
    )
    rows = sorted((r["k"], r["total"]) for r in res.rows("t"))
    assert rows == [(1, 10), (2, 5)]


@pytest.mark.parametrize(
    "strategy,max_keys,seed,n_chunks",
    [
        ("update", None, 0, 40),
        ("skip", None, 1, 33),
        ("append", None, 2, 17),
        ("update", None, 3, 1),
        ("buffered", 2, 4, 40),
        ("buffered", 4, 5, 12),
    ],
)
def test_stream_flush_seeded_matches_reference_flush(
    spark, strategy, max_keys, seed, n_chunks
):
    """Seeded random chunk sequences — keys re-sent within a chunk and
    across chunks, None values, None keys — through each flush strategy
    equal the pure-Python replay as exact multisets.  Runs past 16 and
    31 chunks cross the store's checkpoints of a table's parts."""
    from merge_reference import reference_flush

    from etielle_spark.fluent import _plain_py
    from etielle_spark.streaming import (
        BufferedKeyFlushStrategy,
        KeyCompleteFlushStrategy,
        OneRecordPerChunkSource,
        UpsertFlushStrategy,
        stream,
    )

    rng = random.Random(3000 + seed)
    pool = [None, "k1", "k2", "k3", "k4", "k5", "k6"]
    if strategy != "buffered":
        # 1 and 1.0 are one key and "1" is another (Python dict keys),
        # whichever types the chunks read them as; the LRU knows a key
        # by its JSON form, where 1 and 1.0 differ
        pool += [1, "1", 1.0]
    chunks = [
        [
            {
                "k": rng.choice(pool),
                "a": rng.choice([None, rng.randint(0, 99)]),
                "b": rng.choice([None, "x", "y", "z"]),
            }
            for _ in range(rng.randint(1, 4))
        ]
        for _ in range(n_chunks)
    ]
    flush = {
        "update": lambda: UpsertFlushStrategy("update"),
        "skip": lambda: UpsertFlushStrategy("skip"),
        "append": KeyCompleteFlushStrategy,
        "buffered": lambda: BufferedKeyFlushStrategy(max_keys=max_keys),
    }[strategy]()
    res = (
        stream(
            OneRecordPerChunkSource([{"t": c} for c in chunks]),
            spark=spark,
            flush_strategy=flush,
        )
        .goto("t")
        .each()
        .map_to(
            "t",
            fields=[Field("k", get("k")), Field("a", get("a")), Field("b", get("b"))],
            join_on=["k"],
        )
        .run()
    )
    assert res.n_chunks == n_chunks
    want = reference_flush(
        [[((d["k"],), d) for d in c] for c in chunks], strategy, max_keys
    )
    got = Counter(
        (_plain_py(r["k"]), r["a"], r["b"]) for r in res["t"].collect()
    )
    assert got == Counter((r["k"], r["a"], r["b"]) for r in want)
