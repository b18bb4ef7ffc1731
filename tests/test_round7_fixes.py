"""Round-7 fixes: restart-safe drift-monitor tokens, cached bloom-sync
manifests, and related regressions."""

import pytest
from pyspark.sql import functions as F


def _vocab_monitor(spark, tmp_path, name, **kw):
    from etielle_spark.streaming.incremental_drift import IncrementalVocabDrift

    return IncrementalVocabDrift(
        spark, str(tmp_path / name), text_col="text", group_col="lang",
        n_buckets=32, **kw,
    )


def test_attach_without_stable_token_raises(spark, tmp_path):
    """attach() must refuse the per-instance uuid default: a restarted
    checkpointed query would replay its last uncommitted batch under a
    NEW token and double-count it."""
    from etielle_spark.streaming.incremental_drift import (
        IncrementalBinnedKS,
        IncrementalPSI,
        IncrementalVocabDrift,
    )

    mons = [
        IncrementalVocabDrift(spark, str(tmp_path / "vd")),
        IncrementalPSI(
            spark, str(tmp_path / "psi"), value_col="v", group_col="g",
            ref_group="a",
        ),
        IncrementalBinnedKS(
            spark, str(tmp_path / "ks"), value_col="v", group_col="g",
            edge_group="a",
        ),
    ]
    for mon in mons:
        with pytest.raises(ValueError, match="restart-safe"):
            mon.attach()
        # both escape hatches work
        assert callable(mon.attach(checkpoint_location=str(tmp_path / "ck")))
    safe = _vocab_monitor(spark, tmp_path, "vd2", run_id="r1")
    assert callable(safe.attach())


def test_drift_monitor_crash_replay_single_count(spark, tmp_path):
    """The double-count scenario the round-6 default allowed: process a
    batch, 'crash' (new monitor instance, same state dir), replay the
    same batch_id through the new instance's attach() with the SAME
    checkpoint location — merged counts must equal a single pass."""
    from etielle_spark.streaming.incremental_drift import IncrementalVocabDrift

    df = spark.createDataFrame(
        [(f"alpha beta w{i}", "g0") for i in range(20)]
        + [(f"gamma delta w{i}", "g1") for i in range(20)],
        "text string, lang string",
    )
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")

    m1 = IncrementalVocabDrift(
        spark, state, text_col="text", group_col="lang", n_buckets=32
    )
    m1.attach(checkpoint_location=ckpt)(df, 0)
    single = sorted(map(tuple, m1.counts().collect()))

    # driver restart: a brand-new instance (fresh uuid default inside),
    # same state dir + checkpoint; Spark replays uncommitted batch 0
    m2 = IncrementalVocabDrift(
        spark, state, text_col="text", group_col="lang", n_buckets=32
    )
    m2.attach(checkpoint_location=ckpt)(df, 0)
    merged = sorted(map(tuple, m2.counts().collect()))
    assert merged == single  # overwrite, not a second copy

    # and the next batch still appends normally
    m2.attach(checkpoint_location=ckpt)(df, 1)
    doubled = {(r["group"], r["bucket"]): r["cnt"] for r in m2.counts().collect()}
    base = {(g, b): c for g, b, c in single}
    assert doubled == {k: 2 * v for k, v in base.items()}


def test_drift_monitor_explicit_run_id_crash_replay(spark, tmp_path):
    """Same crash-replay contract via an explicit run_id (the documented
    alternative to checkpoint_location), for the PSI monitor."""
    from etielle_spark.operators.profile import psi_drift
    from etielle_spark.streaming.incremental_drift import IncrementalPSI

    df = spark.createDataFrame(
        [(float(i % 17), "ref") for i in range(60)]
        + [(float(i % 11) + 2.0, "cand") for i in range(60)],
        "v double, g string",
    )

    def mk():
        return IncrementalPSI(
            spark, str(tmp_path / "psi_state"), value_col="v", group_col="g",
            ref_group="ref", bins=5, run_id="ckpt-tied",
        )

    mk().attach()(df, 0)
    mk().attach()(df, 0)  # replayed after a crash — must overwrite
    got = sorted(map(tuple, mk().psi().collect()))
    want = sorted(
        map(tuple, psi_drift(df, "v", "g", ref_group="ref", bins=5).collect())
    )
    assert got == want


def test_incremental_exact_dedup_cached_manifests(spark, tmp_path):
    """Steady-state batches reuse the in-memory manifest + merged-words
    caches; exactness must hold through one instance's lifetime AND for
    a cold instance reading the same on-disk state."""
    from etielle_spark.streaming.incremental_dedup import IncrementalExactDedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).filter("doc_id < 90")
    b1 = docs.filter("doc_id % 3 = 0")
    # deterministic overlap subsets (limit() on an unordered frame can
    # pick different rows across jobs)
    b2 = docs.filter("doc_id % 3 = 1").union(b1.filter("doc_id < 30"))
    b3 = b2.filter("doc_id < 15").union(docs.filter("doc_id % 3 = 2"))

    inc = IncrementalExactDedup(
        spark, str(tmp_path / "idx"), bloom_bits=1 << 16, bloom_hashes=4
    )
    got = []
    for b in (b1, b2, b3):
        out = inc.process_batch(b)
        got.append({r["doc_id"] for r in out.collect()})
        out.unpersist()
    # batch caches were exercised: after batch 1 the manifests live on
    # the instance
    assert inc._meta_cache is not None and inc._covered_cache

    seen = set()
    for b, g in zip((b1, b2, b3), got):
        # first occurrence per digest, against history and within batch
        want_ids = set()
        batch_seen = set(seen)
        for r in sorted(b.select("doc_id", "text").collect(), key=lambda r: r["doc_id"]):
            if r["text"] not in batch_seen:
                batch_seen.add(r["text"])
                want_ids.add(r["doc_id"])
        assert g == want_ids
        seen = batch_seen

    # cold instance, same dirs: caches empty, disk state must be complete
    cold = IncrementalExactDedup(
        spark, str(tmp_path / "idx"), bloom_bits=1 << 16, bloom_hashes=4
    )
    out = cold.process_batch(b3)  # all b3 docs are history now
    assert out.count() == 0
    out.unpersist()


def test_index_read_errors_surface(spark, tmp_path):
    """A non-path-missing error while listing the index must RAISE, not
    read as 'no history' (which would emit seen digests as new)."""
    from etielle_spark.streaming.incremental_dedup import IncrementalExactDedup

    bad = tmp_path / "idx"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("this is not parquet")
    inc = IncrementalExactDedup(spark, str(bad))
    with pytest.raises(Exception) as ei:
        inc._index_files()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_supabase_sink_single_materialization(spark):
    """SupabaseSink.write persists the frame so batch_total and the row
    stream come from ONE plan execution."""
    from etielle_spark.sources.supabase import SupabaseSink, fake_client

    client = fake_client()
    seen = []
    sink = SupabaseSink(
        client, batch_size=2,
        on_batch=lambda t, b, total, n: seen.append((t, b, total, n)),
    )
    df = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "id long, v string")
    sink.write("t", df)
    assert [s[1] for s in seen] == [1, 2, 3]
    assert all(s[2] == 3 for s in seen)  # total_batches consistent
    assert len(client.rows["t"]) == 5


def test_checkpoint_token_canonicalization():
    """Spellings of the same checkpoint location must yield ONE token,
    or a restart script that spells the path differently re-enables the
    double-count."""
    from etielle_spark.streaming.incremental_drift import _checkpoint_token

    t = _checkpoint_token("/data/ckpt")
    assert t == _checkpoint_token("file:///data/ckpt")
    assert t == _checkpoint_token("file:/data/ckpt")
    assert t == _checkpoint_token("/data/ckpt/")
    assert t == _checkpoint_token("/data//ckpt")
    assert t != _checkpoint_token("/data/other")
    assert _checkpoint_token("hdfs://nn:8020/c") != _checkpoint_token(
        "hdfs://nn2:8020/c"
    )


def test_digest_window_lint_counts_per_spec(spark):
    """A guarded rank window must not exempt an UNGUARDED count window
    that shares its partition spec."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from plan_lint import _digest_windows
    from pyspark.sql import Window

    df = spark.range(100).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("g")
    )
    w = Window.partitionBy("g")
    both = (
        df.withColumn("rk", F.row_number().over(w.orderBy("id")))
        .filter(F.col("rk") == 1)                       # guarded (WGL Partial)
        .withColumn("n", F.count(F.lit(1)).over(w))     # unguarded count
    )
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and ", Partial" in plan  # guard present
    assert _digest_windows(plan) >= 1  # ...but the count window still flags


def test_streaming_dedup_attach_releases_caches(spark, tmp_path):
    """attach() must release the exact persisted frames, one per batch
    (the returned drop() projection is a DIFFERENT plan — unpersisting
    it frees nothing)."""
    from pyspark import StorageLevel

    from etielle_spark.streaming.incremental_dedup import (
        IncrementalExactDedup,
        IncrementalLSHDedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).filter("doc_id < 60")

    exact = IncrementalExactDedup(spark, str(tmp_path / "idx"))
    seen = []
    fn = exact.attach(lambda d, b: seen.append(d.count()))
    fn(docs.filter("doc_id < 30"), 0)
    fn(docs.filter("doc_id >= 30"), 1)
    assert seen and exact._batch_cache is None  # released after each sink

    lsh = IncrementalLSHDedup(spark, str(tmp_path / "lsh"), num_hashes=8, bands=4)
    got = []

    captured = []

    def sink(d, b):
        captured.append(d)
        got.append(d.count())

    lfn = lsh.attach(sink)
    lfn(docs, 0)
    assert captured[0].storageLevel == StorageLevel.NONE  # out IS the cache


def test_supabase_sink_keeps_caller_cache(spark):
    """write() must not evict a cache the caller owns."""
    from pyspark import StorageLevel

    from etielle_spark.sources.supabase import SupabaseSink, fake_client

    df = spark.createDataFrame([(i,) for i in range(4)], "id long").persist()
    df.count()
    sink = SupabaseSink(fake_client(), batch_size=2)
    sink.write("t", df)
    assert df.storageLevel != StorageLevel.NONE  # caller's cache intact
    df.unpersist()


def test_incremental_exact_dedup_close_releases_all(spark, tmp_path):
    """close() frees the survivor cache AND the bloom words cache; the
    monitor keeps working afterwards from on-disk state."""
    from etielle_spark.streaming.incremental_dedup import IncrementalExactDedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).filter("doc_id < 60")
    inc = IncrementalExactDedup(
        spark, str(tmp_path / "idx"), bloom_bits=1 << 16, bloom_hashes=4
    )
    out = inc.process_batch(docs.filter("doc_id < 30"))
    out.count()
    inc.process_batch(docs.filter("doc_id >= 30")).count()
    assert inc._words_cache is not None  # bloom path exercised
    inc.close()
    assert inc._batch_cache is None and inc._words_cache is None
    # still functional: everything is duplicate now
    again = inc.process_batch(docs)
    assert again.count() == 0
    inc.close()


def test_round7_null_and_edge_input_audit(spark, tmp_path):
    """NULL/degenerate-input audit for the round-7 surfaces (the r5/r6
    audit pattern): no worker crashes, sane results."""
    from etielle_spark.operators.dedup import (
        gram_duplication_stats,
        lsh_candidate_pairs,
    )

    # gram join-back path: NULL text, empty text, whitespace-only,
    # NULL id — with and without the max_df stop-list
    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "a b c d e f g h shared tail"),
            (5, "a b c d e f g h other tail"),
            (None, "z y x w v u t s null id"),
        ],
        "id long, text string",
    )
    for kw in ({}, {"max_df": 2}):
        out = {
            r["id"]: r
            for r in gram_duplication_stats(
                docs, "id", "text", n=8, drop_threshold=0.5, **kw
            ).collect()
        }
        # degenerate docs: zero grams, NULL frac, kept
        for d in (1, 2, 3):
            assert out[d]["n_grams"] == 0 and out[d]["shared_frac"] is None
            assert not out[d]["drop"]
        # docs 4/5 share the leading 8-gram
        assert out[4]["n_shared_grams"] >= 1 and out[5]["n_shared_grams"] >= 1
        assert None in out  # NULL id flows through, never crashes

    # LSH stop-list path: degenerate corpus (all empty/NULL) -> no pairs
    empty = spark.createDataFrame(
        [(1, None), (2, ""), (3, "")], "doc_id long, text string"
    )
    assert (
        lsh_candidate_pairs(
            empty, "doc_id", "text", num_hashes=8, bands=4, max_bucket_size=2
        ).count()
        >= 0
    )  # executes without crashing (empty texts may bucket together)

    # populate_child_fk: NULL child keys never match, required=True
    # ignores them (only non-NULL misses raise)
    from etielle_spark.sources.twophase import populate_child_fk

    parents = spark.createDataFrame([("k1", 10)], "nk string, gen_id long")
    children = spark.createDataFrame(
        [("k1", "a"), (None, "b")], "ck string, v string"
    )
    got = {
        r["v"]: r["fk"]
        for r in populate_child_fk(
            children, parents, by={"ck": "nk"}, fk_col="fk", required=True
        ).collect()
    }
    assert got == {"a": 10, "b": None}
