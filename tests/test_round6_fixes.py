"""Round-6 fixes: ks_drift two-level distributed CDF, bloom prefilter
durability, drift-family group caps, Supabase-shape adapter parity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _exact_ks(a: list[float], b: list[float]) -> float:
    """Reference two-sample KS via sorted merge (standard after-ties CDF)."""
    vals = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    sa, sb = sorted(a), sorted(b)
    d = 0.0
    ia = ib = 0
    for v in vals:
        while ia < na and sa[ia] <= v:
            ia += 1
        while ib < nb and sb[ib] <= v:
            ib += 1
        d = max(d, abs(ia / na - ib / nb))
    return d


def test_ks_drift_high_cardinality_continuous(spark):
    """Continuous feature: every value distinct (distinct values == row
    count — the regime that used to serialize a pair into one task).
    The two-level CDF must agree with a Python reference KS and with
    the cdf_buckets=1 degenerate single-window path."""
    from etielle_spark.operators.profile import ks_drift

    # deterministic pseudo-continuous values: 3 groups x 1500 rows,
    # all 4500 values distinct
    def v(g: int, i: int) -> float:
        return ((i * 2654435761 + g * 40503) % 999983) + g * 0.25 + i * 1e-7

    data = [(f"g{g}", v(g, i)) for g in range(3) for i in range(1500)]
    df = spark.createDataFrame(data, "g string, val double")
    out = {
        (r.group_a, r.group_b): r.ks_stat
        for r in ks_drift(df, "val", "g", cdf_buckets=64).collect()
    }
    assert set(out) == {("g0", "g1"), ("g0", "g2"), ("g1", "g2")}
    by_g = {f"g{g}": [v(g, i) for i in range(1500)] for g in range(3)}
    for (ga, gb), stat in out.items():
        expect = round(_exact_ks(by_g[ga], by_g[gb]), 6)
        assert abs(stat - expect) < 1e-9, (ga, gb, stat, expect)
    # degenerate single-bucket path gives the identical statistic
    single = {
        (r.group_a, r.group_b): r.ks_stat
        for r in ks_drift(df, "val", "g", cdf_buckets=1).collect()
    }
    assert single == out


def test_ks_drift_bucketed_plan_is_distributed(spark):
    """The cumsum window must be keyed on (pair, bucket), not just the
    pair — assert the bucket column appears in the window partition
    spec of the physical plan."""
    from etielle_spark.operators.profile import ks_drift

    data = [(f"g{g}", float(i) + g * 0.5) for g in range(2) for i in range(300)]
    df = spark.createDataFrame(data, "g string, val double")
    plan = ks_drift(df, "val", "g", cdf_buckets=16)._jdf.queryExecution().executedPlan().toString()
    assert "__bk" in plan


def test_incremental_bloom_enabled_on_existing_index(spark, tmp_path):
    """Enabling bloom_bits on a PRE-EXISTING index must backfill the
    filter from history — previously the history digests were absent
    and bloom-negative duplicates were waved through as new."""
    from etielle_spark.streaming.incremental_dedup import IncrementalExactDedup

    idx = str(tmp_path / "idx")
    plain = IncrementalExactDedup(spark, idx)
    plain.process_batch(
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id int, text string"
        )
    )
    # same index dir, bloom now enabled — history must still dedup
    bloom = IncrementalExactDedup(spark, idx, bloom_bits=1 << 12)
    out = bloom.process_batch(
        spark.createDataFrame(
            [(4, "alpha"), (5, "beta"), (6, "new-doc")], "doc_id int, text string"
        )
    )
    assert {r["doc_id"] for r in out.collect()} == {6}


def test_incremental_bloom_param_change_rebuilds(spark, tmp_path):
    """Changing num_bits/num_hashes between runs must rebuild the filter
    (persisted _meta validated on load), not probe misaligned bits."""
    from etielle_spark.streaming.incremental_dedup import IncrementalExactDedup

    idx = str(tmp_path / "idx")
    a = IncrementalExactDedup(spark, idx, bloom_bits=1 << 12, bloom_hashes=5)
    a.process_batch(
        spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id int, text string")
    )
    a.process_batch(
        spark.createDataFrame([(3, "gamma")], "doc_id int, text string")
    )
    b = IncrementalExactDedup(spark, idx, bloom_bits=1 << 13, bloom_hashes=3)
    out = b.process_batch(
        spark.createDataFrame(
            [(4, "alpha"), (5, "gamma"), (6, "fresh")], "doc_id int, text string"
        )
    )
    assert {r["doc_id"] for r in out.collect()} == {6}
    # persisted meta now records the new params
    meta = spark.read.json(idx + "_bloom/_meta").collect()[0]
    assert (int(meta["num_bits"]), int(meta["num_hashes"])) == (1 << 13, 3)


def test_incremental_bloom_lagging_filter_backfilled(spark, tmp_path):
    """A filter that is BEHIND the index (crash between appends, or
    batches run with bloom disabled in between) must be re-synced by
    index file list before the next probe."""
    from etielle_spark.streaming.incremental_dedup import IncrementalExactDedup

    idx = str(tmp_path / "idx")
    bloom = IncrementalExactDedup(spark, idx, bloom_bits=1 << 12)
    bloom.process_batch(
        spark.createDataFrame([(1, "alpha")], "doc_id int, text string")
    )
    # interleave a bloom-disabled run: its index append never touches
    # the filter — the lag the sync must close
    plain = IncrementalExactDedup(spark, idx)
    plain.process_batch(
        spark.createDataFrame([(2, "beta")], "doc_id int, text string")
    )
    out = bloom.process_batch(
        spark.createDataFrame(
            [(3, "alpha"), (4, "beta"), (5, "fresh")], "doc_id int, text string"
        )
    )
    assert {r["doc_id"] for r in out.collect()} == {5}


def test_drift_family_group_caps(spark):
    """The pairwise drift/overlap operators build driver-side pair
    tables — past max_groups they must raise with the dimension-contract
    hint, not silently build a quadratic local relation."""
    from etielle_spark.operators.dedup import cross_group_overlap
    from etielle_spark.operators.profile import ks_drift, psi_drift
    from etielle_spark.operators.text import vocab_drift

    docs = spark.createDataFrame(
        [(i, f"text {i}", f"g{i}", float(i)) for i in range(6)],
        "doc_id long, text string, grp string, v double",
    )
    with pytest.raises(ValueError, match="max_groups"):
        cross_group_overlap(docs, "text", "grp", max_groups=3)
    with pytest.raises(ValueError, match="max_groups"):
        ks_drift(docs, "v", "grp", max_groups=3)
    with pytest.raises(ValueError, match="max_groups"):
        vocab_drift(docs, "text", "grp", max_groups=3)
    with pytest.raises(ValueError, match="max_groups"):
        psi_drift(docs, "v", "grp", "g0", max_groups=3)
    # under the cap everything still works
    assert cross_group_overlap(docs, "text", "grp", max_groups=6).count() == 15


def test_wds_write_long_keys(spark, tmp_path):
    """Keys past USTAR's 100-char member-name cap must round-trip (PAX
    format), not raise mid-write leaving a truncated shard."""
    from etielle_spark.operators.webdataset import wds_read, wds_write

    long_key = "k" + "x" * 150
    df = spark.createDataFrame(
        [(long_key, b"payload-bytes"), ("short", b"other")],
        "key string, bin binary",
    )
    out = str(tmp_path / "wds")
    manifest = wds_write(df, out, "key", {"bin": "bin"}, num_shards=1)
    assert manifest.count() >= 1
    back = {r["key"]: bytes(r["data"]) for r in wds_read(spark, out).collect()}
    assert back[long_key] == b"payload-bytes"
    assert back["short"] == b"other"


def test_incremental_vocab_drift_equals_batch(spark, tmp_path):
    """Streamed vocabulary-drift registers, sum-merged at read, must
    score EXACTLY like the batch operator over the concatenated input
    (same contract as test_chunked_equals_resident)."""
    from etielle_spark.operators.text import vocab_drift
    from etielle_spark.streaming.incremental_drift import IncrementalVocabDrift

    rows = [
        (f"doc {i} common words alpha beta {'gamma' if i % 3 else 'delta'} x{i}",
         f"g{i % 3}")
        for i in range(60)
    ]
    batches = [rows[:20], rows[20:45], rows[45:]]
    mon = IncrementalVocabDrift(
        spark, str(tmp_path / "vd"), text_col="text", group_col="g",
        n_buckets=64,
    )
    for b in batches:
        mon.process_batch(spark.createDataFrame(b, "text string, g string"))
    streamed = sorted(map(tuple, mon.drift().collect()))
    full = spark.createDataFrame(rows, "text string, g string")
    batch = sorted(map(tuple, vocab_drift(full, "text", "g", n_buckets=64).collect()))
    assert streamed == batch


def test_incremental_psi_equals_batch(spark, tmp_path):
    """Streamed PSI with edges frozen from the first batch's reference
    group must equal batch psi_drift over the concatenated input (the
    full reference arrives in batch one, so the edges coincide)."""
    from etielle_spark.operators.profile import psi_drift
    from etielle_spark.streaming.incremental_drift import IncrementalPSI

    ref_rows = [("ref", float(v % 50)) for v in range(300)]
    b2 = [("cur", float(v % 50 + 10)) for v in range(200)]
    b3 = [("cur", float(v % 50 + 10)) for v in range(200, 350)] + [
        ("other", float(v)) for v in range(40)
    ]
    mon = IncrementalPSI(
        spark, str(tmp_path / "psi"), value_col="v", group_col="g",
        ref_group="ref", bins=8,
    )
    for b in (ref_rows, b2, b3):
        mon.process_batch(spark.createDataFrame(b, "g string, v double"))
    streamed = sorted(map(tuple, mon.psi().collect()))
    full = spark.createDataFrame(ref_rows + b2 + b3, "g string, v double")
    batch = sorted(map(tuple, psi_drift(full, "v", "g", "ref", bins=8).collect()))
    assert streamed == batch


def test_incremental_psi_guards(spark, tmp_path):
    """First batch without the reference group raises; re-opening state
    with a different binning raises (frozen-baseline contract)."""
    from etielle_spark.streaming.incremental_drift import IncrementalPSI

    state = str(tmp_path / "psi")
    mon = IncrementalPSI(
        spark, state, value_col="v", group_col="g", ref_group="ref", bins=4
    )
    no_ref = spark.createDataFrame([("cur", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="baseline"):
        mon.process_batch(no_ref)
    mon.process_batch(
        spark.createDataFrame(
            [("ref", float(i)) for i in range(20)], "g string, v double"
        )
    )
    rebinned = IncrementalPSI(
        spark, state, value_col="v", group_col="g", ref_group="ref", bins=6
    )
    with pytest.raises(ValueError, match="bins"):
        rebinned.process_batch(no_ref)


def test_round6_null_and_edge_input_audit(spark, tmp_path):
    """NULL/degenerate-input audit for the round-6 surfaces (the r5
    audit pattern): no worker crashes, sane results."""
    from etielle_spark.operators.profile import ks_drift
    from etielle_spark.streaming.incremental_drift import (
        IncrementalPSI,
        IncrementalVocabDrift,
    )

    # ks_drift: single distinct value everywhere -> no quantile edges ->
    # degenerate single-bucket path; identical distributions -> D = 0
    one = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", None), (None, 1.0)],
        "g string, v double",
    )
    rows = ks_drift(one, "v", "g").collect()
    assert len(rows) == 1 and rows[0].ks_stat == 0.0

    # incremental vocab drift: NULL text and NULL group rows fold in
    # without crashing, empty batches are no-ops
    mon = IncrementalVocabDrift(
        spark, str(tmp_path / "vd"), text_col="t", group_col="g", n_buckets=16
    )
    mon.process_batch(
        spark.createDataFrame(
            [("hello world", "a"), (None, "a"), ("hello there", "b"), ("x", None)],
            "t string, g string",
        )
    )
    mon.process_batch(
        spark.createDataFrame([], "t string, g string")
    )
    out = mon.drift().collect()
    assert len(out) == 1  # (a, b) only; NULL group dropped

    # incremental PSI: NULL values/groups dropped at the source filter
    psi = IncrementalPSI(
        spark, str(tmp_path / "psi"), value_col="v", group_col="g",
        ref_group="r", bins=4,
    )
    psi.process_batch(
        spark.createDataFrame(
            [("r", float(i)) for i in range(12)]
            + [("c", 5.0), ("c", None), (None, 3.0)],
            "g string, v double",
        )
    )
    got = {r.group: r.n for r in psi.psi().collect()}
    assert got == {"c": 1}


def test_supabase_sink_null_values_roundtrip(spark):
    """NULL field values survive the row->dict->client path."""
    from etielle_spark.sources.supabase import SupabaseSink, fake_client

    client = fake_client()
    sink = SupabaseSink(client, batch_size=10)
    df = spark.createDataFrame(
        [(1, None), (2, "x")], "id long, name string"
    )
    sink.write("t", df)
    by_id = {r["id"]: r["name"] for r in client.rows["t"]}
    assert by_id == {1: None, 2: "x"}


def test_incremental_binned_ks_equals_batch_on_censored_values(spark, tmp_path):
    """The streamed binned-KS score must EQUAL batch ks_drift applied to
    the bin-censored values (each value replaced by its frozen-edge bin
    index) — the exact differential contract of the approximation."""
    from etielle_spark.operators.profile import ks_drift, psi_bin_counts
    from etielle_spark.streaming.incremental_drift import IncrementalBinnedKS

    def v(g, i):
        return float((i * 7919 + g * 131) % 997) + i * 1e-4

    rows = [(f"g{g}", v(g, i)) for g in range(3) for i in range(400)]
    batches = [rows[:500], rows[500:900], rows[900:]]
    mon = IncrementalBinnedKS(
        spark, str(tmp_path / "ks"), value_col="val", group_col="g",
        edge_group="g0", bins=16,
    )
    for b in batches:
        mon.process_batch(spark.createDataFrame(b, "g string, val double"))
    streamed = {(r.group_a, r.group_b): (r.n_a, r.n_b, r.ks_stat)
                for r in mon.drift().collect()}

    # batch twin: censor every value to its bin index with the monitor's
    # OWN frozen edges (they froze from batch 1's edge-group rows — the
    # contract), then exact ks_drift on the censored column
    full = spark.createDataFrame(rows, "g string, val double")
    src = full.selectExpr("g as __g", "cast(val as double) as __v")
    edges = mon._load_edges()
    censored = psi_bin_counts(src, "__v", "__g", edges, bins=16).selectExpr(
        "group as g", "cast(bin as double) as val", "cnt"
    )
    # expand counts back to rows is wasteful — ks_drift on (g, bin)
    # weighted rows: replicate via explode(sequence)
    expanded = censored.selectExpr("g", "val", "explode(sequence(1, cnt))")
    batch = {(r.group_a, r.group_b): (r.n_a, r.n_b, r.ks_stat)
             for r in ks_drift(expanded, "val", "g").collect()}
    assert streamed == batch


def test_incremental_binned_ks_guards(spark, tmp_path):
    from etielle_spark.streaming.incremental_drift import IncrementalBinnedKS

    state = str(tmp_path / "ks")
    mon = IncrementalBinnedKS(
        spark, state, value_col="v", group_col="g", edge_group="ref", bins=8
    )
    with pytest.raises(ValueError, match="baseline"):
        mon.process_batch(
            spark.createDataFrame([("cur", 1.0)], "g string, v double")
        )
    mon.process_batch(
        spark.createDataFrame(
            [("ref", float(i)) for i in range(30)] + [("cur", 3.0)],
            "g string, v double",
        )
    )
    rebinned = IncrementalBinnedKS(
        spark, state, value_col="v", group_col="g", edge_group="ref", bins=4
    )
    with pytest.raises(ValueError, match="bins"):
        rebinned.process_batch(
            spark.createDataFrame([("cur", 1.0)], "g string, v double")
        )
    out = {(r.group_a, r.group_b) for r in mon.drift().collect()}
    assert out == {("cur", "ref")}


def test_incremental_drift_replay_idempotent(spark, tmp_path):
    """foreachBatch replays the same batch_id after a crash — folding a
    batch twice under one id must NOT double its registers (counts are
    not merge-idempotent like bitmap ORs, so storage is batch-id-keyed
    overwrite)."""
    from etielle_spark.streaming.incremental_drift import (
        IncrementalPSI,
        IncrementalVocabDrift,
    )

    mon = IncrementalVocabDrift(
        spark, str(tmp_path / "vd"), text_col="t", group_col="g", n_buckets=16
    )
    b0 = spark.createDataFrame(
        [("alpha beta", "a"), ("beta gamma", "b")], "t string, g string"
    )
    mon.process_batch(b0, batch_id=0)
    once = sorted(map(tuple, mon.counts().collect()))
    mon.process_batch(b0, batch_id=0)  # replay
    twice = sorted(map(tuple, mon.counts().collect()))
    assert once == twice

    psi = IncrementalPSI(
        spark, str(tmp_path / "psi"), value_col="v", group_col="g",
        ref_group="r", bins=4,
    )
    pb = spark.createDataFrame(
        [("r", float(i)) for i in range(12)] + [("c", 3.0)],
        "g string, v double",
    )
    psi.process_batch(pb, batch_id=5)
    first = sorted(map(tuple, psi.psi().collect()))
    psi.process_batch(pb, batch_id=5)  # replay
    assert sorted(map(tuple, psi.psi().collect())) == first


def test_supabase_batch_size_validation(spark):
    from etielle_spark.sources.supabase import (
        SupabaseSink,
        fake_client,
        insert_batches,
    )

    client = fake_client()
    with pytest.raises(ValueError, match="batch_size"):
        insert_batches(client, "t", [{"a": 1}], batch_size=0)
    with pytest.raises(ValueError, match="batch_size"):
        SupabaseSink(client, batch_size=-3)


def test_incremental_drift_run_scoped_batch_keys(spark, tmp_path):
    """Two DIFFERENT runs (fresh monitors, batch ids restarting at 0)
    feeding one state dir must ACCUMULATE, not clobber each other —
    replay idempotence is scoped by (run token, batch id)."""
    from etielle_spark.streaming.incremental_drift import IncrementalVocabDrift

    state = str(tmp_path / "vd")
    b = spark.createDataFrame([("alpha beta", "a")], "t string, g string")
    run1 = IncrementalVocabDrift(spark, state, text_col="t", group_col="g",
                                 n_buckets=16)
    run1.process_batch(b, batch_id=0)
    one = {(r["group"], r["bucket"]): r["cnt"] for r in run1.counts().collect()}
    run2 = IncrementalVocabDrift(spark, state, text_col="t", group_col="g",
                                 n_buckets=16)
    run2.process_batch(b, batch_id=0)  # new run, same batch id
    two = {(r["group"], r["bucket"]): r["cnt"] for r in run2.counts().collect()}
    assert two == {k: 2 * v for k, v in one.items()}
    # but a replay WITHIN run2 does not add a third copy
    run2.process_batch(b, batch_id=0)
    assert {(r["group"], r["bucket"]): r["cnt"]
            for r in run2.counts().collect()} == two
    # explicit shared run_id restores cross-restart idempotence
    run3 = IncrementalVocabDrift(spark, state, text_col="t", group_col="g",
                                 n_buckets=16, run_id="ckpt-7")
    run3.process_batch(b, batch_id=1)
    three = {(r["group"], r["bucket"]): r["cnt"] for r in run3.counts().collect()}
    run4 = IncrementalVocabDrift(spark, state, text_col="t", group_col="g",
                                 n_buckets=16, run_id="ckpt-7")
    run4.process_batch(b, batch_id=1)  # restart replay of batch 1
    assert {(r["group"], r["bucket"]): r["cnt"]
            for r in run4.counts().collect()} == three


def test_incremental_psi_empty_first_batch_is_noop(spark, tmp_path):
    """An empty first micro-batch (common at stream start) must be a
    no-op, not a wedged-checkpoint error; edge corruption (registers
    without a manifest) must raise instead of silently re-freezing."""
    from etielle_spark.streaming.incremental_drift import IncrementalPSI

    mon = IncrementalPSI(
        spark, str(tmp_path / "psi"), value_col="v", group_col="g",
        ref_group="ref", bins=4,
    )
    mon.process_batch(spark.createDataFrame([], "g string, v double"))  # no-op
    mon.process_batch(
        spark.createDataFrame(
            [("ref", float(i)) for i in range(16)] + [("cur", 5.0)],
            "g string, v double",
        )
    )
    assert {r.group for r in mon.psi().collect()} == {"cur"}
    # corrupt: drop the manifest while registers remain
    import shutil

    shutil.rmtree(str(tmp_path / "psi") + "/_edges")
    with pytest.raises(ValueError, match="manifest"):
        mon.process_batch(
            spark.createDataFrame([("cur", 1.0)], "g string, v double")
        )


def test_incremental_drift_real_readstream(spark, tmp_path):
    """Drive IncrementalVocabDrift through a REAL Structured Streaming
    query (availableNow + foreachBatch + attach()) and match the batch
    operator — the adapter path, not just direct process_batch calls."""
    from etielle_spark.operators.text import vocab_drift
    from etielle_spark.streaming.incremental_drift import IncrementalVocabDrift

    rows = [
        (f"doc {i} shared words {'x' if i % 2 else 'y'} tail{i}", f"g{i % 2}")
        for i in range(40)
    ]
    src_dir = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "text string, lang string")
    df.repartition(4).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    mon = IncrementalVocabDrift(
        spark, str(tmp_path / "vd"), text_col="text", group_col="lang",
        n_buckets=32, run_id="rs-test",
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(mon.attach())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(map(tuple, mon.drift().collect()))
    batch = sorted(map(tuple, vocab_drift(df, "text", "lang", n_buckets=32).collect()))
    assert streamed == batch
