"""Round-5 robustness fixes: semdedup NULL-vector handling on the arrow
engine, mmr_select native (string) doc ids, and persisted iterative-ML
loop inputs (logreg_train / kmeans_fit)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_semdedup_null_empty_vectors_both_engines(spark):
    """NULL / empty / NULL-element vectors must not crash the arrow
    engine (the default) and must match the sql engine row-for-row:
    unscorable vectors land in the min-id cell and are never dropped."""
    from etielle_spark.operators.similarity import semdedup

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),
            (3, None),
            (4, []),
            (5, [1.0, None, 0.0]),
            (6, [0.0, 0.0, 0.0]),
            (7, [0.0, 1.0, 0.0]),
        ],
        "id long, v array<double>",
    )
    a = sorted(
        (r.id, r.cell, r.dropped, r.dup_of)
        for r in semdedup(
            df, "id", "v", nlist=2, threshold=0.99, engine="arrow"
        ).collect()
    )
    s = sorted(
        (r.id, r.cell, r.dropped, r.dup_of)
        for r in semdedup(
            df, "id", "v", nlist=2, threshold=0.99, engine="sql"
        ).collect()
    )
    assert a == s
    by_id = {t[0]: t for t in a}
    # all 7 input rows survive
    assert set(by_id) == {1, 2, 3, 4, 5, 6, 7}
    # unscorable rows are kept, never dropped, and never a dup source
    for bad in (3, 4, 5):
        assert by_id[bad][2] is False and by_id[bad][3] is None


def test_semdedup_all_null_vectors_arrow(spark):
    """Explicit centroids + an all-unscorable corpus: the arrow engine
    passes every row through instead of crashing on an empty batch."""
    from etielle_spark.operators.similarity import semdedup

    df = spark.createDataFrame(
        [(1, None), (2, [])], "id long, v array<double>"
    )
    out = sorted(
        (r.id, r.dropped, r.dup_of)
        for r in semdedup(
            df,
            "id",
            "v",
            nlist=2,
            threshold=0.99,
            engine="arrow",
            centroids=[(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        ).collect()
    )
    assert out == [(1, False, None), (2, False, None)]


def test_mmr_select_string_ids(spark):
    """String doc ids (accepted by every sibling operator) flow through
    natively — no cast-to-long NULL -> NaN worker crash."""
    from etielle_spark.operators.similarity import mmr_select

    df = spark.createDataFrame(
        [
            ("docA", [1.0, 0.0], 1.0),
            ("docB", [0.999, 0.04], 0.9),
            ("docC", [0.0, 1.0], 0.5),
        ],
        "doc string, embedding array<double>, rel double",
    )
    out = mmr_select(df, "doc", "embedding", "rel", k=2, lam=0.5)
    assert dict(out.dtypes)["id"] == "string"
    picks = {r["rank"]: r["id"] for r in out.collect()}
    # docB is a near-duplicate of docA -> diversity picks docC second
    assert picks == {0: "docA", 1: "docC"}


def test_mmr_select_numeric_ids_still_long(spark):
    """Integral ids keep the historical long output schema."""
    from etielle_spark.operators.similarity import mmr_select

    df = spark.createDataFrame(
        [(10, [1.0, 0.0], 0.9), (11, [0.0, 1.0], 0.5)],
        "doc int, embedding array<double>, rel double",
    )
    out = mmr_select(df, "doc", "embedding", "rel", k=2)
    assert dict(out.dtypes)["id"] == "bigint"
    assert {r["id"] for r in out.collect()} == {10, 11}


def test_logreg_train_single_upstream_execution(spark):
    """The training input pipeline must run ONCE (persisted), not once
    per probe/count/GD-step — counted via a Python accumulator in a UDF
    planted upstream of the training loop."""
    from pyspark.sql import types as T

    from etielle_spark.operators.text import logreg_train

    acc = spark.sparkContext.accumulator(0)

    @F.udf(T.ArrayType(T.DoubleType()))
    def expensive_features(x):
        acc.add(1)
        return [float(x), 1.0 - float(x)]

    df = spark.createDataFrame(
        [(i, i % 2) for i in range(20)], "id long, y int"
    ).withColumn("x", expensive_features(F.col("y")))
    w, b = logreg_train(df, "id", "x", "y", n_steps=2)
    assert len(w) == 2
    # one persisted materialization = one UDF call per row (modulo
    # speculative partition re-runs; assert well under the 4 full
    # executions the unpersisted loop used to do)
    assert acc.value <= 2 * 20, acc.value


def test_flush_failed_fires_before_count_on_plan_error(spark):
    """When the PLAN (not the sink) is what fails, the old handler's
    public[t].count() re-raised before FlushFailed was emitted; the
    event must fire first and the original error must surface."""
    import pytest as _pytest

    from etielle_spark import Field, etl, get
    from etielle_spark.sources.sinks import Sink
    from etielle_spark.telemetry import FlushFailed
    from etielle_spark.transforms import apply

    def boom(v):
        raise ValueError("plan exploded")

    class ExecutingSink(Sink):
        def write(self, table, df):
            df.collect()

    events = []
    p = (
        etl({"docs": [{"x": "1"}]}, spark=spark)
        .goto("docs").each()
        .map_to("t", fields=[Field("x", apply(boom, get("x")))])
        .load(ExecutingSink())
    )
    p._on_event = events.append
    with _pytest.raises(Exception, match="plan exploded"):
        p.run()
    failed = [e for e in events if isinstance(e, FlushFailed)]
    assert failed and failed[0].table == "t"
    assert "plan exploded" in failed[0].error


def test_gram_matrix_null_vectors_both_engines(spark):
    """NULL / empty / NULL-element vectors are excluded (not crashes) on
    BOTH gram_matrix engines, with identical results."""
    from etielle_spark.operators.similarity import gram_matrix

    clean = [(i, [float(i % 5), float((i * 7) % 3), 1.0]) for i in range(1, 30)]
    dirty = clean + [(100, None), (101, []), (102, [1.0, None, 0.0])]
    d_clean = spark.createDataFrame(clean, "vec_id long, embedding array<double>")
    d_dirty = spark.createDataFrame(dirty, "vec_id long, embedding array<double>")

    def rows(df, eng):
        return sorted(
            map(tuple, gram_matrix(df, "vec_id", "embedding", engine=eng).collect())
        )

    want = rows(d_clean, "sql")
    assert rows(d_dirty, "sql") == want
    assert rows(d_dirty, "arrow") == want


def test_multimodal_ops_skip_null_payloads(spark):
    """A NULL binary payload is skipped, not a worker crash, on every
    payload-consuming codec operator."""
    from etielle_spark.operators.multimodal import (
        extract_features,
        perceptual_hash,
        resize_images,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"payload-bytes")), (2, None)],
        "id long, payload binary",
    )
    assert extract_features(df, "id").count() == 1
    assert perceptual_hash(df, "id").count() == 1
    assert resize_images(df, "id").count() == 1
    assert sample_frames(df, "id", n_frames=2).count() == 2  # 1 doc x 2


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    from etielle_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nFOOTER\nbeta"),
            (2, "gamma\nFOOTER\ndelta"),
            (3, "FOOTER"),
            (4, "solo line"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in line_dedup(docs, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "alpha\nbeta"
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2
    assert out[2]["clean_text"] == "gamma\ndelta"
    # all-boilerplate doc survives as an empty row, not a dropped row
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "solo line" and out[4]["n_kept"] == 1


def test_line_dedup_exact_lines_only(spark):
    """Near-identical lines (whitespace difference) are NOT merged —
    the pass is exact by design."""
    from etielle_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "x \ny"), (2, "x\nz")], "doc_id long, text string"
    )
    out = {r["id"]: r["clean_text"] for r in line_dedup(docs, "doc_id", "text").collect()}
    assert out == {1: "x \ny", 2: "x\nz"}


def test_dsir_logratio_prefers_target_like_docs(spark):
    """A document made of target-style grams must outscore one made of
    source-only grams."""
    from etielle_spark.operators.text import dsir_logratio

    corpus = spark.createDataFrame(
        [
            (1, "physics quantum theory"),
            (2, "physics quantum theory"),
            (3, "celebrity gossip news"),
            (4, "celebrity gossip news"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "physics quantum theory")], "doc_id long, text string"
    )
    out = {r["id"]: r["log_weight"] for r in dsir_logratio(
        corpus, "doc_id", "text", target, n=2, n_buckets=64
    ).collect()}
    assert out[1] > out[3]
    assert out[1] == out[2] and out[3] == out[4]


def test_dsir_logratio_zero_gram_docs_dropped(spark):
    from etielle_spark.operators.text import dsir_logratio

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, None)], "doc_id long, text string"
    )
    target = spark.createDataFrame([(9, "alpha beta")], "doc_id long, text string")
    out = dsir_logratio(corpus, "doc_id", "text", target)
    assert [r["id"] for r in out.collect()] == [1]


def test_compression_ratio_signal(spark):
    """Repetitive text compresses much harder than varied text; empty ->
    1.0, NULL -> NULL, ratio reproducible (zlib is deterministic)."""
    from etielle_spark.operators.text import compression_ratio

    df = spark.createDataFrame(
        [
            (1, "spam spam spam " * 50),
            (2, "The quick brown fox jumps over the lazy dog near the bank " * 3
                + "of the river while seventeen astronomers catalogue nebulae."),
            (3, ""),
            (4, None),
        ],
        "id long, text string",
    )
    rows = {r.id: r for r in compression_ratio(df, "id", "text").collect()}
    assert rows[1].ratio < 0.1  # pure repetition collapses
    assert 0.2 < rows[2].ratio < 0.9  # prose stays mid-range
    assert rows[1].ratio < rows[2].ratio
    assert rows[3].ratio == 1.0 and rows[3].n_bytes == 0
    assert rows[4].ratio is None
    # deterministic across runs
    again = {r.id: r.ratio for r in compression_ratio(df, "id", "text").collect()}
    assert again == {i: r.ratio for i, r in rows.items()}


def test_compression_ratio_binary_column(spark):
    from etielle_spark.operators.text import compression_ratio

    df = spark.createDataFrame(
        [(1, b"\x00" * 400), (2, bytes(range(256)))], "id long, payload binary"
    )
    rows = {r.id: r for r in compression_ratio(df, "id", "payload").collect()}
    assert rows[1].ratio < 0.1  # constant bytes collapse
    assert rows[2].ratio > 0.5  # high-entropy bytes do not
    assert rows[1].n_bytes == 400 and rows[2].n_bytes == 256


def test_mmr_select_unscorable_vectors(spark):
    """NULL / empty / NULL-element vectors must not crash the pandas
    batch (same rule as semdedup's arrow engine): they are unscorable,
    so they are never picked and everything else selects normally."""
    from etielle_spark.operators.similarity import mmr_select

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0.9),
            (2, [0.9, 0.1, 0.0], 0.8),
            (3, None, 0.7),
            (4, [], 0.6),
            (5, [1.0, None, 0.0], 0.5),
            (6, [0.0, 1.0, 0.0], 0.4),
        ],
        "id long, vec array<double>, score double",
    )
    rows = mmr_select(emb, "id", "vec", "score", k=3).collect()
    picked = {r.id for r in rows}
    assert len(rows) == 3
    assert picked <= {1, 2, 6}  # unscorable 3/4/5 never selected
    assert 1 in picked  # highest relevance picked first


def test_pack_counts_null_counts_and_ids(spark):
    """NULL counts pack as 0 (doc keeps its slot); NULL ids are dropped
    instead of crashing the pandas worker on NaN."""
    from etielle_spark.operators.packing import pack_counts

    toks = spark.createDataFrame(
        [(1, 100), (2, None), (3, 50), (4, 0), (None, 10)],
        "id long, n_tokens int",
    )
    packs = pack_counts(toks, "id", "n_tokens", capacity=120).collect()
    packed_ids = sorted(i for r in packs for i in r.doc_ids)
    assert packed_ids == [1, 2, 3, 4]
    assert sum(r.n_tokens for r in packs) == 150
    assert all(r.n_tokens <= 120 for r in packs)


def test_mad_outliers_global_group(spark):
    """Empty group_cols = one global group (winsorize convention) —
    previously crashed on the key-less join."""
    from etielle_spark.operators.profile import mad_outliers

    nums = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 100.0), (4, 2.0), (5, 1.5)],
        "id long, x double",
    )
    rows = {r.id: r for r in mad_outliers(nums, [], "x").collect()}
    assert rows[3].is_outlier  # 100 vs median ~1.5
    assert not rows[1].is_outlier and not rows[4].is_outlier


def test_vocab_drift_properties(spark):
    """JS divergence: ~0 for identical vocab, larger for disjoint vocab,
    symmetric pairs ordered lexically, NULL groups dropped."""
    from etielle_spark.operators.text import vocab_drift

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha", "a"),
            (2, "alpha beta gamma beta", "b"),
            (3, "zeta eta theta iota kappa", "c"),
            (4, "ignored words", None),
        ],
        "doc_id long, text string, grp string",
    )
    rows = {(r.group_a, r.group_b): r for r in
            vocab_drift(docs, "text", "grp", n_buckets=64).collect()}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab, ac = rows[("a", "b")], rows[("a", "c")]
    assert ab.js_divergence < ac.js_divergence  # shared vocab < disjoint
    assert 0.0 <= ab.js_divergence <= 0.6932
    assert ab.n_tokens_a == 4 and ab.n_tokens_b == 4


def test_cross_group_overlap(spark):
    """Shared digests counted once (distinct), zero-overlap pairs kept,
    NULL group/text dropped, Jaccard exact."""
    from etielle_spark.operators.dedup import cross_group_overlap

    docs = spark.createDataFrame(
        [
            (1, "same doc", "a"), (2, "same doc", "a"),  # intra-dup: 1 digest
            (3, "only in a", "a"),
            (4, "same doc", "b"), (5, "only in b", "b"),
            (6, "island", "c"),
            (7, None, "a"), (8, "dropped", None),
        ],
        "doc_id long, text string, grp string",
    )
    rows = {(r.group_a, r.group_b): r for r in
            cross_group_overlap(docs, "text", "grp").collect()}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = rows[("a", "b")]
    assert (ab.n_shared, ab.n_a, ab.n_b) == (1, 2, 2)
    assert abs(ab.jaccard - 1 / 3) < 1e-6
    assert rows[("a", "c")].n_shared == 0 and rows[("a", "c")].jaccard == 0.0


def test_ks_drift_known_answer(spark):
    """Exact two-sample KS: shifted sample D=0.4, identical sample D=0,
    NULL group/value dropped."""
    from etielle_spark.operators.profile import ks_drift

    rows_in = (
        [("a", float(v)) for v in [1, 2, 3, 4, 5]]
        + [("b", float(v)) for v in [3, 4, 5, 6, 7]]
        + [("c", float(v)) for v in [1, 2, 3, 4, 5]]
        + [("a", None), (None, 9.0)]
    )
    df = spark.createDataFrame(rows_in, "g string, v double")
    rows = {(r.group_a, r.group_b): r for r in ks_drift(df, "v", "g").collect()}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert abs(rows[("a", "b")].ks_stat - 0.4) < 1e-9
    assert rows[("a", "c")].ks_stat == 0.0
    assert rows[("a", "b")].n_a == 5 and rows[("a", "b")].n_b == 5


def test_psi_drift_properties(spark):
    """PSI ~0 for same distribution, large for shifted; reference group
    excluded from output; bad reference raises."""
    import pytest

    from etielle_spark.operators.profile import psi_drift

    rows = (
        [("ref", float(v % 100)) for v in range(500)]
        + [("same", float((v * 7) % 100)) for v in range(500)]
        + [("shift", float(v % 100 + 200)) for v in range(500)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.group: r for r in psi_drift(df, "v", "g", "ref").collect()}
    assert set(out) == {"same", "shift"}
    assert out["same"].psi < 0.05
    assert out["shift"].psi > 1.0  # everything lands in the top bin
    assert out["same"].n_ref == 500 and out["same"].n == 500
    with pytest.raises(ValueError):
        psi_drift(df, "v", "g", "nope")
    with pytest.raises(ValueError):
        psi_drift(df, "v", "g", "ref", bins=1)
