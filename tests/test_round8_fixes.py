"""Round-8 fixes: ADVICE items (LSH index error surfacing, CMS
empty-fallback schema fidelity, attach-token precedence, operator cache
release) pinned by test."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType


def test_lsh_index_read_errors_surface(spark, tmp_path):
    """IncrementalLSHDedup._index must RAISE on a non-path-missing read
    error — reading it as 'no history' would emit only within-batch
    pairs while still appending the batch's digests: every cross-batch
    duplicate pair for that batch silently lost forever."""
    from etielle_spark.streaming.incremental_dedup import IncrementalLSHDedup

    bad = tmp_path / "lshidx"
    bad.mkdir()
    (bad / "part-00000.parquet").write_text("this is not parquet")
    inc = IncrementalLSHDedup(spark, str(bad))
    with pytest.raises(Exception) as ei:
        inc._index()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_lsh_index_missing_path_is_no_history(spark, tmp_path):
    from etielle_spark.streaming.incremental_dedup import IncrementalLSHDedup

    inc = IncrementalLSHDedup(spark, str(tmp_path / "never-written"))
    assert inc._index() is None


def test_cms_empty_fallback_schema_matches_normal_path(spark, tmp_path):
    """heavy_hitters' crash-window fallback (registers written, _cands
    never landed) must return the SAME schema as the normal
    cms_estimate_topk output even for non-string group columns —
    schema-sensitive consumers (unions, writers) see one shape."""
    from etielle_spark.operators.sketches import cms_cells
    from etielle_spark.streaming.incremental_cms import IncrementalCMS
    from etielle_spark.streaming.incremental_drift import _write_registers

    df = spark.createDataFrame(
        [(1, "apple"), (1, "apple"), (2, "pear")], "src long, tok string"
    )

    # normal path: full process_batch, for the reference schema
    full = IncrementalCMS(
        spark, str(tmp_path / "full"), item_col="tok",
        group_cols=["src"], run_id="r1",
    )
    full.process_batch(df, batch_id=0)
    normal_schema = full.heavy_hitters(k=2).schema

    # crash window: registers only, no _cands dir
    crashed = IncrementalCMS(
        spark, str(tmp_path / "crashed"), item_col="tok",
        group_cols=["src"], run_id="r1",
    )
    crashed._check_meta()
    _write_registers(
        cms_cells(crashed._occurrences(df), ["src"], depth=4, width=256),
        crashed.state_dir, "r1", 0,
    )
    out = crashed.heavy_hitters(k=2)
    assert out.count() == 0
    assert out.schema == normal_schema
    assert isinstance(out.schema["src"].dataType, LongType)


def test_attach_token_prefers_explicit_run_id(spark, tmp_path):
    """A monitor constructed with an explicit run_id must store attach()
    batches under THAT token — manual process_batch calls use run_token,
    so deriving a second token from checkpoint_location would store the
    same batch_id twice (the double-count the contract prevents)."""
    from etielle_spark.streaming.incremental_drift import (
        IncrementalVocabDrift,
        _attach_token,
    )

    mon = IncrementalVocabDrift(
        spark, str(tmp_path / "state"), text_col="text", group_col="lang",
        n_buckets=64, run_id="runA",
    )
    assert _attach_token(mon, "/some/ckpt") == "runA"
    assert _attach_token(mon, None) == "runA"

    # end-to-end: the same batch_id driven through BOTH paths lands in
    # one register dir (overwrite), so totals count the batch once
    df = spark.createDataFrame(
        [("en", "hello world hello"), ("fr", "bonjour monde")],
        "lang string, text string",
    )
    fn = mon.attach(checkpoint_location=str(tmp_path / "ckpt"))
    fn(df, 0)
    mon.process_batch(df, batch_id=0)  # replay through the manual path
    merged = mon.counts()
    total = merged.agg(F.sum("cnt")).collect()[0][0]
    assert total == 5  # 3 en tokens + 2 fr tokens, counted ONCE


def test_attach_without_run_id_still_uses_checkpoint_token(spark, tmp_path):
    from etielle_spark.streaming.incremental_drift import (
        IncrementalVocabDrift,
        _attach_token,
        _checkpoint_token,
    )

    mon = IncrementalVocabDrift(
        spark, str(tmp_path / "state2"), text_col="text", group_col="lang",
    )
    tok = _attach_token(mon, "/data/ckpt")
    assert tok == _checkpoint_token("/data/ckpt")
    with pytest.raises(ValueError):
        _attach_token(mon, None)


def test_cms_adversarial_drip_pins_candidate_bound(spark, tmp_path):
    """The adversarial drip (an item pinned at rank candidate_k+1 in
    EVERY batch): below the frequent-items bound it is invisible BY
    NECESSITY (global share <= 1/(k+1) — no deterministic k-summary
    must report it), and one notch of candidate_k per the documented
    sizing rule catches it.  Pins both directions of the docstring's
    recall contract."""
    from etielle_spark.streaming.incremental_cms import IncrementalCMS

    def drive(k, state):
        cms = IncrementalCMS(
            spark, state, item_col="tok", depth=4, width=128,
            candidate_k=k, run_id="r1",
        )
        total = drip_total = 0
        for b in range(12):
            rows = []
            for i in range(4):  # 4 rotating decoys, 6 occurrences each
                rows += [(f"dec-{b}-{i}",)] * 6
            rows += [("drip",)] * 5  # rank 5 within every batch
            total += len(rows)
            drip_total += 5
            cms.process_batch(
                spark.createDataFrame(rows, "tok string"), batch_id=b
            )
        return cms, drip_total / total

    # k=4: drip is rank k+1 everywhere -> share NECESSARILY <= 1/(k+1)
    cms4, share = drive(4, str(tmp_path / "k4"))
    assert share <= 1 / 5  # the documented bound is tight, not violated
    cands4 = {r["__item"] for r in cms4._candidates().collect()}
    assert "drip" not in cands4  # invisible at this capacity, as documented

    # sizing rule: share ~0.172 -> candidate_k >= ceil(1/0.172)-1 = 5
    cms5, _ = drive(5, str(tmp_path / "k5"))
    cands5 = {r["__item"] for r in cms5._candidates().collect()}
    assert "drip" in cands5
    hh = {r["item"]: r["est_count"] for r in cms5.heavy_hitters(k=1).collect()}
    assert hh == {"drip": 60}  # global top-1, exact under CMS here


def test_lsh_and_hll_geometry_manifests(spark, tmp_path):
    """The persistent LSH index and HLL register state pin their sketch
    geometry like the CMS/PSI/bloom manifests: reopening with different
    params raises instead of silently missing every cross-batch pair /
    max-merging mis-bucketed registers."""
    from etielle_spark.streaming.incremental_dedup import IncrementalLSHDedup
    from etielle_spark.streaming.incremental_sketch import IncrementalHLL

    docs = spark.createDataFrame(
        [("a", "one two three four five"), ("b", "six seven eight nine ten")],
        "doc_id string, text string",
    )
    lsh = IncrementalLSHDedup(spark, str(tmp_path / "lsh"), num_hashes=8, bands=4)
    lsh.process_batch(docs).unpersist()
    # same geometry reopens fine
    ok = IncrementalLSHDedup(spark, str(tmp_path / "lsh"), num_hashes=8, bands=4)
    ok.process_batch(docs).unpersist()
    bad = IncrementalLSHDedup(spark, str(tmp_path / "lsh"), num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="geometry|built with"):
        bad.process_batch(docs)

    hll = IncrementalHLL(
        spark, str(tmp_path / "hll"), group_cols=[], item_col="doc_id",
        bucket_hex=2,
    )
    hll.process_batch(docs)
    bad_h = IncrementalHLL(
        spark, str(tmp_path / "hll"), group_cols=[], item_col="doc_id",
        bucket_hex=3,
    )
    with pytest.raises(ValueError, match="geometry|built with"):
        bad_h.estimate()


def test_release_operator_caches(spark):
    """gram_duplication_stats (and the other corpus-scale two-consumer
    persists) register with the cache registry; release_operator_caches
    unpersists them and the released frame still recomputes correctly."""
    from etielle_spark import release_operator_caches, tracked_cache_count
    from etielle_spark.operators.dedup import gram_duplication_stats

    release_operator_caches()  # clean slate
    docs = spark.createDataFrame(
        [("a", "one two three four five six seven eight nine"),
         ("b", "one two three four five six seven eight nine"),
         ("c", "totally different words here with no overlap at all")],
        "doc_id string, text string",
    )
    out = gram_duplication_stats(docs, "doc_id", "text", n=3)
    rows = {r["id"]: r for r in out.collect()}
    assert tracked_cache_count() >= 1
    n = release_operator_caches()
    assert n >= 1
    assert tracked_cache_count() == 0
    # correctness survives release: recompute from lineage
    rows2 = {r["id"]: r for r in out.collect()}
    assert rows2.keys() == rows.keys()
    assert rows["a"]["shared_frac"] == rows2["a"]["shared_frac"] > 0
    assert rows["c"]["n_shared_grams"] == 0
