"""Round-8 additions: UniMax epoch-capped mixture allocation and the
ANN recall acceptance gate."""

import pytest
from pyspark.sql import Row, functions as F

from etielle_spark.operators.clusters import unimax_mixture
from etielle_spark.operators.similarity import ann_recall


def _waterfill(sizes, budget, epochs):
    """Reference UniMax: ascending-size waterfill, ties on group name."""
    rows = sorted((float(s), g) for g, s in sizes.items())
    remaining = float(budget)
    out = {}
    for i, (sz, g) in enumerate(rows):
        a = min(sz * float(epochs), remaining / (len(rows) - i))
        remaining -= a
        out[g] = a
    return out


class TestUnimaxMixture:
    def test_caps_small_groups_and_splits_rest(self, spark):
        # en is huge, mi is tiny: mi must hit its epoch cap, en must
        # absorb the leftover uniform share
        df = spark.createDataFrame(
            [("en", 1000), ("fr", 300), ("mi", 10)], "lang string, n long"
        )
        out = {
            r["group"]: r
            for r in unimax_mixture(
                df, "lang", size_col="n", budget=600.0, max_epochs=2.0
            ).collect()
        }
        want = _waterfill({"en": 1000, "fr": 300, "mi": 10}, 600.0, 2.0)
        assert out["mi"]["alloc_budget"] == pytest.approx(20.0)  # 10 * 2 epochs
        for g, a in want.items():
            assert out[g]["alloc_budget"] == pytest.approx(a, abs=1e-6)
            assert out[g]["weight"] == pytest.approx(a / 600.0, abs=1e-6)
        # budget fully spent when the caps don't bind globally
        assert sum(r["alloc_budget"] for r in out.values()) == pytest.approx(600.0)

    def test_all_capped_leaves_budget_unspent(self, spark):
        df = spark.createDataFrame(
            [("a", 10), ("b", 20)], "lang string, n long"
        )
        out = unimax_mixture(
            df, "lang", size_col="n", budget=1000.0, max_epochs=1.0
        ).collect()
        by = {r["group"]: r["alloc_budget"] for r in out}
        assert by == {"a": pytest.approx(10.0), "b": pytest.approx(20.0)}

    def test_row_count_size_default(self, spark):
        df = spark.createDataFrame(
            [("a",)] * 6 + [("b",)] * 2, "lang string"
        )
        out = {
            r["group"]: r["group_size"]
            for r in unimax_mixture(df, "lang", budget=4.0, max_epochs=1.0).collect()
        }
        assert out == {"a": 6, "b": 2}

    def test_null_groups_excluded(self, spark):
        df = spark.createDataFrame(
            [Row(lang="a", n=5), Row(lang=None, n=100)]
        )
        out = unimax_mixture(
            df, "lang", size_col="n", budget=10.0, max_epochs=2.0
        ).collect()
        assert [r["group"] for r in out] == ["a"]
        # the NULL group's mass must not leak into the budget split
        assert out[0]["alloc_budget"] == pytest.approx(10.0)

    def test_empty_input_stable_schema(self, spark):
        df = spark.createDataFrame([], "lang string, n long")
        out = unimax_mixture(df, "lang", size_col="n", budget=10.0, max_epochs=1.0)
        assert out.columns == ["group", "group_size", "alloc_budget", "weight"]
        assert out.count() == 0

    def test_guards(self, spark):
        df = spark.createDataFrame([("a", 1)], "lang string, n long")
        with pytest.raises(ValueError, match="budget"):
            unimax_mixture(df, "lang", size_col="n", budget=0, max_epochs=1.0)
        with pytest.raises(ValueError, match="max_epochs"):
            unimax_mixture(df, "lang", size_col="n", budget=1.0, max_epochs=0)
        many = spark.createDataFrame(
            [(str(i), 1) for i in range(30)], "lang string, n long"
        )
        with pytest.raises(ValueError, match="max_groups"):
            unimax_mixture(
                many, "lang", size_col="n", budget=1.0, max_epochs=1.0, max_groups=10
            )


class TestAnnRecall:
    def _frames(self, spark, exact_rows, approx_rows):
        mk = lambda rows: spark.createDataFrame(
            rows, "query_id long, neighbor_id long"
        )
        return mk(exact_rows), mk(approx_rows)

    def test_partial_and_full_overlap(self, spark):
        exact, approx = self._frames(
            spark,
            [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
            [(1, 10), (1, 12), (1, 99), (2, 20), (2, 21)],
        )
        out = {r["query"]: r for r in ann_recall(exact, approx).collect()}
        assert out[1]["n_exact"] == 3 and out[1]["n_hit"] == 2
        assert out[1]["recall"] == pytest.approx(2 / 3, abs=1e-6)
        assert out[2]["recall"] == pytest.approx(1.0)

    def test_missed_query_scores_zero_not_absent(self, spark):
        exact, approx = self._frames(spark, [(1, 10), (2, 20)], [(1, 10)])
        out = {r["query"]: r["recall"] for r in ann_recall(exact, approx).collect()}
        assert out == {1: pytest.approx(1.0), 2: pytest.approx(0.0)}

    def test_duplicate_approx_hits_not_double_counted(self, spark):
        exact, approx = self._frames(
            spark, [(1, 10), (1, 11)], [(1, 10), (1, 10), (1, 10)]
        )
        (row,) = ann_recall(exact, approx).collect()
        assert row["n_hit"] == 1
        assert row["recall"] == pytest.approx(0.5)

    def test_custom_column_names(self, spark):
        exact = spark.createDataFrame([(1, 5)], "q long, nb long")
        approx = spark.createDataFrame([(1, 5)], "q long, nb long")
        (row,) = ann_recall(
            exact, approx, query_col="q", neighbor_col="nb"
        ).collect()
        assert row["recall"] == pytest.approx(1.0)


def test_lsh_index_query_is_read_only(spark, tmp_path):
    """IncrementalLSHDedup.query probes the index without appending:
    same pairs as process_batch would emit for the same docs, the index
    file set untouched, and a cold index yields within-batch pairs
    only."""
    from etielle_spark.streaming.incremental_dedup import IncrementalLSHDedup

    corpus = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(90)
    )
    # duplicate some documents across the batch boundary so cross-index
    # pairs exist
    dup = corpus.filter("doc_id < 10").withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    idx = str(tmp_path / "lsh_q")
    inc = IncrementalLSHDedup(spark, idx, num_hashes=8, bands=4)

    # cold index: query returns only within-batch pairs, writes nothing
    cold = set(
        (r["id_a"], r["id_b"]) for r in inc.query(corpus.union(dup)).collect()
    )
    assert all(a < b for a, b in cold)
    assert inc._index() is None  # still no index on disk

    inc.process_batch(corpus)
    before = sorted(spark.read.parquet(idx).inputFiles())

    probe = dup
    q_pairs = set((r["id_a"], r["id_b"]) for r in inc.query(probe).collect())
    after_query = sorted(spark.read.parquet(idx).inputFiles())
    assert after_query == before  # read-only

    p_pairs = set(
        (r["id_a"], r["id_b"]) for r in inc.process_batch(probe).collect()
    )
    assert q_pairs == p_pairs  # same snapshot semantics as the write path
    assert len(q_pairs) >= 10  # the duplicated docs pair with their originals


class TestPersistentIVFIndex:
    def _index(self, spark, tmp_path, name="ivf", **kw):
        from etielle_spark.streaming.incremental_ann import PersistentIVFIndex

        return PersistentIVFIndex(
            spark, str(tmp_path / name), nlist=kw.pop("nlist", 8), **kw
        )

    def _emb(self, spark, lo=0, hi=200):
        return (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .filter(f"vec_id >= {lo} and vec_id < {hi}")
        )

    def test_exhaustive_probe_matches_batch_exact(self, spark, tmp_path):
        """nprobe >= nlist probes every cell — the index must reproduce
        brute-force cosine top-k exactly (ann_recall == 1.0 per query)."""
        from etielle_spark.operators.similarity import ann_recall, brute_force_topk

        emb = self._emb(spark)
        idx = self._index(spark, tmp_path)
        idx.build(emb)
        q = emb.filter("vec_id < 3")
        approx = idx.query(q, k=5, nprobe=8)
        exact = brute_force_topk(emb, q, "vec_id", "embedding", k=5)
        recalls = [r["recall"] for r in ann_recall(exact, approx).collect()]
        assert recalls and all(r == pytest.approx(1.0) for r in recalls)

    def test_query_equals_ivf_topk_same_codebook(self, spark, tmp_path):
        """The persisted layout must not change results: query() with
        the seed codebook returns exactly what the batch ivf_topk
        returns for the same (nlist, nprobe)."""
        from etielle_spark.operators.similarity import ivf_topk

        emb = self._emb(spark)
        idx = self._index(spark, tmp_path)
        idx.build(emb)
        q = emb.filter("vec_id < 3")
        mine = idx.query(q, k=5, nprobe=3)
        batch = ivf_topk(emb, q, "vec_id", "embedding", k=5, nlist=8, nprobe=3)
        as_set = lambda df: {
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in df.collect()
        }
        assert as_set(mine) == as_set(batch)

    def test_add_extends_the_searchable_corpus(self, spark, tmp_path):
        emb = self._emb(spark, 0, 100)
        more = self._emb(spark, 100, 200)
        idx = self._index(spark, tmp_path)
        idx.build(emb)
        q = emb.filter("vec_id < 2")
        before = {
            (r["query_id"], r["neighbor_id"])
            for r in idx.query(q, k=200, nprobe=8).collect()
        }
        assert all(nid < 100 for _, nid in before)
        idx.add(more)
        after = {
            (r["query_id"], r["neighbor_id"])
            for r in idx.query(q, k=200, nprobe=8).collect()
        }
        assert any(nid >= 100 for _, nid in after)

    def test_compact_preserves_results_and_shrinks_files(self, spark, tmp_path):
        emb = self._emb(spark, 0, 60)
        idx = self._index(spark, tmp_path, nlist=2)
        idx.build(emb)
        for lo in range(60, 140, 20):
            idx.add(self._emb(spark, lo, lo + 20))
        q = emb.filter("vec_id < 2")
        before = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in idx.query(q, k=10, nprobe=2).collect()
        )
        files_before = len(
            spark.read.parquet(str(tmp_path / "ivf") + "/vectors").inputFiles()
        )
        assert idx.compact(min_files=2) >= 1
        files_after = len(
            spark.read.parquet(str(tmp_path / "ivf") + "/vectors").inputFiles()
        )
        assert files_after < files_before
        after = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in idx.query(q, k=10, nprobe=2).collect()
        )
        assert after == before

    def test_geometry_and_codebook_guards(self, spark, tmp_path):
        from etielle_spark.streaming.incremental_ann import PersistentIVFIndex

        emb = self._emb(spark, 0, 50)
        idx = self._index(spark, tmp_path)
        with pytest.raises(ValueError, match="no codebook"):
            idx.query(emb.filter("vec_id < 2"))
        idx.build(emb)
        with pytest.raises(ValueError, match="already has a codebook"):
            idx.build(emb)
        # reopening with different geometry raises instead of silently
        # mis-probing
        other = PersistentIVFIndex(spark, str(tmp_path / "ivf"), nlist=4)
        with pytest.raises(ValueError, match="geometry|built with"):
            other.add(self._emb(spark, 50, 60))


def test_ivf_attach_streams_batches_and_replay_is_exact(spark, tmp_path):
    """PersistentIVFIndex.attach ingests a real readStream; a replayed
    batch (same rows appended twice) cannot change query results — the
    candidate dedup makes duplicate vector rows invisible."""
    from etielle_spark.streaming.incremental_ann import PersistentIVFIndex

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter("vec_id < 200")
    )
    src = str(tmp_path / "src")
    emb.filter("vec_id >= 100").repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    idx = PersistentIVFIndex(spark, str(tmp_path / "ivf"), nlist=4)
    idx.build(emb.filter("vec_id < 100"))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(idx.attach(compact_every=2))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    queries = emb.filter("vec_id < 2")
    before = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in idx.query(queries, k=10, nprobe=4).collect()
    )
    assert any(nid >= 100 for _, nid, _ in before)  # streamed rows searchable
    # simulate a replay: re-append one batch's rows verbatim
    idx.add(emb.filter("vec_id >= 100 and vec_id < 130"))
    after = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in idx.query(queries, k=10, nprobe=4).collect()
    )
    assert after == before


def test_ivf_empty_queries_and_missing_index_edges(spark, tmp_path):
    """Edge sweep for the IVF index: zero queries -> empty stable-schema
    result; build on an empty corpus raises; add of an empty batch is a
    no-op for results."""
    from etielle_spark.streaming.incremental_ann import PersistentIVFIndex

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter("vec_id < 80")
    )
    idx = PersistentIVFIndex(spark, str(tmp_path / "ivf"), nlist=4)
    with pytest.raises(ValueError, match="empty corpus"):
        idx.build(emb.filter("vec_id < 0"))
    idx.build(emb)
    out = idx.query(emb.filter("vec_id < 0"), k=5)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0
    before = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in idx.query(emb.filter("vec_id < 2"), k=5, nprobe=4).collect()
    )
    idx.add(emb.filter("vec_id < 0"))  # empty append
    after = sorted(
        (r["query_id"], r["neighbor_id"])
        for r in idx.query(emb.filter("vec_id < 2"), k=5, nprobe=4).collect()
    )
    assert after == before


def test_unimax_all_null_sizes_group_dropped(spark):
    """A group whose sizes are all NULL has no measurable mass: dropped
    from the allocation (not given a NULL row), and its absence must not
    distort the remaining groups' split."""
    df = spark.createDataFrame(
        [("a", 10), ("ghost", None), ("b", 30)], "lang string, n long"
    )
    out = {
        r["group"]: r["alloc_budget"]
        for r in unimax_mixture(
            df, "lang", size_col="n", budget=20.0, max_epochs=1.0
        ).collect()
    }
    assert set(out) == {"a", "b"}
    assert out["a"] == pytest.approx(10.0)  # capped at 1 epoch
    assert out["b"] == pytest.approx(10.0)  # the rest of the budget


def test_ivf_query_guards(spark, tmp_path):
    from etielle_spark.streaming.incremental_ann import PersistentIVFIndex

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter("vec_id < 40")
    )
    idx = PersistentIVFIndex(spark, str(tmp_path / "ivf"), nlist=2)
    idx.build(emb)
    with pytest.raises(ValueError, match="nprobe"):
        idx.query(emb.limit(1), nprobe=0)
    with pytest.raises(ValueError, match="k must"):
        idx.query(emb.limit(1), k=0)
