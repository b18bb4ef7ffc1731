"""Tests for the training-data pipeline operators on the driver's
documents/embeddings tables (sf0.001)."""

import math

import pytest
from pyspark.sql import functions as F

from etielle_spark.operators import (
    brute_force_topk,
    cosine_pairs,
    doc_fingerprint,
    exact_dedup_by_content,
    jaccard_pairs,
    lang_id,
    lsh_bucket_topk,
    lsh_candidate_pairs,
    minhash_signatures,
    quality_score,
    shingle_df,
    simhash,
    token_stats,
)
from etielle_spark.operators.multimodal import attach_payload, extract_features

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").limit(60).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").limit(100).cache()


def test_exact_dedup_by_content(spark, docs):
    dups = docs.union(docs.limit(5))  # inject 5 exact duplicates
    out = exact_dedup_by_content(dups, "doc_id", "text")
    assert out.count() == docs.count()
    assert out.filter(F.col("dup_count") == 2).count() == 5


def test_minhash_signature_shape(spark, docs):
    sig = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    rows = sig.collect()
    assert len(rows) == docs.count()
    assert all(len(r["signature"]) == 8 for r in rows)
    # identical docs get identical signatures
    two = docs.limit(1)
    both = two.union(two.withColumn("doc_id", F.col("doc_id") + 100000))
    sigs = minhash_signatures(both, "doc_id", "text", num_hashes=8).collect()
    assert sigs[0]["signature"] == sigs[1]["signature"]


def test_lsh_finds_exact_duplicates(spark, docs):
    clone = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.union(clone)
    pairs = lsh_candidate_pairs(both, "doc_id", "text").collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for r in clone.collect():
        assert (r["doc_id"] - 100000, r["doc_id"]) in found


def test_jaccard_exact_values(spark):
    data = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),  # identical -> jaccard 1.0
            (3, "a b c x y"),  # shares shingle 'a b c' with 1: 1 of 5 -> 0.2
            (4, "zz yy xx"),
        ],
        "id long, text string",
    )
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(data, "id", "text").collect()}
    assert out[(1, 2)] == 1.0
    assert abs(out[(1, 3)] - (1 / 5)) < 1e-9
    assert (1, 4) not in out


def test_simhash_properties(spark, docs):
    out = simhash(docs, "doc_id", "text", bits=32).collect()
    assert all(len(r["simhash"]) == 32 for r in out)
    assert all(set(r["simhash"]) <= {"0", "1"} for r in out)
    # identical docs -> identical simhash
    base = docs.limit(1)
    both = base.union(base.withColumn("doc_id", F.col("doc_id") + 7777))
    hs = simhash(both, "doc_id", "text", bits=32).collect()
    assert hs[0]["simhash"] == hs[1]["simhash"]


def _py_simhash(text, bits):
    """Independent reference: per whitespace token, the first bits/4 hex
    chars of md5 as a bit string; each position sums +1/-1 over the
    tokens, and a positive sum is a '1'."""
    import hashlib

    sums = [0] * bits
    for tok in text.strip().lower().split():
        h = hashlib.md5(tok.encode()).hexdigest()[: bits // 4]
        for b, ch in enumerate(format(int(h, 16), f"0{bits}b")):
            sums[b] += 1 if ch == "1" else -1
    return "".join("1" if s > 0 else "0" for s in sums)


def test_simhash_matches_python_md5_sign_sum(spark, docs):
    texts = [
        (1, "the quick brown fox"),
        (2, "The Quick  brown fox jumps"),
        (3, "spam spam spam eggs"),
        (4, "one"),
        (5, "a b"),
    ]
    # real documents too, where both tokenizers agree: ASCII text whose
    # only whitespace is the plain space (Spark's trim strips only that)
    texts += [
        (10 + r["doc_id"], r["text"])
        for r in docs.limit(20).collect()
        if r["text"]
        and r["text"].isascii()
        and not any(c.isspace() and c != " " for c in r["text"])
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text", bits=32).collect()}
    assert got == {i: _py_simhash(t, 32) for i, t in texts}


def test_brute_force_topk_matches_python(spark, emb):
    queries = emb.limit(3)
    out = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    data = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    for q in by_q:
        got = [(r["neighbor_id"], r["rank"]) for r in sorted(by_q[q], key=lambda r: r["rank"])]
        scored = sorted(
            ((cos(data[q], v), -i) for i, v in data.items() if i != q), reverse=True
        )
        expect = [(-s[1], rank + 1) for rank, s in enumerate(scored[:5])]
        assert [g[0] for g in got] == [e[0] for e in expect]
        assert len(got) == 5


def test_lsh_bucket_topk_runs(spark, emb):
    queries = emb.limit(2)
    out = lsh_bucket_topk(emb, queries, "vec_id", "embedding", k=3, planes=4).collect()
    # approximate: each query returns <= 3 neighbors from its bucket
    assert all(r["rank"] <= 3 for r in out)


def test_cosine_pairs_threshold(spark, emb):
    sub = emb.limit(20)
    out = cosine_pairs(sub, "vec_id", "embedding", threshold=-1.0)
    assert out.count() == 20 * 19 / 2


def test_token_stats_and_quality(spark, docs):
    ts = token_stats(docs, "doc_id", "text").collect()
    assert all(r["n_tokens"] > 0 for r in ts)
    assert all(r["n_distinct_tokens"] <= r["n_tokens"] for r in ts)
    qs = quality_score(docs, "doc_id", "text").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in qs)
    assert all(0.0 <= r["stopword_ratio"] <= 1.0 for r in qs)


def test_lang_id_deterministic(spark):
    data = spark.createDataFrame(
        [
            (1, "the cat and the dog sat with it for fun"),
            (2, "der hund und die katze ist nicht mit zu"),
            (3, "le chat et la maison est pas pour que"),
            (4, "xyzzy qwerty zzz"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(data, "doc_id", "text").collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"


def test_doc_fingerprint_normalization(spark):
    data = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(data, "doc_id", "text").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_multimodal_plumbing(spark, docs):
    with_payload = attach_payload(docs, "text", mime="text/plain")
    feats = extract_features(with_payload, "doc_id", feat_dim=8).collect()
    assert len(feats) == docs.count()
    assert all(len(r["feat"]) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["feat"])
    # byte_len matches utf-8 length of text
    truth = {r["doc_id"]: len(r["text"].encode()) for r in docs.collect()}
    assert all(truth[r["id"]] == r["byte_len"] for r in feats)


def test_multimodal_stub_raises_without_codecs(spark, docs):
    with_payload = attach_payload(docs.limit(2), "text")
    with pytest.raises(Exception):
        extract_features(with_payload, "doc_id", decode_stub=False).collect()


def test_lsh_multiprobe_improves_recall(spark, emb):
    """Multi-probe LSH searches Hamming-1 neighbor buckets; recall vs the
    exact top-k must be at least as high as single-probe."""
    queries = emb.limit(5)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

    def recall(probes):
        approx = lsh_bucket_topk(
            emb, queries, "vec_id", "embedding", k=5, planes=6, probes=probes
        )
        got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        return len(got & truth) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1
    assert r2 > 0


def test_asof_join_tolerance_and_ties(spark):
    from etielle_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:05:00"), (2, "2024-01-01 09:00:00")],
        "k long, lts string",
    ).withColumn("lts", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:59:00", "a"),
            (1, "2024-01-01 10:00:00", "b"),  # exact tie matches (<=)
            (2, "2024-01-01 10:00:00", "c"),  # after the left row: no match
        ],
        "k long, rts string, val string",
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    out = asof_join(left, right, on="k", left_ts="lts", right_ts="rts", right_cols=["val"])
    got = {(r["k"], str(r["lts"])): r["val"] for r in out.collect()}
    assert got[(1, "2024-01-01 10:00:00")] == "b"
    assert got[(1, "2024-01-01 10:05:00")] == "b"
    assert got[(2, "2024-01-01 09:00:00")] is None

    tol = asof_join(
        left, right, on="k", left_ts="lts", right_ts="rts",
        right_cols=["val"], tolerance_seconds=60,
    )
    got_tol = {(r["k"], str(r["lts"])): r["val"] for r in tol.collect()}
    assert got_tol[(1, "2024-01-01 10:05:00")] is None  # 5 min > tolerance
    assert got_tol[(1, "2024-01-01 10:00:00")] == "b"


def test_multimodal_resize_and_frames(spark, docs):
    from etielle_spark.operators.multimodal import resize_images, sample_frames

    wp = attach_payload(docs.limit(5), "text")
    resized = resize_images(wp, "doc_id", width=64, height=64).collect()
    assert len(resized) == 5
    assert all(r["width"] == 64 and len(r["resized"]) == 64 * 64 // 8 for r in resized)

    frames = sample_frames(wp, "doc_id", n_frames=3).collect()
    assert len(frames) == 15
    assert {r["frame_idx"] for r in frames} == {0, 1, 2}
    # deterministic per payload+index
    one = [r for r in frames if r["frame_idx"] == 0][0]
    again = [r for r in sample_frames(wp, "doc_id", n_frames=3).collect() if r["frame_idx"] == 0][0]
    assert one["frame_digest"] == again["frame_digest"]


def test_dedup_clusters_components(spark):
    """Min-label propagation finds connected components: chain, pair,
    and a diamond all collapse to their minimum id."""
    from etielle_spark.operators.clusters import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_stratified_sample_exact_counts_and_determinism(spark):
    from etielle_spark.operators.clusters import stratified_sample_exact
    from pyspark.sql import functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").withColumn(
        "__sk", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    s1 = stratified_sample_exact(li, ["l_returnflag"], 5, order_key="__sk")
    counts = {r["l_returnflag"]: r["n"] for r in s1.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()}
    assert set(counts.values()) == {5}
    # deterministic: same rows on a second evaluation
    s2 = stratified_sample_exact(li, ["l_returnflag"], 5, order_key="__sk")
    assert {tuple(r) for r in s1.select("__sk").collect()} == {
        tuple(r) for r in s2.select("__sk").collect()
    }


def test_ivf_topk_recall_and_custom_centroids(spark, emb):
    from etielle_spark.operators.similarity import brute_force_topk, ivf_topk

    queries = emb.filter("vec_id < 3")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(emb, queries, "vec_id", "embedding", k=5).collect()
    }
    approx = ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, nlist=4, nprobe=4
    ).collect()
    # nprobe == nlist searches every cell -> exact agreement with brute force
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in approx}
    assert got == exact

    # custom (pre-trained) centroids are accepted and restrict the search
    rows = emb.limit(2).collect()
    cents = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(rows)]
    out = ivf_topk(
        emb, queries, "vec_id", "embedding", k=3, nprobe=1, centroids=cents
    ).collect()
    assert all(r["rank"] <= 3 for r in out)


def test_ivf_topk_empty_corpus_raises(spark, emb):
    from etielle_spark.operators.similarity import ivf_topk

    import pytest as _pytest

    with _pytest.raises(ValueError, match="centroids"):
        ivf_topk(emb.filter("vec_id < 0"), emb.limit(1), "vec_id", "embedding")


def test_repetition_signals_handcomputed(spark):
    from etielle_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [
            # 4 lines, "ab" repeated 3x (2 excess dups, 2 chars each);
            # tokens: ab ab ab cd -> top 2-gram "ab ab" x2 (5*2=10 chars);
            # 3-grams: "ab ab ab", "ab ab cd" -> no dup 3-gram
            (1, "ab\nab\nab\ncd"),
            # no repetition at all
            (2, "x y z"),
            # empty text
            (3, ""),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(docs, "doc_id", "text").collect()}

    r1 = out[1]
    assert r1["dup_line_frac"] == 0.5          # 2 excess / 4 lines
    assert r1["dup_line_char_frac"] == 0.5     # 4 excess chars / 8 line chars
    assert r1["top_ngram_char_frac"] == round(10 / 11, 6)
    assert r1["dup_ngram_char_frac"] == 0.0

    r2 = out[2]
    assert r2["dup_line_frac"] == 0.0
    assert r2["top_ngram_char_frac"] == round(3 / 5, 6)
    assert r2["dup_ngram_char_frac"] == 0.0

    r3 = out[3]
    assert r3["dup_line_frac"] == 0.0          # one empty line, no dups
    assert r3["top_ngram_char_frac"] is None   # zero chars
    assert r3["dup_ngram_char_frac"] is None


def test_ngram_contamination_handbuilt(spark):
    from etielle_spark.operators.decontam import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),   # shares 3-gram with eval
            (2, "totally unrelated words here"),
            (3, "fox"),                          # short doc, full-text gram, no match
            (4, "quick brown fox"),              # short-doc fallback == eval 3-gram
        ],
        "doc_id int, text string",
    )
    ev = spark.createDataFrame(
        [(10, "a quick brown fox ran")], "doc_id int, text string"
    )
    out = ngram_contamination(corpus, ev, "doc_id", "text", n=3)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 1: grams {the quick brown, quick brown fox, brown fox jumps};
    # eval grams {a quick brown, quick brown fox, brown fox ran} -> 1 hit
    assert rows[1]["n_hits"] == 1 and rows[1]["n_grams"] == 3
    assert rows[1]["contam_frac"] == round(1 / 3, 6)
    # doc 4 is shorter than n: its single full-text gram matches an eval gram
    assert rows[4]["n_hits"] == 1 and rows[4]["n_grams"] == 1
    assert 2 not in rows and 3 not in rows

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_unigram_nll_handcomputed(spark):
    import math

    from etielle_spark.operators.text import unigram_nll

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "")], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in unigram_nll(docs, "doc_id", "text").collect()}
    # corpus counts: a=3, b=1, c=1, total=5
    pa, pb, pc = 3 / 5, 1 / 5, 1 / 5
    assert out[1]["n_toks"] == 3
    assert out[1]["nll"] == round(-(2 * math.log(pa) + math.log(pb)) / 3, 6)
    assert out[2]["nll"] == round(-(math.log(pa) + math.log(pc)) / 2, 6)
    assert 3 not in out  # empty doc has no tokens to score


def test_tfidf_top_terms_rank_and_ties(spark):
    from etielle_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "x x y z"), (2, "y z"), (3, "z")], "doc_id int, text string"
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"]))
    # doc 1: x has tf=2 and df=1 -> clearly top; y (df=2) beats z (df=3)
    assert sorted(by_doc[1]) == [(1, "x"), (2, "y")]
    # doc 3: only one term
    assert sorted(by_doc[3]) == [(1, "z")]


def test_pack_sequences_greedy_semantics(spark):
    from etielle_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [
            # bucket 0 (ids 0,2,4,6 with num_buckets=2): sizes 3,4,9,2
            (0, "a b c"), (2, "a b c d"), (4, "a b c d e f g h i"), (6, "a b"),
            # bucket 1: an oversized doc alone, then an empty doc
            (1, "a b c d e f g h i j k l"), (3, ""),
        ],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, "doc_id", "text", capacity=8, num_buckets=2)
    rows = sorted(out.collect(), key=lambda r: r["pack_id"])
    got = [(r["pack_id"], r["n_docs"], r["n_tokens"], r["doc_ids"]) for r in rows]
    # bucket 0: [0(3), 2(4)] = 7 fits; 4(9) oversized alone; 6(2) new pack
    # bucket 1: 1(12) oversized alone; 3(0) doesn't fit after cum=12>8
    B = 1_000_000_000
    assert got == [
        (0, 2, 7, [0, 2]),
        (1, 1, 9, [4]),
        (2, 1, 2, [6]),
        (B + 0, 1, 12, [1]),
        (B + 1, 1, 0, [3]),
    ]


def test_pack_sequences_invariants(spark, docs):
    from etielle_spark.operators.packing import pack_sequences
    from pyspark.sql import functions as F

    out = pack_sequences(docs.select("doc_id", "text"), "doc_id", "text", capacity=64, num_buckets=8)
    out = out.persist()
    # every doc appears exactly once across all packs
    n_docs = docs.count()
    exploded = out.select(F.explode("doc_ids").alias("doc_id"))
    assert exploded.count() == n_docs
    assert exploded.distinct().count() == n_docs
    # multi-doc packs never exceed capacity
    assert out.filter((F.col("n_docs") > 1) & (F.col("n_tokens") > 64)).count() == 0
    out.unpersist()


def test_funnel_counts_ordering_semantics(spark):
    from datetime import datetime

    from etielle_spark.operators.events import funnel_counts

    T = datetime
    rows = [
        # user 1 completes A -> B -> C in order
        (1, T(2024, 1, 1, 10, 0, 0), "A"),
        (1, T(2024, 1, 1, 11, 0, 0), "B"),
        (1, T(2024, 1, 1, 12, 0, 0), "C"),
        # user 2 does B before A: reaches A only (no B after its A)
        (2, T(2024, 1, 1, 9, 0, 0), "B"),
        (2, T(2024, 1, 1, 10, 0, 0), "A"),
        # user 3 same-second A and B: strict > means B not counted
        (3, T(2024, 1, 1, 8, 0, 0), "A"),
        (3, T(2024, 1, 1, 8, 0, 0), "B"),
        # user 4 never does A
        (4, T(2024, 1, 1, 7, 0, 0), "C"),
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    out = {r["step"]: r for r in
           funnel_counts(ev, "user_id", "ts", "event_type", ["A", "B", "C"]).collect()}
    assert (out["A"]["n_users"], out["B"]["n_users"], out["C"]["n_users"]) == (3, 1, 1)
    assert [out[s]["step_idx"] for s in ("A", "B", "C")] == [1, 2, 3]


def test_cohort_retention_handbuilt(spark):
    from datetime import date, datetime

    from etielle_spark.operators.events import cohort_retention

    T = datetime
    rows = [
        # user 1: first week of 2024-01-01 (Mon), active again 2 weeks later
        (1, T(2024, 1, 2, 10, 0)), (1, T(2024, 1, 16, 10, 0)),
        # user 2: same cohort, only week 0 (two events, one distinct week)
        (2, T(2024, 1, 3, 10, 0)), (2, T(2024, 1, 4, 10, 0)),
        # user 3: cohort of 2024-01-08, active next week
        (3, T(2024, 1, 10, 10, 0)), (3, T(2024, 1, 15, 10, 0)),
    ]
    ev = spark.createDataFrame(rows, "user_id int, ts timestamp")
    got = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in cohort_retention(ev, "user_id", "ts").collect()}
    assert got == {
        (date(2024, 1, 1), 0): 2,
        (date(2024, 1, 1), 2): 1,
        (date(2024, 1, 8), 0): 1,
        (date(2024, 1, 8), 1): 1,
    }


def test_kmv_distinct_exact_below_k_and_estimate(spark):
    from pyspark.sql import functions as F

    from etielle_spark.operators.sketches import kmv_distinct

    n = 1000
    df = spark.range(n).select(
        (F.col("id") % 2).cast("string").alias("g"), F.col("id").alias("item")
    )
    # small group: fewer distinct items than k -> exact count
    small = spark.createDataFrame(
        [("s", i) for i in range(10)] + [("s", 5)], "g string, item long"
    )
    out = {r["g"]: r["est_distinct"] for r in
           kmv_distinct(df.union(small), ["g"], "item", k=64).collect()}
    assert out["s"] == 10.0
    # estimates for the 500-distinct groups within 30% (k=64)
    for g in ("0", "1"):
        assert abs(out[g] - 500) / 500 < 0.3, out[g]


def test_cms_never_underestimates(spark):
    from pyspark.sql import functions as F

    from etielle_spark.operators.sketches import cms_heavy_hitters

    # skewed stream: item "hot" x 500, 200 singletons
    hot = spark.range(500).select(F.lit("hot").alias("item"))
    cold = spark.range(200).select(F.concat(F.lit("c"), F.col("id")).alias("item"))
    df = hot.union(cold)
    out = cms_heavy_hitters(df, "item", depth=4, width=64, k=5).collect()
    assert out[0]["item"] == "hot"
    assert out[0]["est_count"] >= 500  # CMS overestimates, never under
    # every estimate bounds its true count from above
    for r in out[1:]:
        assert r["est_count"] >= 1


def test_cms_cells_preagg_equals_per_occurrence(spark):
    """cms_cells pre-aggregates occurrences to per-item counts before the
    depth-way bucket explode (round 10); the sketch must equal the
    per-occurrence definition CELL FOR CELL on a heavily duplicated
    frame — sum(per-item count) per (group, j, b) == count(occurrences)."""
    from pyspark.sql import functions as F

    from etielle_spark.operators.sketches import _cms_cells_of, cms_cells

    # 3 groups x duplicated items (item i repeated i+1 times per group)
    occ = (
        spark.range(60)
        .select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.explode(
                F.array_repeat(
                    F.concat(F.lit("tok"), (F.col("id") % 7)),
                    (F.col("id") % 5 + 1).cast("int"),
                )
            ).alias("__item"),
        )
    )
    fast = cms_cells(occ, ["g"], depth=4, width=16)
    # the pre-round-10 definition: explode per OCCURRENCE, count rows
    slow = (
        _cms_cells_of(occ, ["g"], 4, 16)
        .select("g", "c.j", "c.b")
        .groupBy("g", "j", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0
    # bounded: at most |groups| * depth * width rows
    assert fast.count() <= 3 * 4 * 16


def test_kmeans_iteration_converges_and_partitions(spark, emb):
    from etielle_spark.operators.similarity import kmeans_iteration

    corpus = emb.select("vec_id", "embedding")
    n = corpus.count()
    step1 = kmeans_iteration(corpus, "vec_id", "embedding", nlist=8)
    rows = step1.collect()
    # every vector lands in exactly one cell
    assert sum(r["n_members"] for r in rows) == n
    assert len(rows) <= 8 and rows
    dim = len(rows[0]["centroid"])
    assert all(len(r["centroid"]) == dim for r in rows)

    # feeding the output back in (an actual training loop step) works and
    # keeps the same invariants
    cents = [(r["cell"], list(r["centroid"])) for r in rows]
    step2 = kmeans_iteration(
        corpus, "vec_id", "embedding", centroids=cents
    ).collect()
    assert sum(r["n_members"] for r in step2) == n


def test_quality_filter_verdict_precedence(spark):
    from etielle_spark.operators.text import quality_filter_verdict

    docs = spark.createDataFrame(
        [
            (1, "w " * 30),            # 30 tokens of pure repetition: the
                                        # length gate passes, repetition fails
            (2, "a b c"),               # too short -> first gate wins
            (3, " ".join(f"t{i}" for i in range(30))),  # 30 distinct tokens
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in
           quality_filter_verdict(docs, "doc_id", "text").collect()}
    assert out[2]["reason"] == "too_short" and not out[2]["keep"]
    assert out[1]["reason"] == "repetitive"
    # doc 3's tokens are all corpus-rare (high NLL under the tiny corpus)
    assert out[3]["reason"] in ("ok", "high_nll")


def test_scd2_intervals_runs_and_open_interval(spark):
    from datetime import datetime

    from etielle_spark.operators.events import scd2_intervals

    T = datetime
    ev = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0, 0), "free"),
            (1, T(2024, 1, 2, 10, 0, 0), "free"),   # same value: run extends
            (1, T(2024, 1, 3, 10, 0, 0), "pro"),    # change -> new version
            (1, T(2024, 1, 4, 10, 0, 0), "free"),   # back -> third version
            (2, T(2024, 1, 1, 9, 0, 0), "pro"),
        ],
        "user_id int, ts timestamp, event_type string",
    )
    rows = scd2_intervals(ev, "user_id", "ts", "event_type").collect()
    u1 = sorted([r for r in rows if r["user_id"] == 1], key=lambda r: r["version"])
    assert [(r["version"], r["value"]) for r in u1] == [
        (1, "free"), (2, "pro"), (3, "free")
    ]
    assert u1[0]["valid_from"] == T(2024, 1, 1, 10, 0, 0)
    assert u1[0]["valid_to"] == T(2024, 1, 3, 10, 0, 0)   # closed by the change
    assert u1[2]["valid_to"] is None                       # current/open
    u2 = [r for r in rows if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["valid_to"] is None


def test_sessionize_gap_split_and_determinism(spark):
    from datetime import datetime

    from etielle_spark.operators.events import sessionize

    T = datetime
    ev = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0, 0), 100),
            (1, T(2024, 1, 1, 10, 10, 0), 101),   # 600s gap: same session
            (1, T(2024, 1, 1, 11, 0, 1), 102),    # 3001s gap: new session
            (1, T(2024, 1, 1, 11, 0, 1), 103),    # tie ts: same session
            (2, T(2024, 1, 1, 9, 0, 0), 104),
        ],
        "user_id int, ts timestamp, event_id int",
    )
    out = sessionize(
        ev, "user_id", "ts", gap_seconds=1800, tiebreak_col="event_id"
    ).collect()
    u1 = sorted(
        [r for r in out if r["user_id"] == 1], key=lambda r: r["session_id"]
    )
    assert [(r["session_id"], r["n_events"], r["duration_s"]) for r in u1] == [
        (1, 2, 600),
        (2, 2, 0),
    ]
    assert u1[0]["session_start"].minute == 0 and u1[0]["session_end"].minute == 10
    assert [r["n_events"] for r in out if r["user_id"] == 2] == [1]


def test_rolling_window_agg_range_frame(spark):
    from datetime import datetime

    from etielle_spark.operators.events import rolling_window_agg

    T = datetime
    ev = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0, 0), 1.0),
            (1, T(2024, 1, 1, 10, 30, 0), 2.0),
            (1, T(2024, 1, 1, 11, 0, 0), 4.0),   # exactly 3600s after first: in frame
            (1, T(2024, 1, 1, 11, 30, 1), 8.0),  # first two rolled out
            (1, T(2024, 1, 1, 11, 30, 1), 16.0), # peer: both see both
        ],
        "user_id int, ts timestamp, value double",
    )
    out = rolling_window_agg(ev, "user_id", "ts", "value", window_seconds=3600)
    got = {(r["ts"], r["value"]): (r["trailing_n"], r["trailing_sum"]) for r in out.collect()}
    assert got[(T(2024, 1, 1, 11, 0, 0), 4.0)] == (3, 7.0)
    assert got[(T(2024, 1, 1, 11, 30, 1), 8.0)] == (3, 28.0)
    assert got[(T(2024, 1, 1, 11, 30, 1), 16.0)] == (3, 28.0)


def test_pii_redact_order_and_counts(spark):
    from etielle_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@mail.example.com and 10.0.0.255 then +1-555-0123-456"),
            (2, "no pii here at all"),
            (3, "two ips 1.2.3.4 5.6.7.8 one mail a@b.co"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df, "doc_id", "text").collect()}
    assert out[1]["redacted"] == "mail <EMAIL> and <IP> then <PHONE>"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[2]["redacted"] == "no pii here at all"
    assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_phone"]) == (1, 2, 0)
    # the email's dotted host must NOT also count as an IP
    assert "<EMAIL>" in out[3]["redacted"] and out[3]["redacted"].count("<IP>") == 2


def test_chunk_tokens_cover_and_overlap(spark):
    from etielle_spark.operators.text import chunk_tokens

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "")],
        "doc_id int, text string",
    )
    out = chunk_tokens(df, "doc_id", "text", chunk_size=4, stride=3).collect()
    d1 = sorted([r for r in out if r["doc_id"] == 1], key=lambda r: r["chunk_idx"])
    # n=10, C=4, S=3 -> starts 0,3,6 ... ceil((10-4)/3)+1 = 3 chunks
    assert [(r["start_token"], r["n_tokens"]) for r in d1] == [(0, 4), (3, 4), (6, 4)]
    assert d1[0]["chunk_text"] == "w0 w1 w2 w3"
    assert d1[2]["chunk_text"] == "w6 w7 w8 w9"
    # every token covered; consecutive chunks overlap by C-S = 1
    assert d1[1]["chunk_text"].split()[0] == d1[0]["chunk_text"].split()[-1]
    d2 = [r for r in out if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_text"] == "a b c" and d2[0]["n_tokens"] == 3
    assert [r for r in out if r["doc_id"] == 3] == []


def test_token_entropy_extremes(spark):
    from etielle_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "x x x x"), (2, "a b c d")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in token_entropy(df, "doc_id", "text").collect()}
    assert out[1]["entropy"] == 0.0                       # all same token
    assert abs(out[2]["entropy"] - math.log(4)) < 1e-6    # uniform over 4
    assert out[1]["n_tokens"] == 4


def test_inverted_index_postings(spark):
    from etielle_spark.operators.search import inverted_index

    df = spark.createDataFrame(
        [(10, "spark join spark"), (20, "join scan"), (30, "spark")],
        "doc_id int, text string",
    )
    out = {r["term"]: r for r in inverted_index(df, "doc_id", "text").collect()}
    assert (out["spark"]["df"], out["spark"]["tf_total"]) == (2, 3)
    assert out["spark"]["postings"] == "10,30"
    assert (out["join"]["df"], out["join"]["tf_total"]) == (2, 2)
    assert out["scan"]["postings"] == "20"
    only2 = inverted_index(df, "doc_id", "text", min_df=2).collect()
    assert sorted(r["term"] for r in only2) == ["join", "spark"]


def test_bm25_topk_ranking(spark):
    from etielle_spark.operators.search import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler filler"),
            (2, "spark filler filler filler filler filler"),
            (3, "filler filler filler filler filler filler"),
            (4, "spark spark window filler filler filler"),
        ],
        "doc_id int, text string",
    )
    rows = bm25_topk(df, "doc_id", "text", ["spark", "window"], k=3).collect()
    # doc 4 matches both terms (window is rare -> high idf); doc 3 matches none
    assert [r["doc_id"] for r in rows][0] == 4
    assert 3 not in {r["doc_id"] for r in rows}
    assert all(rows[i]["score"] >= rows[i + 1]["score"] for i in range(len(rows) - 1))


def test_apply_cdc_merge_semantics(spark):
    from etielle_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, name string, amt double",
    )
    changes = spark.createDataFrame(
        [
            (1, 1, "U", "a1", 11.0),
            (1, 2, "U", "a2", 12.0),   # later seq wins
            (2, 1, "D", None, None),   # delete
            (4, 1, "I", "d", 40.0),    # insert new key
            (5, 1, "U", "e", 50.0),    # update-for-missing -> upsert
            (3, 7, "U", "zzz", 99.0),
            (3, 7, "D", None, None),   # seq tie: delete wins
        ],
        "k int, seq int, op string, name string, amt double",
    )
    out = {
        r["k"]: (r["name"], r["amt"])
        for r in apply_cdc(
            base, changes, ["k"], "seq", "op", ["name", "amt"]
        ).collect()
    }
    assert out == {1: ("a2", 12.0), 4: ("d", 40.0), 5: ("e", 50.0)}


def test_weighted_sample_determinism_and_bias(spark):
    from etielle_spark.operators.clusters import weighted_sample

    rows = [(i, "s" if i < 50 else "t", 1000.0 if i % 10 == 0 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id int, grp string, w double")
    a = weighted_sample(df, "id", "w", n=5, stratify_col="grp").collect()
    b = weighted_sample(df, "id", "w", n=5, stratify_col="grp").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert len([r for r in a if r["grp"] == "s"]) == 5
    assert len([r for r in a if r["grp"] == "t"]) == 5
    # heavy weights (w=1000, 10% of rows) should dominate the sample
    heavy = [r for r in a if r["id"] % 10 == 0]
    assert len(heavy) >= 6
    # zero/negative/null weights excluded entirely
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, None), (4, 5.0)], "id int, w double"
    )
    only = weighted_sample(df2, "id", "w", n=10).collect()
    assert [r["id"] for r in only] == [4]


def test_ema_recurrence(spark):
    from datetime import datetime

    from etielle_spark.operators.events import ema

    T = datetime
    ev = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 10, 0, 0), 10.0, 1),
            (1, T(2024, 1, 1, 11, 0, 0), 20.0, 2),
            (1, T(2024, 1, 1, 12, 0, 0), 30.0, 3),
            (2, T(2024, 1, 1, 10, 0, 0), 5.0, 4),
        ],
        "user_id int, ts timestamp, value double, event_id int",
    )
    out = ema(ev, "user_id", "ts", "value", alpha=0.2, tiebreak_col="event_id")
    got = {(r["user_id"], r["ts"]): r["ema"] for r in out.collect()}
    assert got[(1, T(2024, 1, 1, 10, 0, 0))] == 10.0
    assert abs(got[(1, T(2024, 1, 1, 11, 0, 0))] - (0.8 * 10 + 0.2 * 20)) < 1e-9
    e2 = 0.8 * 10 + 0.2 * 20
    assert abs(got[(1, T(2024, 1, 1, 12, 0, 0))] - round(0.8 * e2 + 0.2 * 30, 6)) < 1e-9
    assert got[(2, T(2024, 1, 1, 10, 0, 0))] == 5.0


def test_pagerank_star_graph(spark):
    from etielle_spark.operators.graph import pagerank

    # undirected star: hub 0 connected to 1..4 (both edge directions)
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    df = spark.createDataFrame(edges, "src int, dst int")
    out = {r["node"]: r["rank"] for r in pagerank(df, "src", "dst", iterations=2).collect()}
    assert len(out) == 5
    # hub must outrank every leaf; leaves symmetric
    assert all(out[0] > out[i] for i in range(1, 5))
    assert len({out[i] for i in range(1, 5)}) == 1
    # normalized: mean rank == 1
    assert abs(sum(out.values()) / 5 - 1.0) < 1e-9


def test_minhash_jaccard_estimate(spark, docs):
    from etielle_spark.operators.dedup import minhash_jaccard_estimate

    clones = docs.limit(4).withColumn("doc_id", F.col("doc_id") + 100000)
    all_docs = docs.union(clones)
    out = minhash_jaccard_estimate(
        all_docs, "doc_id", "text", num_hashes=8, bands=4
    ).collect()
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out}
    # exact clones agree on every hash -> estimate 1.0
    for r in docs.limit(4).collect():
        assert est[(r["doc_id"], r["doc_id"] + 100000)] == 1.0
    # every estimate is a multiple of 1/8
    assert all(abs(v * 8 - round(v * 8)) < 1e-9 for v in est.values())
    # threshold filter keeps only high-agreement pairs
    hi = minhash_jaccard_estimate(
        all_docs, "doc_id", "text", num_hashes=8, bands=4, min_est=0.9
    ).collect()
    assert all(r["est_jaccard"] >= 0.9 for r in hi)


def test_bigram_nll_repetition_signal(spark):
    from etielle_spark.operators.text import bigram_nll

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),           # 'a' almost always followed by 'b'
            (2, "a c a d a e"),           # 'a' followed by rare continuations
            (3, "x"),                     # too short: absent
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in bigram_nll(df, "doc_id", "text").collect()}
    assert 3 not in out
    assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 5
    # predictable continuations -> lower NLL than rare ones
    assert out[1]["nll"] < out[2]["nll"]
    # exact: ctx(a)=6 corpus-wide; doc1 = 3*(-ln(3/6))/5, 'b a' is certain
    assert abs(out[1]["nll"] - round(3 * math.log(2) / 5, 6)) < 1e-6


def test_bpe_pretokenize_stats(spark):
    from etielle_spark.operators.text import bpe_pretokenize_stats

    df = spark.createDataFrame(
        [(1, "hello world42 !!"), (2, "aa aa aa")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in bpe_pretokenize_stats(df, "doc_id", "text").collect()}
    # 'hello', ' world', '42', ' !!' -> 4 spans
    assert out[1]["n_pretokens"] == 4
    assert out[2]["n_pretokens"] == 3          # 'aa', ' aa', ' aa'
    assert out[2]["n_distinct_pretokens"] == 2  # 'aa' and ' aa'


def test_zscore_normalize(spark):
    from etielle_spark.operators.similarity import zscore_normalize

    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [3.0, 5.0]), (3, [5.0, 5.0])],
        "vec_id int, embedding array<float>",
    )
    out = zscore_normalize(df, "vec_id", "embedding").collect()
    d0 = {r["vec_id"]: r["zscore"] for r in out if r["dim"] == 0}
    # dim 0: mean 3, population std sqrt(8/3)
    import math as m
    s = m.sqrt(8.0 / 3.0)
    assert abs(d0[1] - round(-2 / s, 6)) < 1e-6
    assert abs(d0[2] - 0.0) < 1e-9
    assert abs(d0[3] - round(2 / s, 6)) < 1e-6
    # constant dimension -> all zeros, not NaN/inf
    d1 = [r["zscore"] for r in out if r["dim"] == 1]
    assert d1 == [0.0, 0.0, 0.0]


def test_profile_table(spark):
    from datetime import datetime

    from etielle_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "x", 1.5, datetime(2024, 1, 1)),
            (2, None, 2.5, datetime(2024, 6, 1)),
            (2, "y", None, None),
        ],
        "k int, s string, v double, t timestamp",
    )
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert set(out) == {"k", "s", "v", "t"}
    k = out["k"]
    assert (k["n_rows"], k["n_null"], k["n_distinct"]) == (3, 0, 2)
    assert (k["min_num"], k["max_num"]) == (1.0, 2.0)
    s = out["s"]
    assert (s["n_null"], s["n_distinct"], s["min_str"], s["max_str"]) == (1, 2, "x", "y")
    assert s["min_num"] is None
    v = out["v"]
    assert (v["n_null"], v["min_num"], v["max_num"]) == (1, 1.5, 2.5)
    t = out["t"]
    assert t["n_null"] == 1 and t["min_num"] == 1704067200.0


def test_html_to_text_strips_blocks_entities_whitespace(spark):
    from etielle_spark.operators.web import html_to_text

    df = spark.createDataFrame(
        [
            (1, "<html><body><h1>A &amp; B</h1><p>hi  there</p>"
                "<script>var x = 1 < 2;</script></body></html>"),
            (2, "<style>p {color: red}</style>plain &lt;text&gt;&nbsp;here"),
            (3, "no markup at all"),
            (4, "<p>multi</p>\n\n<p>line</p>"),
        ],
        ["id", "html"],
    )
    out = {r["id"]: r["text"] for r in html_to_text(df, "id", "html").collect()}
    assert out[1] == "A & B hi there"
    assert out[2] == "plain <text> here"
    assert out[3] == "no markup at all"
    assert out[4] == "multi line"


def test_charset_profile_fractions(spark):
    from etielle_spark.operators.web import charset_profile

    df = spark.createDataFrame(
        [(1, "ab12"), (2, "привет"), (3, "中文"), (4, ""), (5, "a б 中 ؟!")],
        ["id", "t"],
    )
    rows = {r["id"]: r for r in charset_profile(df, "id", "t").collect()}
    assert rows[1]["latin_frac"] == 0.5 and rows[1]["digit_frac"] == 0.5
    assert rows[2]["cyrillic_frac"] == 1.0
    assert rows[3]["cjk_frac"] == 1.0
    assert rows[4]["n_chars"] == 0 and rows[4]["other_frac"] == 0.0
    r5 = rows[5]
    assert r5["n_chars"] == 8
    assert r5["latin_frac"] == round(1 / 8, 6)
    assert r5["space_frac"] == round(3 / 8, 6)
    # '؟' is U+061F (arabic); '!' falls into other
    assert r5["arabic_frac"] == round(1 / 8, 6)
    assert r5["other_frac"] == round(1 / 8, 6)
    # fractions partition the document: they sum to 1
    total = sum(
        r5[c] for c in r5.asDict() if c.endswith("_frac")
    )
    assert abs(total - 1.0) < 1e-5


def test_url_parts_and_domain_cap(spark):
    from etielle_spark.operators.web import cap_per_domain, url_parts

    df = spark.createDataFrame(
        [
            (1, "https://www.a.example.org/x/y?q=1#frag"),
            (2, "http://b.net"),
            (3, "not a url"),
        ],
        ["id", "url"],
    )
    parts = {r["id"]: r for r in url_parts(df, "id", "url").collect()}
    assert parts[1]["scheme"] == "https"
    assert parts[1]["host"] == "www.a.example.org"
    assert parts[1]["registered_domain"] == "example.org"
    assert parts[1]["path"] == "/x/y"
    assert parts[2]["host"] == "b.net" and parts[2]["path"] == ""
    assert parts[3]["scheme"] == "" and parts[3]["host"] == ""

    many = spark.range(100).select(
        F.col("id"),
        F.concat(
            F.lit("https://www.dom"),
            (F.col("id") % 3).cast("string"),
            F.lit(".com/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
    )
    kept = cap_per_domain(many, "id", "url", cap=10)
    counts = {
        r["registered_domain"]: r["n"]
        for r in kept.groupBy("registered_domain").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"dom0.com", "dom1.com", "dom2.com"}
    assert all(v == 10 for v in counts.values())
    # deterministic: same survivors on recompute
    a = {r["id"] for r in kept.collect()}
    b = {r["id"] for r in cap_per_domain(many, "id", "url", cap=10).collect()}
    assert a == b


def test_semdedup_drops_clones_keeps_originals(spark, emb):
    from etielle_spark.operators.similarity import semdedup

    clones = emb.limit(10).withColumn("vec_id", F.col("vec_id") + 5000)
    both = emb.select("vec_id", "embedding").union(
        clones.select("vec_id", "embedding")
    )
    out = semdedup(both, "vec_id", "embedding", threshold=0.999, nlist=8)
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == both.count()
    # every clone dropped, pointing at its (smaller-id) original
    for r in out.filter(F.col("id") >= 5000).collect():
        assert r["dropped"] and r["dup_of"] == r["id"] - 5000
    # originals survive (no smaller same-cluster id within threshold)
    assert not any(r["dropped"] for i, r in rows.items() if i < 5000)


def test_gram_duplication_stats(spark):
    from etielle_spark.operators.dedup import gram_duplication_stats

    base = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words entirely here now"),
         (4, "")],
        ["id", "text"],
    )
    out = {r["id"]: r for r in
           gram_duplication_stats(df, "id", "text", n=8, drop_threshold=0.8).collect()}
    # docs 1/2 share all their 8-grams -> dropped
    assert out[1]["shared_frac"] == 1.0 and out[1]["drop"]
    assert out[2]["drop"]
    # doc 3 short (<8 tokens -> whole-doc gram), unique -> kept
    assert out[3]["n_grams"] == 1 and out[3]["n_shared_grams"] == 0
    assert not out[3]["drop"]
    # empty doc: zero grams, NULL frac, kept
    assert out[4]["n_grams"] == 0 and out[4]["shared_frac"] is None
    assert not out[4]["drop"]


def test_gram_duplication_stats_max_df_stoplist(spark):
    from etielle_spark.operators.dedup import gram_duplication_stats

    # 6 docs all carrying the same boilerplate 8-gram; docs 1/2 additionally
    # share a distinctive 8-gram; docs 3-6 are otherwise unique.
    boiler = "click here to accept our cookie policy terms"
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, boiler + " " + shared),
        (2, boiler + " " + shared),
    ] + [
        (i, boiler + f" unique{i} words only for document number {i} ok")
        for i in range(3, 7)
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    # With max_df=5 the boilerplate gram (df=6) leaves numerator AND
    # denominator; the distinctive shared gram (df=2) still counts.
    out = {
        r["id"]: r
        for r in gram_duplication_stats(
            df, "id", "text", n=8, drop_threshold=0.5, max_df=5
        ).collect()
    }
    full = {
        r["id"]: r
        for r in gram_duplication_stats(
            df, "id", "text", n=8, drop_threshold=0.5
        ).collect()
    }
    for i in rows:
        doc = i[0]
        # denominator shrinks by the stop-listed grams
        assert out[doc]["n_grams"] < full[doc]["n_grams"]
    # docs 1/2 still flagged via the distinctive gram
    assert out[1]["n_shared_grams"] >= 1 and out[2]["n_shared_grams"] >= 1
    # docs 3-6 had ONLY the boilerplate overlap -> now fully unique
    for doc in range(3, 7):
        assert out[doc]["n_shared_grams"] == 0 and not out[doc]["drop"]
        assert full[doc]["n_shared_grams"] >= 1  # sanity: it did overlap


def test_mixture_resample_counts(spark):
    from etielle_spark.operators.clusters import mixture_resample

    df = spark.range(1000).select(
        F.col("id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("src"),
    )
    out = mixture_resample(df, "id", "src", {"a": 3.0, "b": 0.5, "c": 0.0})
    counts = {r["src"]: r["n"] for r in
              out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    n_a = df.filter(F.col("src") == "a").count()
    n_b = df.filter(F.col("src") == "b").count()
    assert counts["a"] == 3 * n_a               # integer weight: exact
    assert "c" not in counts                    # weight 0: all dropped
    assert 0.3 * n_b < counts["b"] < 0.7 * n_b  # md5-uniform ~ half
    # copy_idx dense from 0 per row
    mx = out.filter(F.col("src") == "a").groupBy("id").agg(
        F.count("*").alias("n"), F.max("copy_idx").alias("mx")
    )
    assert mx.filter((F.col("n") != 3) | (F.col("mx") != 2)).count() == 0
    # deterministic across recomputation
    assert out.exceptAll(
        mixture_resample(df, "id", "src", {"a": 3.0, "b": 0.5, "c": 0.0})
    ).count() == 0


def test_mad_outliers_flags_extremes(spark):
    from etielle_spark.operators.profile import mad_outliers

    vals = [("g", float(v)) for v in [10, 11, 12, 13, 14, 1000]] + [
        ("h", 5.0), ("h", 5.0), ("h", 5.0)  # constant group: MAD = 0
    ]
    df = spark.createDataFrame(vals, ["grp", "v"])
    out = mad_outliers(df, ["grp"], "v", k=3.0)
    g = out.filter(F.col("grp") == "g")
    assert g.filter(F.col("is_outlier")).count() == 1
    assert g.filter((F.col("v") == 1000.0) & F.col("is_outlier")).count() == 1
    # constant group flags nothing even though deviations are 0
    assert out.filter((F.col("grp") == "h") & F.col("is_outlier")).count() == 0


def test_corr_matrix_known_values(spark):
    from etielle_spark.operators.profile import corr_matrix

    df = spark.createDataFrame(
        [(float(i), 2.0 * i + 1, float(-i), float(i * i)) for i in range(50)],
        ["a", "b", "c", "d"],
    )
    out = {(r["col_a"], r["col_b"]): r["corr"] for r in
           corr_matrix(df, ["a", "b", "c", "d"]).collect()}
    assert len(out) == 6
    assert out[("a", "b")] == 1.0       # perfectly linear
    assert out[("a", "c")] == -1.0      # perfectly anti-linear
    assert 0.9 < out[("a", "d")] < 1.0  # monotone but nonlinear


def test_jaccard_similarity_join_linkage(spark):
    from etielle_spark.operators.dedup import jaccard_similarity_join

    canon = spark.createDataFrame(
        [(1, "red widget"), (2, "blue bolt"), (3, "green gear")],
        ["id", "name"],
    )
    dirty = spark.createDataFrame(
        [(10, "red widget large"), (11, "BLUE bolt"), (12, "purple sprocket")],
        ["cid", "cname"],
    )
    out = {(r["id_l"], r["id_r"]): r["jaccard"] for r in
           jaccard_similarity_join(
               canon, dirty, "id", "name", "cid", "cname", threshold=0.5
           ).collect()}
    assert out[(1, 10)] == round(2 / 3, 6)   # extra token tolerated
    assert out[(2, 11)] == 1.0               # case-insensitive exact
    assert (3, 12) not in out                # no token overlap
    assert len(out) == 2

    # max_df drops a too-common blocking token ("red" appears everywhere)
    canon2 = spark.createDataFrame(
        [(i, f"red item{i}") for i in range(10)], ["id", "name"]
    )
    out2 = jaccard_similarity_join(
        canon2, canon2.selectExpr("id + 100 as cid", "name as cname"),
        "id", "name", "cid", "cname", threshold=0.9, max_df=5,
    ).collect()
    # with "red" stopped, only the identical leftover token matches (1/1)
    assert {(r["id_l"], r["id_r"]) for r in out2} == {(i, i + 100) for i in range(10)}


def test_feature_hash_buckets(spark):
    from etielle_spark.operators.text import feature_hash

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a"), (3, "")], ["id", "text"]
    )
    out = feature_hash(df, "id", "text", n_buckets=16)
    rows = out.collect()
    assert all(0 <= r["bucket"] < 16 for r in rows)
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], 0)
        by_id[r["id"]] += r["n"]
    assert by_id[1] == 4 and by_id[2] == 1 and 3 not in by_id
    # same token -> same bucket on both docs (deterministic hashing)
    a1 = {r["bucket"] for r in rows if r["id"] == 2}
    assert len(a1) == 1


def _mk_events(spark, rows):
    from datetime import datetime
    return spark.createDataFrame(
        [(i, datetime.fromtimestamp(ts), u, float(v)) for i, (ts, u, v) in enumerate(rows)],
        ["event_id", "ts", "user_id", "value"],
    )


def test_throttle_events_keeps_first_per_bucket(spark):
    from etielle_spark.operators.events import throttle_events

    base = 1_700_000_000 - (1_700_000_000 % 60)
    ev = _mk_events(spark, [
        (base + 1, 1, 10), (base + 5, 1, 20), (base + 61, 1, 30),
        (base + 2, 2, 40),
    ])
    out = throttle_events(ev, "user_id", "ts", bucket_seconds=60, keep=1,
                          order_col="event_id")
    got = {(r["user_id"], r["bucket_start"]): r["event_id"] for r in out.collect()}
    assert got == {(1, base): 0, (1, base + 60): 2, (2, base): 3}


def test_gapfill_resample_forward_fill(spark):
    from etielle_spark.operators.events import gapfill_resample

    base = 1_700_000_000 - (1_700_000_000 % 60)
    # user 1: events in minute 0 and minute 3 -> minutes 1-2 filled
    ev = _mk_events(spark, [
        (base + 10, 1, 5.0), (base + 20, 1, 7.0), (base + 185, 1, 9.0),
    ])
    out = {r["slot_start"]: r for r in
           gapfill_resample(ev, "user_id", "ts", "value",
                            step_seconds=60, agg="sum").collect()}
    assert sorted(out) == [base, base + 60, base + 120, base + 180]
    assert out[base]["n_events"] == 2 and out[base]["value"] == 12.0
    assert out[base + 60]["n_events"] == 0 and out[base + 60]["value"] is None
    assert out[base + 60]["filled_value"] == 12.0   # carried forward
    assert out[base + 120]["filled_value"] == 12.0
    assert out[base + 180]["filled_value"] == 9.0


def test_rolling_anomaly_flags_spike(spark):
    from etielle_spark.operators.events import rolling_anomaly

    base = 1_700_000_000
    vals = [10.0, 11.0, 10.5, 9.5, 10.2, 500.0, 10.1]
    ev = _mk_events(spark, [(base + i * 60, 1, v) for i, v in enumerate(vals)])
    out = rolling_anomaly(ev, "user_id", "ts", "value",
                          lookback=5, k=3.0, order_col="event_id").collect()
    flagged = [r["value"] for r in out if r["is_anomaly"]]
    assert flagged == [500.0]
    # first rows (insufficient history) never flag and have NULL z
    first = sorted(out, key=lambda r: r["ts"])[0]
    assert first["zscore"] is None and not first["is_anomaly"]


def test_zorder_key_and_layout(spark):
    from etielle_spark.plans.layout import zorder_key, zorder_layout

    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], ["x", "y"]
    )
    out = df.select("x", "y", zorder_key(["x", "y"], bits=4).alias("z")).collect()
    def morton(x, y):
        z = 0
        for b in range(4):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z
    for r in out:
        assert r["z"] == morton(r["x"], r["y"])
    # all 256 keys distinct (bijective on the masked domain)
    assert len({r["z"] for r in out}) == 256

    # layout: each output partition covers a small sub-rectangle of the
    # (x, y) space -> per-file min/max ranges are tight in BOTH columns
    laid = zorder_layout(df, ["x", "y"], bits=4, n_files=8)
    import pyspark.sql.functions as SF
    spans = (
        laid.withColumn("pid", SF.spark_partition_id())
        .groupBy("pid")
        .agg(
            (SF.max("x") - SF.min("x")).alias("dx"),
            (SF.max("y") - SF.min("y")).alias("dy"),
        )
        .collect()
    )
    # a single-column sort would leave the other dimension spanning 15;
    # z-order keeps both spans small for most files
    assert sum(1 for r in spans if r["dx"] <= 7 and r["dy"] <= 7) >= len(spans) // 2


def test_event_transitions_rows_sum_to_one(spark):
    from etielle_spark.operators.events import event_transitions

    base = 1_700_000_000
    ev = _mk_events(spark, [(base + i * 10, 1, 0) for i in range(6)])
    types = ["a", "b", "a", "b", "b", "c"]
    ev = ev.drop("value")
    from pyspark.sql import functions as SF
    ev = ev.withColumn(
        "event_type",
        SF.element_at(
            SF.array(*[SF.lit(t) for t in types]), (SF.col("event_id") + 1).cast("int")
        ),
    )
    out = {(r["from_type"], r["to_type"]): (r["n"], r["p"]) for r in
           event_transitions(ev, "user_id", "ts", "event_type",
                             order_col="event_id").collect()}
    # a->b twice, b->a once, b->b once, b->c once
    assert out[("a", "b")][0] == 2 and out[("a", "b")][1] == 1.0
    assert out[("b", "a")][0] == 1 and abs(out[("b", "a")][1] - 0.333333) < 1e-6
    import collections
    sums = collections.defaultdict(float)
    for (f, _t), (_n, p) in out.items():
        sums[f] += p
    assert all(abs(s - 1.0) < 1e-4 for s in sums.values())


def test_vocab_stats_toy_corpus(spark):
    from etielle_spark.operators.text import vocab_stats

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog sat"), (3, "unique")], ["id", "text"]
    )
    r = vocab_stats(df, "text", top_k=2).collect()[0]
    assert r["n_tokens"] == 7 and r["n_types"] == 5
    assert r["n_hapax"] == 3  # cat, dog, unique
    assert r["top_tokens"] == "sat:2|the:2"
    assert r["top2_share"] == round(4 / 7, 6)


def test_group_quantiles_exact(spark):
    from etielle_spark.operators.profile import group_quantiles

    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], ["grp", "v"]
    )
    r = group_quantiles(df, ["grp"], "v", quantiles=[0.25, 0.5, 0.75]).collect()[0]
    assert r["q25"] == 25.75 and r["q50"] == 50.5 and r["q75"] == 75.25


def test_edit_distance_join_typos(spark):
    from etielle_spark.operators.dedup import edit_distance_join

    canon = spark.createDataFrame(
        [(1, "red widget"), (2, "blue bolt"), (3, "green gear")],
        ["id", "name"],
    )
    dirty = spark.createDataFrame(
        [(10, "red widgex"),   # sub at tail: first segment intact
         (11, "xlue bolt"),    # sub at head: second segment intact
         (12, "green gare"),   # two edits away -> excluded
         (13, "RED WIDGET")],  # case-insensitive exact
        ["tid", "tname"],
    )
    out = {(r["id_l"], r["id_r"]): r["distance"] for r in
           edit_distance_join(canon, dirty, "id", "name", "tid", "tname",
                              max_distance=1, split_at=5).collect()}
    assert out[(1, 10)] == 1
    assert out[(2, 11)] == 1
    assert out[(1, 13)] == 0
    assert (3, 12) not in out


def test_check_rules_single_pass(spark):
    from etielle_spark.operators.rules import check_rules

    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "F"), (3, None, "X"), (4, 2.0, None)],
        ["id", "price", "status"],
    )
    out = {r["rule"]: r for r in check_rules(df, {
        "positive_price": F.col("price") > 0,
        "status_known": "status in ('O','F')",
    }).collect()}
    # -5 fails, NULL price counts as violation too
    assert out["positive_price"]["n_violations"] == 2
    assert out["positive_price"]["n_rows"] == 4
    assert out["positive_price"]["violation_frac"] == 0.5
    # 'X' fails, NULL status is a violation (three-valued logic)
    assert out["status_known"]["n_violations"] == 2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        check_rules(df, {})


def test_pq_codes_identity_and_shape(spark, emb):
    from etielle_spark.operators.similarity import pq_codes

    small = emb.select("vec_id", "embedding").limit(40)
    out = pq_codes(small, "vec_id", "embedding", m=8, n_centroids=16)
    rows = out.collect()
    n = small.count()
    assert len(rows) == n * 8
    assert all(0 <= r["code"] < 16 for r in rows)
    assert all(r["dist"] >= 0 for r in rows)
    # a codebook seed vector encodes to itself in every subspace (dist 0);
    # seeds are the md5-hash-ordered sample (_seed_vectors), not smallest-id
    from pyspark.sql import functions as F
    seed_ids = [r["vec_id"] for r in
                small.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
                .limit(16).collect()]
    for r in rows:
        if r["id"] == seed_ids[0]:
            assert r["dist"] == 0.0 and r["code"] == 0


def test_hamming_near_dup_banded(spark):
    """Pairs within max_hamming are found via the banded join (pigeonhole:
    every <=3-bit difference leaves one 15-bit segment intact); pairs
    beyond the threshold are excluded even when a band collides."""
    from etielle_spark.operators.multimodal import hamming_near_dup

    base = 0b101010101010101_111000111000111_000111000111000_110011001100110
    rows = [
        (1, base),
        (2, base ^ 0b1),                      # hamming 1
        (3, base ^ 0b111),                    # hamming 3 (one band touched)
        (4, base ^ (1 | (1 << 15) | (1 << 30) | (1 << 45))),  # hamming 4, all bands touched
        (5, base ^ ((1 << 15) | (1 << 16))),  # hamming 2, different band
    ]
    hashes = spark.createDataFrame(rows, ["id", "phash"])
    out = {(r.id_a, r.id_b): r.hamming for r in
           hamming_near_dup(hashes, "id", "phash").collect()}
    assert out[(1, 2)] == 1 and out[(1, 3)] == 3 and out[(1, 5)] == 2
    assert (1, 4) not in out  # within no-band-intact case is dropped pre-verify
    assert (2, 3) in out  # hamming(2,3)=2
    import pytest as _pt
    with _pt.raises(ValueError):
        hamming_near_dup(hashes, "id", "phash", max_hamming=4, bands=4)
    with _pt.raises(ValueError):
        hamming_near_dup(hashes, "id", "phash", bits=61)


def test_perceptual_hash_deterministic(spark):
    from etielle_spark.operators.multimodal import attach_payload, perceptual_hash

    docs = spark.createDataFrame([(1, "same"), (2, "same"), (3, "diff")],
                                 ["doc_id", "text"])
    h = {r.id: r.phash for r in
         perceptual_hash(attach_payload(docs, "text"), "doc_id").collect()}
    assert h[1] == h[2] != h[3]
    assert 0 <= h[1] < (1 << 60)


def test_duplicate_spans_islands(spark):
    """Shared 8-gram runs merge into maximal spans; unique text yields no
    spans; adjacent/overlapping duplicated grams never split."""
    from etielle_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(12))       # 12 shared tokens
    rows = [
        (1, shared + " unique1 only here " + " ".join(f"u{i}" for i in range(8))),
        (2, "prefix tokens first " + shared),
        (3, " ".join(f"z{i}" for i in range(20))),      # no duplication
    ]
    out = duplicate_spans(
        spark.createDataFrame(rows, ["doc_id", "text"]), "doc_id", "text", n=8
    ).collect()
    spans = {(r.doc_id): (r.start_tok, r.end_tok, r.span_tokens)
             for r in out}
    # doc 1: shared block at positions 0..11 -> one maximal span of 12
    assert spans[1] == (0, 11, 12)
    # doc 2: shared block after 3 prefix tokens -> 3..14
    assert spans[2] == (3, 14, 12)
    assert 3 not in spans
    assert len(out) == 2


def test_mutual_nn_mutuality(spark):
    """Only mutually-top-1 pairs survive: a chain where b's best is a but
    a's best is c yields no (a, b) pair."""
    from etielle_spark.operators.similarity import mutual_nn

    left = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    right = spark.createDataFrame(
        [(1, [0.9, 0.1]), (3, [0.1, 0.9]), (5, [0.8, 0.2])],
        ["vec_id", "embedding"],
    )
    out = {(r.left_id, r.right_id) for r in mutual_nn(left, right).collect()}
    # 0's top-1 is 1 (0.9,0.1 most aligned with x-axis); 1's top-1 is 0. mutual.
    # 2's top-1 is 3; 3's top-1 is 2. mutual.  5's top-1 is 0 but 0 prefers 1.
    assert out == {(0, 1), (2, 3)}

    # candidates path restricts scoring: withhold (0,1) and the best
    # surviving mutual pair for 0 becomes 5
    cand = spark.createDataFrame(
        [(0, 5), (2, 3), (2, 5)], ["left_id", "right_id"]
    )
    out2 = {(r.left_id, r.right_id)
            for r in mutual_nn(left, right, candidates=cand).collect()}
    assert out2 == {(0, 5), (2, 3)}


def test_k_anonymity_audit_rules(spark):
    from etielle_spark.operators.rules import k_anonymity_audit

    rows = [("a", 1, "x")] * 5 + [("b", 1, "x")] * 2 + [("c", 1, "x")] * 5
    rows += [("c", 2, "y")] * 0
    df = spark.createDataFrame(rows, ["qa", "qb", "sens"])
    # k only
    out = {(r.qa, r.qb): (r.group_size, r.violation)
           for r in k_anonymity_audit(df, ["qa", "qb"], 3).collect()}
    assert out == {("b", 1): (2, "k")}
    # k + l: group a has 5 rows but only one sensitive value
    out2 = {(r.qa, r.qb): r.violation
            for r in k_anonymity_audit(
                df, ["qa", "qb"], 3, sensitive_col="sens", l=2
            ).collect()}
    assert out2[("a", 1)] == "l" and out2[("b", 1)] == "k+l"
    import pytest as _pt
    with _pt.raises(ValueError):
        k_anonymity_audit(df, ["qa"], 1)
    with _pt.raises(ValueError):
        k_anonymity_audit(df, ["qa"], 3, sensitive_col="sens")


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: two documents sharing a substring of at least
    window + n - 1 tokens share at least one fingerprint VALUE; density
    is far below one fingerprint per gram; disjoint docs share none."""
    from etielle_spark.operators.dedup import winnow_fingerprints

    shared = " ".join(f"s{i}" for i in range(12))  # 12 shared tokens >= 7
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + shared + " tail one two three"),
            (2, shared + " completely different ending here now"),
            (3, " ".join(f"z{i}" for i in range(30))),
        ],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs, "doc_id", "text", n=4, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    # density ~ 2/(w+1): doc 3 has 27 grams; far fewer fingerprints
    assert len(by_doc[3]) < 20
    # positions are within range and deterministic across runs
    fps2 = winnow_fingerprints(docs, "doc_id", "text", n=4, window=4).collect()
    assert {(r.doc_id, r.pos, r.fp) for r in fps} == {
        (r.doc_id, r.pos, r.fp) for r in fps2
    }


def test_dedup_against_corpus_flags(spark):
    from etielle_spark.operators.dedup import dedup_against

    base = " ".join(f"w{i}" for i in range(30))
    ref = spark.createDataFrame(
        [(1, base), (2, "other content entirely " + " ".join("abc"))],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, base),                      # exact clone
            (11, base + " extra"),           # near (shares bands)
            (12, " ".join(f"q{i}" for i in range(30))),  # fresh
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.exact_dup, r.near_dup)
           for r in dedup_against(new, ref, "doc_id", "text").collect()}
    assert out[10] == (True, True)
    assert out[11] == (False, True)
    assert out[12] == (False, False)


def test_agreement_kappa_hand_computed(spark):
    from etielle_spark.operators.profile import agreement_kappa

    # 10 rows: 8 agree; marginals: a: x6/y4, b: x6/y4 -> pe = (36+16)/100
    rows = [("x", "x")] * 5 + [("y", "y")] * 3 + [("x", "y"), ("y", "x")]
    df = spark.createDataFrame(rows, ["a", "b"])
    r = agreement_kappa(df, "a", "b").collect()[0]
    assert r.n == 10 and r.po == 0.8
    assert abs(r.pe - 0.52) < 1e-9
    assert abs(r.kappa - round((0.8 - 0.52) / 0.48, 6)) < 1e-9
    # NULLs excluded
    df2 = spark.createDataFrame(rows + [(None, "x")], ["a", "b"])
    assert agreement_kappa(df2, "a", "b").collect()[0].n == 10


def test_skew_report_hand_computed(spark):
    from etielle_spark.operators.profile import skew_report

    rows = [("hot",)] * 6 + [("warm",)] * 3 + [("cold",)] * 1
    df = spark.createDataFrame(rows, ["k"])
    out = skew_report(df, "k", top_n=2).collect()
    assert [(r.key, r.cnt) for r in out] == [("hot", 6), ("warm", 3)]
    assert out[0].share == 0.6 and out[0].cum_share == 0.6
    assert out[1].cum_share == 0.9
    assert out[0].n_keys == 3
    # gini for sorted counts [1,3,6], n=3: 2*(1*1+2*3+3*6)/(3*10) - 4/3
    want_gini = round(2 * (1 * 1 + 2 * 3 + 3 * 6) / (3 * 10) - 4 / 3, 6)
    assert abs(out[0].gini - want_gini) < 1e-9
    # even distribution -> gini ~ 0
    even = spark.createDataFrame([("a",), ("b",), ("c",)], ["k"])
    assert abs(skew_report(even, "k").collect()[0].gini) < 1e-9


def test_semdedup_engines_agree(spark, emb):
    """engine='arrow' (numpy GEMM per cell) and engine='sql' (pure
    column expressions) must produce identical verdicts."""
    from etielle_spark.operators.similarity import semdedup

    clones = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.union(clones)
    a = {
        (r.id, r.cell, r.dropped, r.dup_of)
        for r in semdedup(
            both, "vec_id", "embedding", threshold=0.999, nlist=8, engine="arrow"
        ).collect()
    }
    s = {
        (r.id, r.cell, r.dropped, r.dup_of)
        for r in semdedup(
            both, "vec_id", "embedding", threshold=0.999, nlist=8, engine="sql"
        ).collect()
    }
    assert a == s and len(a) > 0


def test_canonicalize_clusters_best_doc_wins(spark):
    from etielle_spark.operators.clusters import canonicalize_clusters

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 7.0),   # chain 1-2-3: 2 wins
         (4, 3.0), (5, 3.0),             # pair with tied scores: min id 4 wins
         (6, None), (7, 1.0),            # NULL loses to any score: 7 wins
         (8, 2.0)],                      # singleton: keeps itself
        "id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    out = {r["id"]: r for r in
           canonicalize_clusters(docs, pairs, "id", "score").collect()}
    assert len(out) == 8
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    assert out[1]["dup_of"] == 2 and out[3]["dup_of"] == 2
    assert {out[1]["cluster_id"], out[2]["cluster_id"], out[3]["cluster_id"]} == {1}
    assert out[4]["keep"] and out[5]["dup_of"] == 4   # tie -> min id
    assert out[7]["keep"] and out[6]["dup_of"] == 7   # NULL score loses
    assert out[8]["keep"] and out[8]["dup_of"] is None and out[8]["cluster_id"] == 8


def test_dedup_clusters_deep_chain_no_plan_blowup(spark):
    """A 600-node path graph needs ~10 label-propagation rounds; the
    per-round checkpoint keeps analysis flat (the old persist-only loop
    doubled plan size per round and OOMed the analyzer by round 7)."""
    import time

    from etielle_spark.operators.clusters import dedup_clusters

    n = 600
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    t0 = time.time()
    labels = dedup_clusters(pairs)
    rows = labels.collect()
    dt = time.time() - t0
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {0}  # one component, min label
    assert dt < 120, f"deep-chain CC took {dt:.0f}s — plan blowup is back"


def test_canonicalize_clusters_null_and_string_ids(spark):
    """NULL ids pass through as singleton keepers (they cannot be graph
    members); string ids work — the tie-break never casts or negates
    the id."""
    from etielle_spark.operators.clusters import canonicalize_clusters

    docs = spark.createDataFrame(
        [("a", 1.0), ("b", 5.0), ("c", 5.0), (None, 9.0), ("d", 2.0)],
        "id string, score double",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    rows = canonicalize_clusters(docs, pairs, "id", "score").collect()
    assert len(rows) == 5  # NULL id row did NOT vanish
    out = {r["id"]: r for r in rows}
    # tie at 5.0 between b and c -> min id "b" wins the a-b-c cluster
    assert out["b"]["keep"] and out["a"]["dup_of"] == "b" and out["c"]["dup_of"] == "b"
    assert out[None]["keep"] and out[None]["cluster_id"] is None
    assert out["d"]["keep"] and out["d"]["cluster_id"] == "d"
