"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

The headline set covers the scan/agg/join core (q01/q03/q05), the engine
compile path (q04 keyed merge + policies, q11 backlink), windows (q19),
and the training-data operators (q27 minhash, q31 ANN topk, q22 tokens).
Each query is executed to completion (count) after a warm-up pass of the
parquet footer reads; wall time includes planning.
"""

from __future__ import annotations

import json
import os
import time

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_supplier_volume",
    "q04_merge_policies",
    "q11_backlink_collect",
    "q12_junction_distinct",
    "q16_window_topk_per_group",
    "q19_tumbling_window",
    "q20_session_windows",
    "q22_token_stats",
    "q26_exact_dedup_docs",
    # q27/q28 run fused below: the LSH banding reuses the persisted
    # signature frame instead of recomputing the shingle+minhash pipeline
    "q30_simhash",
    "q31_cosine_topk",
    "q41_nation_volume_share",
    "q43_returned_customers",
    # the end-to-end curation DAG (exact dedup -> token gate -> split ->
    # dataset card): the flagship composition, one digest-window shuffle
    "q126_curation_pipeline",
    # round-3 ML layer: distributed covariance (D²-bounded shuffle) and
    # the 2-step logistic-regression training loop (map-only margins +
    # D-row gradient aggregations, driver-coordinated like MLlib)
    "q211_covariance_matrix",
    "q215_logreg_train_2step",
]


def minhash_lsh_fused(spark) -> dict[str, float]:
    """q27 + q28 as one pipeline: signatures computed and persisted once
    (q27's wall time), banding + pair join reusing them (q28's wall time).
    This is how a real dedup pipeline runs — the two stages share the
    expensive shingle pass."""
    from pyspark.sql import functions as F

    from etielle_spark.benchqueries import _docs_plus_clones
    from etielle_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    from pyspark import StorageLevel

    docs = _docs_plus_clones(spark, sf_dir)
    # persist + count MATERIALIZES the signature column (a bare count()
    # would let Catalyst prune the whole MinHash expression away — the
    # timing would measure a scan, not the operator); the cached frame is
    # then reused by the LSH stage via signatures=
    t0 = time.perf_counter()
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs.count()
    t_sig = time.perf_counter() - t0

    t0 = time.perf_counter()
    cand = lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=4, signatures=sigs
    )
    cand.count()
    t_lsh = time.perf_counter() - t0
    sigs.unpersist()
    return {
        "q27_minhash_signatures": round(t_sig, 3),
        "q28_lsh_candidate_pairs": round(t_lsh, 3),
    }


def streaming_events_windows(spark) -> float:
    """Native Structured Streaming at bench scale: the events table as a
    multi-file stream (availableNow, 4 micro-batches), watermarked
    1-minute tumbling windows in append mode to parquet — cross-batch
    window state, late-data handling, exactly-once file sink."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="bench_stream_ev_")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        src = f"{work}/src"
        ev.repartition(8).write.parquet(src)
        schema = spark.read.parquet(src).schema
        # untimed setup: the producer knows its per-batch volume (8
        # source files, maxFilesPerTrigger=2 -> 4 micro-batches)
        rows_per_batch = ev.count() // 4

        from etielle_spark.benchqueries import fix_event_ts
        from etielle_spark.streaming.windows import stream_session

        # state/shuffle partitions derived from per-batch volume (each
        # state partition costs one state-store commit per micro-batch
        # regardless of rows), set on a child session: this session's
        # conf is not touched (see stream_session).
        sized = stream_session(spark, rows_per_batch)

        t0 = time.perf_counter()
        stream = fix_event_ts(
            sized.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        ).withColumnRenamed("ts", "tss")
        agg = (
            stream.withWatermark("tss", "10 minutes")
            .groupBy(F.window("tss", "1 minute"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n",
                "total",
            )
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{work}/out")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = spark.read.parquet(f"{work}/out").count()
        dt = time.perf_counter() - t0
        assert n > 0, "streaming produced no closed windows"
        return dt
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_reference_workload(spark) -> float:
    """The reference's streaming-mode benchmark shape (BASELINE.md: 8,000
    users + 8,000 posts through stream().load().run(), 13.1 s published):
    here as readStream -> foreachBatch -> compiled etl pipeline ->
    ParquetSink, 8 micro-batches of 1,000 users."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etielle_spark import Field, etl, get, get_from_parent
    from etielle_spark.sources import ParquetSink
    from etielle_spark.streaming import for_each_batch

    n = 8000
    work = tempfile.mkdtemp(prefix="bench_stream_ref_")
    try:
        users = spark.range(n).select(
            F.concat(F.lit("u"), F.col("id")).alias("uid"),
            F.concat(F.lit("name-"), F.col("id")).alias("name"),
            F.array(
                F.struct(
                    F.concat(F.lit("p"), F.col("id"), F.lit("_0")).alias("pid"),
                    F.repeat(F.lit("x"), 2048).alias("body"),
                )
            ).alias("posts"),
        )
        src = f"{work}/src"
        users.repartition(8).write.parquet(src)
        schema = spark.read.parquet(src).schema

        def pipeline(batch_df, batch_id):
            result = (
                etl(batch_df, spark=spark)
                .map_to(
                    "users",
                    fields=[Field("id", get("uid")), Field("name", get("name"))],
                    join_on=["id"],
                )
                .goto_root(0)
                .goto("posts")
                .each()
                .map_to(
                    "posts",
                    fields=[
                        Field("id", get("pid")),
                        Field("user_id", get_from_parent("uid")),
                        Field("body", get("body")),
                    ],
                    join_on=["id"],
                )
                .link_to("users", by={"user_id": "id"})
                .run()
            )
            return result.tables

        t0 = time.perf_counter()
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(
                for_each_batch(pipeline, ParquetSink(f"{work}/out", mode="append"))
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wrote = (
            spark.read.parquet(f"{work}/out/users").count()
            + spark.read.parquet(f"{work}/out/posts").count()
        )
        dt = time.perf_counter() - t0
        assert wrote == 2 * n, wrote
        return dt
    finally:
        shutil.rmtree(work, ignore_errors=True)


def reference_workload(spark) -> float:
    """The reference's own benchmark shape (BASELINE.md: 8,000 users +
    8,000 posts with one link_to, 2.4 s resident single-process): the same
    pipeline through this engine's compiled plans.  Returned seconds are
    directly comparable to the published resident wall time."""
    import time as _t

    from pyspark.sql import functions as F

    from etielle_spark import Field, TempField, etl, get, get_from_parent

    n = 8000
    users = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("uid"),
        F.concat(F.lit("name-"), F.col("id")).alias("name"),
        F.array(
            F.struct(
                F.concat(F.lit("p"), F.col("id"), F.lit("_0")).alias("pid"),
                F.repeat(F.lit("x"), 2048).alias("body"),
            )
        ).alias("posts"),
    )
    t0 = _t.perf_counter()
    result = (
        etl(users, spark=spark)
        .map_to(
            "users",
            fields=[Field("id", get("uid")), Field("name", get("name"))],
            join_on=["id"],
        )
        .goto_root(0)
        .goto("posts")
        .each()
        .map_to(
            "posts",
            fields=[
                Field("id", get("pid")),
                Field("user_id", get_from_parent("uid")),
                Field("body", get("body")),
            ],
            join_on=["id"],
        )
        .link_to("users", by={"user_id": "id"})
        .run()
    )
    rows = result["users"].count() + result["posts"].count()
    dt = _t.perf_counter() - t0
    assert rows == 2 * n, rows
    return dt



def streaming_incremental_cms(spark) -> float:
    """Incremental CMS heavy hitters at bench scale: document tokens
    streamed in micro-batches through foreachBatch; per batch one bounded
    cells aggregation + candidate pass, then one merged heavy-hitters
    read (streaming/incremental_cms.py)."""
    import shutil
    import tempfile

    from etielle_spark.streaming.incremental_cms import IncrementalCMS

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="bench_stream_cms_")
    try:
        toks = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(
                "lang",
                F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
            )
            .filter(F.col("tok") != "")
        )
        src = f"{work}/src"
        toks.repartition(4).write.parquet(src)
        schema = spark.read.parquet(src).schema

        inc = IncrementalCMS(
            spark, f"{work}/state", item_col="tok", group_cols=["lang"],
            candidate_k=128, run_id="bench",
        )
        t0 = time.perf_counter()
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(inc.attach())
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        n = inc.heavy_hitters(k=10).count()
        assert n > 0
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_incremental_dedup(spark) -> float:
    """Incremental LSH dedup at bench scale: the documents table streamed
    in micro-batches through foreachBatch; each batch's signatures are
    computed once and probed against the persistent band-digest index of
    every prior batch (streaming/incremental_dedup.py)."""
    import shutil
    import tempfile

    from etielle_spark.streaming.incremental_dedup import IncrementalLSHDedup

    work = tempfile.mkdtemp(prefix="bench_stream_dd_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        src = f"{work}/src"
        docs.repartition(4).write.parquet(src)
        schema = spark.read.parquet(src).schema

        n_pairs = 0
        inc = IncrementalLSHDedup(spark, f"{work}/idx", num_hashes=8, bands=4)

        def sink(pairs, batch_id):
            nonlocal n_pairs
            n_pairs += pairs.count()
            pairs.unpersist()

        t0 = time.perf_counter()
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(inc.attach(sink))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def index_ivf_lifecycle(spark) -> float:
    """Persistent IVF index at bench scale: build on 80% of the
    embeddings table, append the rest in 4 batches, then probe 16
    queries at nprobe=3 against the cell-partitioned layout
    (streaming/incremental_ann.py)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etielle_spark.streaming.incremental_ann import PersistentIVFIndex

    work = tempfile.mkdtemp(prefix="bench_ivf_")
    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        hi = emb.agg(F.max("vec_id")).collect()[0][0]
        cut = int(hi * 0.8)
        step = max(1, (hi - cut) // 4)

        t0 = time.perf_counter()
        idx = PersistentIVFIndex(spark, f"{work}/ivf", nlist=16)
        idx.build(emb.filter(F.col("vec_id") <= cut))
        for lo in range(cut + 1, hi + 1, step):
            idx.add(
                emb.filter(
                    (F.col("vec_id") > lo - 1) & (F.col("vec_id") <= lo + step - 1)
                )
            )
        n = idx.query(
            emb.filter("vec_id < 16"), k=10, nprobe=3
        ).count()
        assert n > 0
        return time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- 10x scale curve (round-3 VERDICT ask #3) -------------------------------

SCALE_FACTOR = 10
DOC_SCALE_FACTOR = 100  # documents are only 5k rows at sf0.1 — 10x would
#                         still be overhead-dominated; 100x (500k docs)
#                         makes the text-path factors meaningful
SCALE_QUERIES = {
    # linear-path queries whose cost should scale ~ the data factor:
    # scan/agg (q01), join+topk (q03), text single-scan (q22), digest
    # dedup (q26), simhash fold (q30)
    "q01_pricing_summary": SCALE_FACTOR,
    "q03_shipping_priority": SCALE_FACTOR,
    "q22_token_stats": DOC_SCALE_FACTOR,
    "q26_exact_dedup_docs": DOC_SCALE_FACTOR,
    "q27_minhash_signatures": DOC_SCALE_FACTOR,
    "q30_simhash": DOC_SCALE_FACTOR,
    "q100_gram_duplication": DOC_SCALE_FACTOR,
    # round-6 plans: the two-level distributed KS CDF and the 2-explode
    # line dedup — their factors evidence the rewrites hold at 100x docs
    "q237_ks_drift": DOC_SCALE_FACTOR,
    "q232_line_dedup": DOC_SCALE_FACTOR,
    # round-7: the checkpointed pointer-jump CC + best-score retention —
    # rounds grow O(log max-run), so the factor should sit well BELOW
    # the data factor
    "q239_cluster_canonicalize": DOC_SCALE_FACTOR,
}
SCALE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchdata", "sf1synth")


def ensure_scaled(spark) -> str:
    """Synthesize a 10x corpus from sf0.1 (~6M lineitem) under
    .benchdata/ (gitignored), FK-consistent: every key column shifts by
    copy * 100M, document text gets a per-copy suffix so dedup keys stay
    unique.  Idempotent — reuses the dataset when present."""
    from pyspark.sql import functions as F

    # marker is KEYED by (source sf dir, factors): a factor change or a
    # different base scale regenerates instead of silently reusing a
    # stale corpus (round-3/4 noise in the 100x points traced partly to
    # cold regeneration landing inside timed rounds)
    key = json.dumps(
        {"src": sf_dir, "scale": SCALE_FACTOR, "doc_scale": DOC_SCALE_FACTOR}
    )
    marker = os.path.join(SCALE_DIR, "_DONE")
    if os.path.exists(marker):
        try:
            if open(marker).read() == key:
                return SCALE_DIR
        except OSError:
            pass
    os.makedirs(SCALE_DIR, exist_ok=True)
    stride = 100_000_000

    def scaled(table: str, keys: list[str], text_col: str | None = None,
               factor: int = SCALE_FACTOR):
        copies = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__c")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet").select("*", copies)
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("__c").cast("long") * stride)
        if text_col is not None:
            df = df.withColumn(
                text_col,
                F.concat(F.col(text_col), F.lit(" rep"), F.col("__c").cast("string")),
            )
        # spread across enough files that the scan parallelizes — a real
        # corpus at this size has many splits; 2-3 fat files starve 29 of
        # 32 cores in every text-heavy stage (measured: gram construction
        # 55 s on a 3-split scan vs ~6 s spread)
        df.drop("__c").repartition(32).write.mode("overwrite").parquet(
            os.path.join(SCALE_DIR, f"{table}.parquet")
        )

    scaled("lineitem", ["l_orderkey"])
    scaled("orders", ["o_orderkey", "o_custkey"])
    scaled("customer", ["c_custkey"])
    scaled("documents", ["doc_id"], text_col="text", factor=DOC_SCALE_FACTOR)
    with open(marker, "w") as f:
        f.write(key)
    return SCALE_DIR


def scale_curve(spark, base_times: dict[str, float]) -> dict:
    """Run the linear-path subset on the synthesized 10x corpus and
    report per-query scaling factors vs the sf0.1 medians.  A factor
    well under SCALE_FACTOR means the sf0.1 number is overhead-
    dominated; a factor well over it means the plan has a superlinear
    term — both are what this section exists to expose.

    SPARK_GRAFT_SCALE_SUBSET (comma-separated query names) restricts the
    pass — used by the low-core scaling probe, which re-runs the heavy
    curve rows at cpus/4 where parallelism can actually show (the sf0.1
    headline rows are driver/overhead-bound and tell nothing about
    core-scaling; round-11 VERDICT item 3)."""
    from etielle_spark.benchqueries import QUERIES

    import statistics

    big_dir = ensure_scaled(spark)
    runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
    subset = os.environ.get("SPARK_GRAFT_SCALE_SUBSET", "")
    global SCALE_QUERIES
    if subset:
        names = {s.strip() for s in subset.split(",") if s.strip()}
        SCALE_QUERIES = {
            k: v for k, v in SCALE_QUERIES.items() if k in names
        }
    big_times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    factors: dict[str, float] = {}
    data_factors: dict[str, int] = {}
    # per-query blocks: one UNTIMED warm run (plan compile + page cache +
    # codegen), then the N timed runs back-to-back.  NOT interleaved —
    # the text queries' 500k-doc working set evicts the small queries'
    # page cache between rounds (measured: q01 swung 0.4-2.4 s at sf1.0
    # under interleaving, ≤1.3x in blocks), and a warm-cache number is
    # what the sf0.1 headline medians are too, so factors stay
    # like-for-like
    samples: dict[str, list[float]] = {name: [] for name in SCALE_QUERIES}
    for name in SCALE_QUERIES:
        fn, _sql = QUERIES[name]
        fn(spark, big_dir).write.format("noop").mode("overwrite").save()
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, big_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
        # per-block isolation: operators that persist a corpus-scale
        # intermediate (q100's gram postings — a round-7 addition, and
        # the exact window in which q237's curve row regressed 2x)
        # must not leave it resident to contend with the NEXT block's
        # shuffles; same rationale as the headline->streaming
        # clearCache below, applied per curve entry
        from etielle_spark import release_operator_caches

        release_operator_caches()
        spark.catalog.clearCache()
    for name, dfac in SCALE_QUERIES.items():
        med = statistics.median(samples[name])
        big_times[name] = round(med, 3)
        spread[name] = [round(min(samples[name]), 3), round(max(samples[name]), 3)]
        data_factors[name] = dfac
        base = base_times.get(name)
        if base:
            factors[name] = round(med / base, 2)
    return {
        "sf": 1.0,
        "synthesized_from": sf_dir,
        "data_factor": data_factors,
        "queries": big_times,
        "spread": spread,
        "factors_vs_sf0.1": factors,
    }


def scale_curve_main(base_times_path: str) -> None:
    """Subprocess entry: run ONLY the scale curve in a fresh JVM (the
    parent stops its session first, so nothing contends) and print the
    curve JSON as the last line."""
    from etielle_spark.session import get_spark

    with open(base_times_path) as f:
        base_times = json.load(f)
    spark = get_spark("etielle-spark-bench-curve", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    curve = scale_curve(spark, base_times)
    spark.stop()
    print(json.dumps(curve))


def main() -> None:
    from pyspark.sql import functions as F

    from etielle_spark.benchqueries import QUERIES
    from etielle_spark.session import get_spark

    spark = get_spark("etielle-spark-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM + file index so per-query numbers measure the queries,
    # not first-use codegen compilation: one scan + one join/agg/window pass
    # through the same physical operators the headline queries use
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li.join(od, li.l_orderkey == od.o_orderkey).groupBy("l_returnflag").count().count()
    from pyspark.sql import Window as _W

    od.select(
        F.row_number()
        .over(_W.partitionBy("o_custkey").orderBy("o_orderkey"))
        .alias("rn")
    ).filter(F.col("rn") <= 1).count()
    # higher-order-function expressions (minhash fold, simhash bit votes)
    # and the banded-LSH join plan have their own first-use
    # analysis/codegen cost — warm them on a 20-row sample so the
    # headline numbers measure the operators
    from etielle_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash,
    )

    tiny = (
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20).cache()
    )
    minhash_signatures(tiny, "doc_id", "text", num_hashes=8).count()
    lsh_candidate_pairs(tiny, "doc_id", "text", num_hashes=8, bands=4).count()
    simhash(tiny, "doc_id", "text").count()
    tiny.unpersist()

    # median of 3 runs per query (the r01->r02 comparison was dominated
    # by single-run variance — up to 2x swing on a shared box); the
    # min/max spread ships alongside so regressions can be judged
    # against the noise envelope
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    samples["ref_workload_users_posts_8k"] = []
    fused_names = ["q27_minhash_signatures", "q28_lsh_candidate_pairs"]
    for fn_name in fused_names:
        samples[fn_name] = []
    # one UNTIMED warm pass per headline query (same treatment the scale
    # curve gets): each query's own plan compile / analyzer / codegen
    # first-use cost lands here, so the medians below measure warm
    # steady state — the honest per-query number (complex fluent
    # pipelines like q11 read ~2x worse when run 1 doubles as warm-up)
    for name in HEADLINE:
        fn, _sql = QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for _ in range(runs):
        for name in HEADLINE:
            fn, _sql = QUERIES[name]
            t0 = time.perf_counter()
            # noop sink materializes EVERY column — a bare count() lets
            # Catalyst prune map-only computations entirely (q22's
            # "timing" was a scan)
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
        for fn_name, dt in minhash_lsh_fused(spark).items():
            samples[fn_name].append(dt)
        samples["ref_workload_users_posts_8k"].append(reference_workload(spark))

    import statistics

    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    total = 0.0
    for name, vals in samples.items():
        med = statistics.median(vals)
        times[name] = round(med, 3)
        spread[name] = [round(min(vals), 3), round(max(vals), 3)]
        total += med

    # streaming path, reported separately (not part of the batch headline
    # total): native watermarked windows + the reference's streaming-mode
    # workload (13.1 s published baseline, BASELINE.md).  Median-of-N like
    # the batch queries — single-run streaming numbers drifted 10-17% on
    # identical code across rounds (r3/r4 verdicts), which is trigger +
    # state-store fixed-cost noise, not signal.
    stream_runs = int(os.environ.get("SPARK_GRAFT_STREAM_RUNS", "3"))
    stream_fns = {
        "streaming_events_1m_windows": streaming_events_windows,
        "streaming_ref_workload_users_posts_8k": streaming_reference_workload,
        "streaming_incremental_dedup": streaming_incremental_dedup,
        "streaming_incremental_cms": streaming_incremental_cms,
        "index_ivf_lifecycle": index_ivf_lifecycle,
    }
    # phase isolation: drop every cached relation the headline phase left
    # behind (Spark's cache manager never releases them on its own —
    # measured: streaming runs degraded 2.5x when the headline caches
    # stayed resident), then one untimed warm round so the medians
    # measure warm steady state like the other phases
    spark.catalog.clearCache()
    for sfn in stream_fns.values():
        sfn(spark)
    stream_samples: dict[str, list[float]] = {n: [] for n in stream_fns}
    for _ in range(stream_runs):
        for sname, sfn in stream_fns.items():
            stream_samples[sname].append(sfn(spark))
    streaming = {
        n: round(statistics.median(v), 3) for n, v in stream_samples.items()
    }
    streaming_spread = {
        n: [round(min(v), 3), round(max(v), 3)]
        for n, v in stream_samples.items()
    }

    curve = None
    if os.environ.get("SPARK_GRAFT_SCALE_CURVE", "1") != "0":
        # the curve runs in its OWN process with a fresh JVM, after this
        # session is fully stopped: r5's curve medians swung 3-14x on
        # identical code because the curve phase contended with the
        # headline/streaming JVM's cached blocks, shuffle dirs, and GC.
        import subprocess
        import sys
        import tempfile

        try:
            spark.stop()
            # spark.stop() leaves the py4j JVM RESIDENT until this python
            # process exits — after ~12 min of headline+streaming its
            # ballooned heap sat beside the curve subprocess and doubled
            # every doc-text row (q22 0.98 -> 2.1 s, q27 5.2 -> 12-15.6 s
            # measured, rounds 8-9); terminate it so the "fresh quiesced
            # JVM" promise actually holds
            try:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                jproc = getattr(gw, "proc", None)
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                if jproc is not None:
                    jproc.terminate()
                    try:
                        jproc.wait(timeout=30)
                    except Exception:
                        jproc.kill()
                else:
                    # pyspark internals moved (no gateway.proc): the JVM
                    # stays resident and the curve runs contended — make
                    # the fallback VISIBLE so a q22/q27 doubling is
                    # attributable instead of mystery box noise
                    print(
                        "WARN: could not locate the py4j JVM process; "
                        "scale-curve runs beside a resident parent JVM",
                        file=sys.stderr,
                    )
            except Exception as e:
                print(
                    f"WARN: parent JVM teardown failed ({e!r}); scale-curve "
                    "runs beside a resident parent JVM",
                    file=sys.stderr,
                )
            with tempfile.NamedTemporaryFile(
                "w", suffix=".json", delete=False
            ) as f:
                json.dump(times, f)
                base_path = f.name
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--scale-curve", base_path],
                capture_output=True,
                text=True,
                timeout=3600,
            )
            last = proc.stdout.strip().rsplit("\n", 1)[-1]
            curve = json.loads(last)
            # core-scaling probe (round-11 VERDICT item 3): the heavy
            # curve rows once more at cpus/4, fresh JVM — at the 100x
            # corpus these rows run seconds of real compute, so the
            # low-core/main-core ratio measures parallel speedup instead
            # of the driver overhead that drowned it at sf0.1.  Skipped
            # when the main run already uses <= 4 cores (nothing to
            # contrast) or via SPARK_GRAFT_CORE_SCALING=0.
            low = max(4, cpus // 4)
            if (
                os.environ.get("SPARK_GRAFT_CORE_SCALING", "1") != "0"
                and low < cpus
                and isinstance(curve, dict)
                and "queries" in curve
            ):
                try:
                    env = dict(os.environ)
                    env["SPARK_GRAFT_CPUS"] = str(low)
                    env["SPARK_GRAFT_SCALE_RUNS"] = os.environ.get(
                        "SPARK_GRAFT_SCALE_RUNS_LOW", "2"
                    )
                    env["SPARK_GRAFT_SCALE_SUBSET"] = (
                        "q27_minhash_signatures,q100_gram_duplication,"
                        "q237_ks_drift,q239_cluster_canonicalize"
                    )
                    lproc = subprocess.run(
                        [
                            sys.executable,
                            os.path.abspath(__file__),
                            "--scale-curve",
                            base_path,
                        ],
                        capture_output=True,
                        text=True,
                        timeout=3600,
                        env=env,
                    )
                    lcurve = json.loads(lproc.stdout.strip().rsplit("\n", 1)[-1])
                    ratios = {
                        n: round(t / curve["queries"][n], 2)
                        for n, t in lcurve.get("queries", {}).items()
                        if curve["queries"].get(n)
                    }
                    curve["core_scaling"] = {
                        "cpus_low": low,
                        "cpus_main": cpus,
                        "queries_low": lcurve.get("queries", {}),
                        "spread_low": lcurve.get("spread", {}),
                        "ratio_low_over_main": ratios,
                    }
                except Exception as e:
                    curve["core_scaling"] = {"error": str(e)[:200]}
            os.unlink(base_path)
        except Exception as e:  # keep the bench line robust
            curve = {"error": str(e)[:200]}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "spread": spread,
        "streaming": streaming,
        "streaming_spread": streaming_spread,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if curve is not None:
        out["scale_curve"] = curve
    # Full detail first (spread + scale curve can exceed the driver's
    # 2000-char tail window), then a compact summary as the guaranteed
    # LAST line so the driver's tail-parse always recovers the numbers.
    print(json.dumps(out))
    summary = {
        k: out[k]
        for k in ("metric", "value", "unit", "queries", "streaming", "sf")
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    import sys as _sys

    if len(_sys.argv) > 2 and _sys.argv[1] == "--scale-curve":
        scale_curve_main(_sys.argv[2])
    else:
        main()
