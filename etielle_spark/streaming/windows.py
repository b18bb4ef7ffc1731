"""Native Structured Streaming surface: foreachBatch adapter + event-time
windows (tumbling/sliding/session) with watermarks.

The reference has NO time-based semantics (SURVEY.md §2.8: its only
late-data handling is an LRU key cache); these helpers are the Spark-native
extension declared in the survey.  They work identically on batch
DataFrames and on ``readStream`` sources, which is how the tests verify
streaming output against a batch oracle.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..session import partitions_for_rows


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    *aggs: Column,
    keys: list[str] | None = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Fixed windows; with ``watermark`` set, works on streams in append
    mode (late rows beyond the watermark are dropped)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    group = [F.window(ts_col, width).alias("w")] + [F.col(k) for k in (keys or [])]
    out = df.groupBy(*group).agg(*aggs)
    return _rename_window(out, keys, "window_start", "window_end")


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str,
    *aggs: Column,
    keys: list[str] | None = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    group = [F.window(ts_col, width, slide).alias("w")] + [F.col(k) for k in (keys or [])]
    out = df.groupBy(*group).agg(*aggs)
    return _rename_window(out, keys, "window_start", "window_end")


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    *aggs: Column,
    keys: list[str] | None = None,
    watermark: Optional[str] = None,
) -> DataFrame:
    """Session windows (dynamic length, closed after ``gap`` of silence).
    Streaming requires a watermark; batch works without."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    group = [F.session_window(ts_col, gap).alias("w")] + [F.col(k) for k in (keys or [])]
    out = df.groupBy(*group).agg(*aggs)
    return _rename_window(out, keys, "session_start", "session_end")


def _rename_window(out, keys, start_name: str, end_name: str):
    """Project the grouped result, flattening the window struct.  Aggregate
    column names come from the RESULT schema (works on Spark Connect too —
    no JVM Column introspection)."""
    agg_cols = out.columns[1 + len(keys or []) :]
    return out.select(
        F.col("w.start").alias(start_name),
        F.col("w.end").alias(end_name),
        *[F.col(k) for k in (keys or [])],
        *[F.col(c) for c in agg_cols],
    )


def for_each_batch(
    build: Callable[[DataFrame, int], dict[str, DataFrame]],
    sink,
) -> Callable[[DataFrame, int], None]:
    """Adapt a per-batch pipeline to ``writeStream.foreachBatch``.

    ``build(batch_df, batch_id)`` returns {table: DataFrame}; every table
    is written through ``sink.write(name, df)`` — the exactly-once seam
    (reference FlushStrategy protocol, chunking.py:235-277).

    Sinks that declare ``ordered = False`` (path-per-table sinks like
    ``ParquetSink``, where flush order has no observable effect) get
    their table writes submitted from a small thread pool so the next
    table's job back-fills executors freed by the current job's tail —
    per-table jobs in a micro-batch are short and mostly scheduler
    overhead.  Relational sinks keep the default ``ordered = True``
    (parents-first topological flush, the FK contract).

    Example::

        q = (events.writeStream
             .foreachBatch(for_each_batch(my_pipeline, ParquetSink(out)))
             .trigger(availableNow=True).start())
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        tables = build(batch_df, batch_id)
        if getattr(sink, "ordered", True) or len(tables) < 2:
            for name, df in tables.items():
                sink.write(name, df)
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(tables))) as pool:
            futs = [
                pool.submit(sink.write, name, df)
                for name, df in tables.items()
            ]
            for f in futs:
                f.result()

    return fn


def stream_session(spark: SparkSession, rows_per_batch: int) -> SparkSession:
    """A child session (``spark.newSession()``: same SparkContext, own
    SQL conf) carrying ``spark``'s modifiable runtime SQL conf, with the
    shuffle/state partition count derived from the per-micro-batch input
    volume (:func:`etielle_spark.session.partitions_for_rows`).  Start
    the stateful query's ``readStream`` on it; ``spark``'s conf is never
    written.

    Structured Streaming pins a stateful operator's partition count at
    the query's FIRST micro-batch, and every partition pays a
    state-store commit (delta file + fsync) per micro-batch however few
    rows it holds — measured ~650 ms of task time per partition per
    batch on a ~10-row state at local[32].  The count is baked into the
    checkpoint, so resuming an existing checkpoint ignores it.
    """
    child = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            child.conf.set(key, value)
    child.conf.set(
        "spark.sql.shuffle.partitions",
        str(partitions_for_rows(spark, rows_per_batch)),
    )
    return child
