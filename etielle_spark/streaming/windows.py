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

from pyspark.sql import Column, DataFrame, functions as F


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


def derived_stream_partitions(
    spark, rows_per_batch: int, *, rows_per_task: int = 50_000
) -> int:
    """Shuffle/state partition count for a streaming query, derived from
    the per-micro-batch input volume instead of the session's batch
    default.

    Structured Streaming pins a stateful operator's partition count at
    the query's FIRST micro-batch from ``spark.sql.shuffle.partitions``
    (it can never change for the life of the checkpoint), and every
    partition pays a state-store commit (delta file + fsync) per
    micro-batch regardless of how many rows it holds — measured ~650 ms
    of task time per partition per batch on a ~10-row state at
    local[32].  Sizing partitions by measured per-batch rows (~50k
    small rows per task, the same rule as the CC loop's adaptive
    partitioning, guide §2.2) removes that fixed cost for small-state
    streams; the value is clamped to [4, session default], so a
    high-volume stream on a cluster-sized session derives >= the
    default and keeps full parallelism.  Set the conf BEFORE
    ``.start()`` and restore it after the query terminates; the chosen
    value is baked into the checkpoint, so resuming an existing
    checkpoint ignores it.
    """
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(cur, max(4, -(-int(rows_per_batch) // rows_per_task)))
