"""Memoized construction of Column expressions (driver-latency cut).

The fluent compile path is driver-latency-bound: each ``F.col``/``F.expr``/
``.alias`` costs one py4j socket round trip (~0.4 ms), and a foreachBatch
pipeline re-compiles per micro-batch, re-paying hundreds of identical trips
(measured 391 trips / 0.185 s per compile of the 2-table reference
workload).  ``Column`` objects are immutable expression trees independent
of any DataFrame or session, so an expression built once can be reused by
every later compile in the same JVM.

``cexpr(text)`` returns ``F.expr(text)`` memoized per (JVM gateway, text).
The cache is keyed on the py4j gateway identity: a stopped/restarted
SparkSession keeps the same JVM (hits stay valid), while a torn-down
gateway (bench.py kills the JVM before its scale-curve subprocess) changes
the key and the stale entries are never touched.  Bounded FIFO so a
pathological text-generating caller cannot grow it without limit.

This memoizes PLAN CONSTRUCTION only — no data, no results, no analysis
state; the same class of cache as benchqueries._TABLE_CACHE.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import Column, functions as F

_MAX = 8192
_CACHE: "OrderedDict[tuple[int, str], Column]" = OrderedDict()


def _gateway_key() -> int:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return id(gw) if gw is not None else 0


def cexpr(text: str) -> Column:
    """``F.expr(text)``, memoized for the life of the JVM gateway."""
    key = (_gateway_key(), text)
    col = _CACHE.get(key)
    if col is None:
        col = F.expr(text)
        _CACHE[key] = col
        if len(_CACHE) > _MAX:
            _CACHE.popitem(last=False)
    return col


def bq(name: str) -> str:
    """Backtick-quote a column name for SQL text (literal, including
    dots)."""
    return "`" + name.replace("`", "``") + "`"


def qcol(name: str) -> Column:
    """``F.col`` of the LITERAL column ``name``: a dot is part of the
    name, not nested-field access.  For a plain identifier it is the
    same unresolved attribute as ``F.col(name)`` (same plan, same single
    py4j trip); the string form for ``select``/``groupBy`` is
    ``bq(name)``."""
    return F.col(bq(name))
