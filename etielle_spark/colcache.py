"""Memoized construction of Column expressions (driver-latency cut).

The fluent compile path is driver-latency-bound: each ``F.col``/``F.expr``/
``.alias`` costs one py4j socket round trip (~0.4 ms), and a foreachBatch
pipeline re-compiles per micro-batch, re-paying hundreds of identical trips
(measured 391 trips / 0.185 s per compile of the 2-table reference
workload).  ``Column`` objects are immutable expression trees independent
of any DataFrame or session, so an expression built once can be reused by
every later compile in the same JVM.

``cexpr(text)`` returns ``F.expr(text)`` memoized per text for the life
of one JVM gateway.  The cache holds the gateway object it was filled
under: a stopped/restarted SparkSession keeps the same JVM (hits stay
valid), while a new gateway (bench.py kills the JVM before its
scale-curve subprocess) empties the cache before the next lookup.  The
object itself is held, not its ``id()``, which a later gateway could
reuse.  Bounded FIFO so a pathological text-generating caller cannot
grow it without limit.

This memoizes PLAN CONSTRUCTION only — no data, no results, no analysis
state; the same class of cache as benchqueries._TABLE_CACHE.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import Column, functions as F

_MAX = 8192
_CACHE: "OrderedDict[str, Column]" = OrderedDict()
# the py4j gateway the cached Columns belong to
_gateway: object = None


def cexpr(text: str) -> Column:
    """``F.expr(text)``, memoized for the life of the JVM gateway."""
    global _gateway
    if SparkContext._gateway is not _gateway:
        _CACHE.clear()
        _gateway = SparkContext._gateway
    col = _CACHE.get(text)
    if col is None:
        col = F.expr(text)
        _CACHE[text] = col
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
