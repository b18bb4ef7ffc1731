"""colcache: memoized SQL-text expressions belong to one py4j gateway."""

from pyspark import SparkContext

from etielle_spark import colcache


def test_cexpr_cache_cleared_when_gateway_changes(spark, monkeypatch):
    text = "CAST(`colcache_probe` AS BIGINT) AS colcache_probe"
    first = colcache.cexpr(text)
    assert colcache.cexpr(text) is first
    assert text in colcache._CACHE

    real = SparkContext._gateway
    # a different gateway object (a restarted JVM): nothing built under
    # the old one may be served, whatever id() the new object gets
    monkeypatch.setattr(SparkContext, "_gateway", object())
    colcache._CACHE["stale entry"] = first
    monkeypatch.setattr(colcache.F, "expr", lambda t: ("rebuilt", t))
    assert colcache.cexpr(text) == ("rebuilt", text)
    assert "stale entry" not in colcache._CACHE
    assert colcache.cexpr(text) == ("rebuilt", text)

    # back on the real gateway: a fresh, working Column again
    monkeypatch.undo()
    assert SparkContext._gateway is real
    again = colcache.cexpr(text)
    assert again is not first and colcache.cexpr(text) is again
    assert spark.range(3).select(
        colcache.cexpr("CAST(id AS BIGINT) AS id")
    ).count() == 3
