"""Round-10 verdict pins (ks_drift exactness, cms reserved columns,
pmi/keyness cache registry).

1. ks_drift adversarial all-distinct-value input: the pinned intermediate
   is row-scale there (VERDICT r10 item 8) — the operator must degrade
   gracefully (run to completion, exact result) and the new ``quantize``
   escape hatch must equal pre-rounding the value column (a pure
   differential, no re-derived truth).
2. cms_estimate_topk reserved candidate column names raise (ADVICE r10).
3. pmi/keyness persist swap: caches are registered with the release
   registry (recoverable + releasable, ADVICE r10) and the release call
   leaves results intact.
"""

import math

import pytest
from pyspark.sql import functions as F


def _exact_ks(xs_a, xs_b):
    """Driver-side exact two-sample KS over tiny lists."""
    vals = sorted(set(xs_a) | set(xs_b))
    na, nb = len(xs_a), len(xs_b)
    sa, sb = sorted(xs_a), sorted(xs_b)

    def cdf(sorted_xs, v):
        import bisect

        return bisect.bisect_right(sorted_xs, v) / len(sorted_xs)

    return max(abs(cdf(sa, v) - cdf(sb, v)) for v in vals)


def test_ks_drift_all_distinct_values_graceful_and_exact(spark):
    from etielle_spark.operators.profile import ks_drift

    # every value distinct: the (group, value) counts frame is row-scale,
    # the adversarial shape for the pinned intermediate
    n = 400
    rows = [("a", i * 1.0 + 0.25) for i in range(n)] + [
        ("b", i * 1.37 + 0.5) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = ks_drift(df, "v", "g").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["group_a"], r["group_b"], r["n_a"], r["n_b"]) == ("a", "b", n, n)
    truth = _exact_ks(
        [i * 1.0 + 0.25 for i in range(n)], [i * 1.37 + 0.5 for i in range(n)]
    )
    assert math.isclose(r["ks_stat"], round(truth, 6), abs_tol=1e-9)


def test_ks_drift_quantize_equals_prerounded(spark):
    from etielle_spark.operators.profile import ks_drift

    rows = [("a", i / 977.0) for i in range(1500)] + [
        ("b", (i * 1.11) / 977.0) for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    q = ks_drift(df, "v", "g", quantize=2)
    pre = ks_drift(df.select("g", F.round("v", 2).alias("v")), "v", "g")
    assert q.collect() == pre.collect()
    # and the quantized domain is actually bounded
    n_distinct = (
        df.select(F.round("v", 2).alias("v")).distinct().count()
    )
    assert n_distinct < 350  # vs 2x1500 raw rows


def test_cms_estimate_topk_reserved_columns_raise(spark):
    from etielle_spark.operators.sketches import cms_cells, cms_estimate_topk

    df = spark.createDataFrame(
        [("x",), ("x",), ("y",)], "`__item` string"
    )
    sketch = cms_cells(df, [], depth=3, width=16)
    bad = df.withColumn("cnt", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        cms_estimate_topk(sketch, bad, [], depth=3, width=16, k=2)
    # the clean candidate frame still works
    good = cms_estimate_topk(sketch, df.distinct(), [], depth=3, width=16, k=2)
    rows = {r["item"]: r["est_count"] for r in good.collect()}
    assert rows["x"] >= 2 and rows["y"] >= 1


def test_pmi_keyness_caches_registered_and_releasable(spark):
    from etielle_spark.caches import release_operator_caches, tracked_cache_count
    from etielle_spark.operators.text import keyness_g2, pmi_collocations

    release_operator_caches()
    docs = spark.createDataFrame(
        [("new york is big", True), ("new york wins", True), ("old town", False)],
        "text string, flag boolean",
    )
    before = tracked_cache_count()
    pmi = pmi_collocations(docs, "text", min_count=1, top_n=5).collect()
    key = keyness_g2(docs, "text", "flag", min_count=1, top_n=5).collect()
    assert tracked_cache_count() >= before + 2
    assert any(r["w1"] == "new" and r["w2"] == "york" for r in pmi)
    assert len(key) > 0
    released = release_operator_caches()
    assert released >= 2
    # results recompute identically from lineage after release
    pmi2 = pmi_collocations(docs, "text", min_count=1, top_n=5).collect()
    assert pmi2 == pmi
    release_operator_caches()
