"""Round-3 operators: KMV set algebra, conversion attribution,
degree-oriented triangle counting, connected components.  Each test
cross-checks against a brute-force computation of the same quantity on
a toy input; the CC tests also pin that the loop sizes its own shuffles
without writing the session conf."""

import contextlib
import datetime
import re
import threading

import pytest
from pyspark.sql import functions as F

from etielle_spark.operators.events import attribute_conversions
from etielle_spark.operators.graph import triangle_count
from etielle_spark.operators.sketches import kmv_overlap


def test_kmv_overlap_exact_below_k(spark):
    # Small sets (< k) degenerate to exact union/jaccard/intersection.
    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(5, 20)]
    df = spark.createDataFrame(rows, ["g", "item"])
    out = kmv_overlap(df, "g", "item", k=64).collect()
    assert len(out) == 1
    r = out[0]
    assert r.group_a == "a" and r.group_b == "b"
    # |A|=10, |B|=15, |A∪B|=20, |A∩B|=5
    assert r.union_est == 20.0
    assert r.jaccard == round(5 / 20, 4)
    assert r.intersect_est == round(20.0 * 5 / 20, 4)


def test_kmv_overlap_estimates_identical_sets(spark):
    # Identical large sets: jaccard must be exactly 1 regardless of k.
    rows = [(g, i) for g in ("x", "y") for i in range(500)]
    df = spark.createDataFrame(rows, ["g", "item"])
    r = kmv_overlap(df, "g", "item", k=32).collect()[0]
    assert r.jaccard == 1.0
    assert r.intersect_est == r.union_est
    # k=32 KMV is noisy (stderr ~ 18%); this md5 draw lands high but
    # must stay the same order of magnitude as the true 500
    assert 250 <= r.union_est <= 1000


def test_kmv_overlap_disjoint_sets(spark):
    rows = [("x", i) for i in range(200)] + [("y", i + 10_000) for i in range(200)]
    df = spark.createDataFrame(rows, ["g", "item"])
    r = kmv_overlap(df, "g", "item", k=32).collect()[0]
    assert r.jaccard == 0.0
    assert r.intersect_est == 0.0


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 12, minute, 0)


def test_attribution_last_and_first_touch(spark):
    rows = [
        # user 1: click -> view -> purchase(10) => last=view, first=click
        (1, _ts(0), "click", 0.0, 100),
        (1, _ts(1), "view", 0.0, 101),
        (1, _ts(2), "purchase", 10.0, 102),
        # user 2: purchase with no touch => direct
        (2, _ts(0), "purchase", 7.0, 200),
        # user 2 second purchase after a click => click
        (2, _ts(5), "click", 0.0, 201),
        (2, _ts(6), "purchase", 3.0, 202),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_type", "value", "event_id"]
    )
    last = {
        r.channel: (r.n_conversions, r.attributed_value)
        for r in attribute_conversions(
            df, "user_id", "ts", "event_type", "value", "event_id",
            conversion_type="purchase", touch_types=["click", "view"], mode="last",
        ).collect()
    }
    assert last == {"view": (1, 10.0), "direct": (1, 7.0), "click": (1, 3.0)}

    first = {
        r.channel: (r.n_conversions, r.attributed_value)
        for r in attribute_conversions(
            df, "user_id", "ts", "event_type", "value", "event_id",
            conversion_type="purchase", touch_types=["click", "view"], mode="first",
        ).collect()
    }
    # user 1 first touch = click; user 2's second purchase still first=click
    assert first == {"click": (2, 13.0), "direct": (1, 7.0)}


def test_attribution_tie_breaks_on_event_id(spark):
    # same second: touch id 1 then conversion id 2 -> touch counts
    rows = [
        (1, _ts(0), "click", 0.0, 1),
        (1, _ts(0), "purchase", 5.0, 2),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_type", "value", "event_id"]
    )
    out = attribute_conversions(
        df, "user_id", "ts", "event_type", "value", "event_id",
        conversion_type="purchase", touch_types=["click"], mode="last",
    ).collect()
    assert out[0].channel == "click"


def test_attribution_rejects_bad_mode(spark):
    df = spark.createDataFrame([(1, _ts(0), "x", 0.0, 1)],
                               ["user_id", "ts", "event_type", "value", "event_id"])
    with pytest.raises(ValueError):
        attribute_conversions(
            df, "user_id", "ts", "event_type", "value", "event_id",
            conversion_type="x", touch_types=[], mode="middle",
        )


def _brute_triangles(edges):
    es = set()
    for a, b in edges:
        if a != b:
            es.add((min(a, b), max(a, b)))
    nodes = sorted({n for e in es for n in e})
    count = {}
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) not in es:
                continue
            for z in nodes:
                if z <= y:
                    continue
                if (x, z) in es and (y, z) in es:
                    for n in (x, y, z):
                        count[n] = count.get(n, 0) + 1
    return count


def test_triangle_count_matches_brute_force(spark):
    # K4 plus a pendant edge and a duplicate/reversed edge
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_count(df, "src", "dst").collect()}
    assert got == _brute_triangles(edges)  # each K4 corner in 3 triangles


def test_triangle_count_star_has_none(spark):
    # star graph: hub with high degree, zero triangles
    edges = [(0, i) for i in range(1, 20)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert triangle_count(df, "src", "dst").count() == 0


def test_triangle_count_random_graph(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(15), rng.randrange(15)) for _ in range(60)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_count(df, "src", "dst").collect()}
    assert got == _brute_triangles(edges)


def test_connected_components_df(spark):
    """Hand-checked components: chain 1-2-3, pair 10-11, self-contained
    triangle 20-21-22; vertex labels = min id per component."""
    from etielle_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    got = {
        (r.id, r.component)
        for r in connected_components_df(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_long_chain_converges(spark):
    """A 12-vertex path needs multiple propagation rounds; min label
    still reaches the far end (and max_iter=2 raises)."""
    import pytest as _pt

    from etielle_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    got = {(r.id, r.component) for r in connected_components_df(edges).collect()}
    assert got == {(i, 0) for i in range(12)}
    with _pt.raises(RuntimeError, match="not converged"):
        connected_components_df(edges, max_iter=2)


def test_cluster_dedup_transitive(spark):
    """A~B and B~C but A!~C directly: pairwise dedup keeps two of the
    three; cluster dedup keeps exactly one (the min id), and singleton
    docs keep themselves."""
    from etielle_spark.operators.dedup import cluster_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact clone of 1
            (3, base + " tail"),            # near-dup of 1/2
            (50, "completely different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.id: (r.component, r.keep) for r in
            cluster_dedup(docs, "doc_id", "text", num_hashes=8, bands=4).collect()}
    assert rows[50] == (50, True)           # singleton keeps itself
    assert rows[1] == (1, True)
    assert rows[2] == (1, False)
    # doc 3 joins the cluster iff LSH paired it; either way verdicts
    # are component-consistent
    comp3, keep3 = rows[3]
    assert (comp3, keep3) in ((1, False), (3, True))
    assert keep3 == (comp3 == 3)


def _union_find_labels(edges):
    """Driver-side truth: (vertex, smallest id in its component)."""
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((v, find(v)) for v in parent)


@pytest.fixture
def wide_parts(spark):
    """A session default above the CC loop's floor of 4, so the loop's
    own partition count (4 for these graphs) differs from the session's
    and a conf write would be observable."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    yield "16"
    spark.conf.set("spark.sql.shuffle.partitions", old)


@contextlib.contextmanager
def _watch_session(spark, plan=False):
    """From a second thread, sample the session's shuffle-partition conf
    (and, with ``plan``, the Exchange partition count of a small groupBy
    planned on the session) until the body exits."""
    samples, planned, errors = [], [], []
    stop = threading.Event()

    def run():
        try:
            while not stop.wait(0.01):
                samples.append(spark.conf.get("spark.sql.shuffle.partitions"))
                if plan:
                    q = spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()
                    text = q._jdf.queryExecution().executedPlan().toString()
                    planned.extend(
                        re.findall(r"hashpartitioning\([^()]*, (\d+)\)", text)
                    )
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    try:
        yield samples, planned
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive(), "conf sampler did not stop"
    assert not errors, errors


def test_cc_labels_match_union_find_and_conf_unchanged(spark, wide_parts):
    from etielle_spark.operators.graph import connected_components_df

    # a path graph (multi-round convergence), a disjoint triangle, and
    # a chain whose smallest id sits mid-path
    rows = (
        [(i, i + 1) for i in range(30)]
        + [(100, 101), (101, 102), (102, 100)]
        + [(205, 203), (203, 201), (201, 204), (204, 202)]
    )
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    with _watch_session(spark) as (samples, _):
        labels = sorted(
            (r["id"], r["component"])
            for r in connected_components_df(edges, "id_a", "id_b").collect()
        )
    assert labels == _union_find_labels(rows)
    assert {c for _, c in labels} == {0, 100, 201}
    # the loop sizes its own shuffles: the session conf never changes
    assert samples and set(samples) == {wide_parts}
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_parts


def test_cc_nonconvergence_raises_and_conf_unchanged(spark, wide_parts):
    from etielle_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with _watch_session(spark) as (samples, _):
        with pytest.raises(RuntimeError, match="not converged"):
            connected_components_df(edges, "id_a", "id_b", max_iter=1)
    assert samples and set(samples) == {wide_parts}
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_parts


def test_cc_concurrent_query_plans_at_session_default(spark, wide_parts):
    """A query planned on another thread while the CC loop runs (its
    own partition count is 4) sees the session's 16 partitions."""
    from etielle_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with _watch_session(spark, plan=True) as (samples, planned):
        got = connected_components_df(edges, "id_a", "id_b").collect()
    assert {r["component"] for r in got} == {0}
    assert samples and set(samples) == {wide_parts}
    assert planned and set(planned) == {wide_parts}
