"""Round-11 optimization pins: the CC loop's adaptive-partition form
labels every vertex with the smallest id of its component (checked
against a driver-side union-find over the same edges) and restores the
session shuffle-partition conf; derived_stream_partitions clamps to
[4, session default]."""

import pytest


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
    """A session default above the loop's floor of 4, so the loop really
    lowers the conf and the restore is observable."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    yield "16"
    spark.conf.set("spark.sql.shuffle.partitions", old)


def test_cc_labels_match_union_find_and_restore_conf(spark, wide_parts):
    from etielle_spark.operators.graph import connected_components_df

    # a path graph (multi-round convergence), a disjoint triangle, and
    # a chain whose smallest id sits mid-path
    rows = (
        [(i, i + 1) for i in range(30)]
        + [(100, 101), (101, 102), (102, 100)]
        + [(205, 203), (203, 201), (201, 204), (204, 202)]
    )
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    labels = sorted(
        (r["id"], r["component"])
        for r in connected_components_df(edges, "id_a", "id_b").collect()
    )
    assert labels == _union_find_labels(rows)
    assert {c for _, c in labels} == {0, 100, 201}
    # the loop's reduced shuffle-partition conf must not leak out
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_parts


def test_cc_conf_restored_on_nonconvergence_error(spark, wide_parts):
    from etielle_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components_df(edges, "id_a", "id_b", max_iter=1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_parts


def test_derived_stream_partitions_clamps(spark):
    from etielle_spark.streaming.windows import derived_stream_partitions

    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert derived_stream_partitions(spark, 1) == min(cur, 4)
    assert derived_stream_partitions(spark, 10_000_000) == cur
    # ceil(125k / 50k) = 3 -> floor of 4 applies
    assert derived_stream_partitions(spark, 125_000) == min(cur, 4)
    assert derived_stream_partitions(spark, 250_000, rows_per_task=50_000) == min(
        cur, 5
    )
