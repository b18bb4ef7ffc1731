"""Graph operators over edge DataFrames: PageRank power iteration.

A 100 TB link graph lives as an edge table; each PageRank iteration is
one join (edges x current ranks, co-partitioned on the source key) and
one destination-keyed aggregation — the canonical distributed PR step.
The rank frame stays tiny relative to edges (one row per node), and
iteration count is a driver-side loop over DataFrame plans (no
collect); persist the rank frame between iterations on a real cluster
to cut lineage depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import partitions_for_rows


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    iterations: int = 2,
    damping: float = 0.85,
    round_to: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Every node must appear as a source at least once (feed an
    undirected graph as both edge directions) so there are no dangling
    nodes; nodes receiving no links still get the teleport term via a
    left join.  Ranks are normalized so the mean is 1 (``rank = N *
    pr``), which keeps the rounded output informative at any graph
    size.

    Returns ``(node, rank)`` — one row per node.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).distinct()
    nodes = e.select(F.col("__src").alias("__node")).distinct()
    outdeg = e.groupBy("__src").agg(
        F.count(F.lit(1)).cast("double").alias("__deg")
    )
    # normalized rank: init 1.0 per node; teleport term is (1-d) so the
    # mean stays 1 every iteration (sum of contribs preserves total mass)
    pr = nodes.select("__node", F.lit(1.0).alias("__pr"))
    for _ in range(iterations):
        contribs = (
            e.join(pr, e["__src"] == pr["__node"])
            .join(outdeg, "__src")
            .select(
                F.col("__dst").alias("__node"),
                (F.col("__pr") / F.col("__deg")).alias("__share"),
            )
            .groupBy("__node")
            .agg(F.sum("__share").alias("__in"))
        )
        pr = nodes.join(contribs, "__node", "left").select(
            "__node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
            ).alias("__pr"),
        )
    return pr.select(
        F.col("__node").alias("node"), F.round("__pr", round_to).alias("rank")
    )


def triangle_count(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    top_n: int | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list, via the
    degree-oriented wedge join (Cohen 2009 / Suri-Vassilvitskii 2011).

    Edges canonicalize to ``a < b`` distinct pairs, then orient from the
    lower-(degree, id) endpoint to the higher: every triangle is
    enumerated exactly once from its lowest-degree corner, and — the
    scale property — wedge generation is bounded by sum(min-degree^2)
    instead of sum(degree^2), so a hub with degree 10^6 in a 100 TB
    graph contributes nothing quadratic (its edges orient INTO it).
    Two shuffles: the wedge self-join on the oriented source and the
    closing-edge equi-join; the final per-node rollup explodes each
    triangle's three corners.

    Returns ``(node, n_triangles)``; ``top_n`` keeps the busiest nodes
    (ties -> smaller node).
    """
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    und = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        und.join(deg.select(F.col("n").alias("a"), F.col("d").alias("__da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("__db")), "b")
        .select(
            F.when(
                (F.col("__da") < F.col("__db"))
                | ((F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("u"),
                    F.col("b").alias("v"),
                    F.struct(
                        F.col("__db").alias("d"), F.col("b").alias("n")
                    ).alias("vo"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.struct(
                        F.col("__da").alias("d"), F.col("a").alias("n")
                    ).alias("vo"),
                )
            )
            .alias("__e")
        )
        .select("__e.u", "__e.v", "__e.vo")
    )
    # Wedge (u; y, z) keeps only rank(y) < rank(z) under the SAME
    # (degree, id) total order the orientation uses, so the closing edge
    # is exactly the oriented pair (y -> z) and the join is a plain
    # equi-join — no OR-condition nested loop.
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"), F.col("vo").alias("yo"))
    e2 = e.select(F.col("u").alias("x"), F.col("v").alias("z"), F.col("vo").alias("zo"))
    wedges = e1.join(e2, "x").filter(F.col("yo") < F.col("zo"))
    closing = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"], "left_semi")
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    if top_n is not None:
        per_node = per_node.orderBy(
            F.col("n_triangles").desc(), F.col("node").asc()
        ).limit(top_n)
    return per_node


def connected_components_df(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Distributed connected components over an edge DataFrame by
    iterative min-label propagation: every vertex starts labeled with
    itself; each round takes the min of its own label and its
    neighbors' labels, THEN pointer-jumps (``l(v) <- min(l(v),
    l(l(v)))``, the Shiloach-Vishkin shortcut) — convergence is
    O(log max component diameter), so a 600-vertex path needs ~10
    rounds, not 599 (round 7; web near-dup graphs chain through
    boilerplate overlaps exactly like that).  ``max_iter`` bounds
    pathological graphs, raising rather than returning a
    half-converged labeling.

    Plan shape per round: one join of the symmetrized edge frame with
    the (one-row-per-vertex) label frame on the destination key, one
    min-aggregation on the vertex key, one pointer-jump self-join of
    its (cached) result, and one scalar convergence count — the label
    frame rides every shuffle, edges are re-scanned from their
    persisted form, nothing is collected.  This is the standard
    scalable CC recipe (hash-to-min; cf. Rastogi et al. 2013 — public
    algorithm, reimplemented here on DataFrames).  The loop's shuffles
    are sized on its own frames, never through the session conf.

    Each round CHECKPOINTS the label frame (reliable checkpoint when a
    checkpoint dir is configured, local otherwise): the round's plan
    references the previous labels twice, so without truncation the
    logical plan doubles per round — exponential planner blowup, the
    known failure mode of every iterative DataFrame algorithm.  On a
    real cluster set ``sparkContext.setCheckpointDir`` so label loss on
    executor failure recovers from storage instead of rerunning the
    loop.  Storage of superseded rounds: local-checkpoint blocks are
    MEMORY_AND_DISK and are reaped when the dropped per-round
    references are GC'd (LRU-evictable meanwhile); reliable-checkpoint
    FILES of round N-1 are DELETED inside the loop as soon as round N
    is materialized and the convergence count (the last consumer of
    round N-1) has run — a long-running driver calling this repeatedly
    leaks nothing, and the checkpoint dir holds O(1) round files at any
    moment.  Only the CONVERGED round's files outlive the call (the
    returned frame reads them); ``get_spark`` sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
    Spark's reference-tracking cleaner removes those once the returned
    frame is garbage-collected.

    Returns ``(id, component)`` with ``component`` = the smallest id in
    the vertex's component, one row per vertex that appears in any edge.
    """
    from pyspark import StorageLevel

    e = edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
    base = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    spark = e.sparkSession
    # scale-adaptive LOOP partition count from the symmetrized edge
    # count: each round shuffles one ~16-byte row per vertex/edge, and
    # at the session default a small graph pays tens of near-empty tasks
    # per stage per round (~1.2 s/round at 375k labels on local[32]).
    #
    # One pointer jump per round: a double jump was bit-identical but
    # LOST 2 of 3 cold-JVM pairs through the real q239 path (the extra
    # label-frame self-join per round costs more in plan construction,
    # codegen and stages than the dropped rounds save at this scale;
    # OPTIMIZATION_r11.md).
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    loop_parts = partitions_for_rows(spark, base.count())

    reliable = spark.sparkContext.getCheckpointDir() is not None

    def _truncate(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    def _ckpt_path(df: DataFrame) -> str | None:
        """The reliable-checkpoint file dir behind a df.checkpoint()
        result (a LogicalRDD over the checkpointed RDD), or None when
        the internals don't expose it — then the session-level
        reference-tracking cleaner is the (slower, GC-driven) fallback."""
        if not reliable:
            return None
        try:
            opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
            return opt.get() if opt.isDefined() else None
        except Exception:
            return None

    def _drop_ckpt(path: str | None) -> None:
        if path is None:
            return
        try:
            jvm = spark.sparkContext._jvm
            p = jvm.org.apache.hadoop.fs.Path(path)
            fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
            fs.delete(p, True)
        except Exception:
            # cleanup must never fail the algorithm; the cleaner flag
            # reaps anything this misses
            pass

    # pre-partition the persisted edge frame on the per-round join key:
    # the cached partitioning satisfies the join every round, and the
    # label side's shuffle takes its count from it — the standard
    # iterative-join layout.
    sym = base.repartition(loop_parts, F.col("d")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    labels = _truncate(
        sym.select(F.col("s").alias("id"))
        .repartition(loop_parts, "id")
        .distinct()
        .withColumn("component", F.col("id"))
    )
    # the labels action materialized sym; the pre-repartition frame's
    # cache is now redundant
    base.unpersist()

    from pyspark.sql import Observation

    comp_t = labels.schema["component"].dataType
    for _ in range(max_iter):
        prop = sym.join(labels, sym["d"] == labels["id"]).select(
            F.col("s").alias("id"),
            F.col("component"),
            F.lit(None).cast(comp_t).alias("__old"),
        )
        # each vertex's PRE-round label rides the union as __old (one
        # non-null value per id, so max() recovers it through the
        # min-label aggregation): the convergence check then computes
        # inside the round's own checkpoint action via observe().  cand
        # is cached because the pointer jump reads it twice (uncached,
        # each side recomputes the union's shuffle); its partitioning
        # also sizes the jump's shuffle.
        cand = (
            labels.select("id", "component", F.col("component").alias("__old"))
            .unionByName(prop)
            .repartition(loop_parts, "id")
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("__old").alias("__old"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # pointer jump: labels are vertex ids, so l(l(v)) is one
        # self-join of the candidate labels
        parent = cand.select(
            F.col("id").alias("__pid"), F.col("component").alias("__pc")
        )
        jumped = cand.join(
            parent, cand["component"] == parent["__pid"], "left"
        ).select(
            cand["id"],
            F.least(
                cand["component"],
                F.coalesce(F.col("__pc"), cand["component"]),
            ).alias("component"),
            cand["__old"],
        )
        obs = Observation()
        new_labels = _truncate(
            jumped.observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("__old")).cast("long")
                ).alias("changed"),
            ).select("id", "component")
        )
        cand.unpersist()
        changed = int(obs.get["changed"] or 0)
        # round N is materialized and the convergence count rode its
        # checkpoint action: round N-1's checkpoint files are garbage
        # NOW — delete them so the dir holds O(1) rounds
        superseded = _ckpt_path(labels)
        labels = new_labels
        _drop_ckpt(superseded)
        if changed == 0:
            sym.unpersist()
            return labels
    sym.unpersist()
    raise RuntimeError(
        f"connected_components_df: not converged after {max_iter} rounds — "
        "raise max_iter (component diameter exceeds it)"
    )
