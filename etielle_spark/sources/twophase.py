"""Two-phase FK insert against DB-generated parent IDs.

Reference behavior (Supabase path, etielle/fluent.py:902-1059): insert
parents, capture returned generated IDs (row-count mismatch is an error),
populate child FK columns from the returned rows, insert children.

Spark has no RETURNING, so the pattern is: stage parents with their
natural keys -> write -> read the written table back -> join children to
written parents on the natural key to pick up generated IDs (SURVEY §7
hard part #4).  With a real database the generated column comes from the
DB (IDENTITY/SERIAL); the parquet variant below synthesizes it at write
time so the full flow is exercisable anywhere.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, functions as F


def stage_with_generated_ids(
    parent_df: DataFrame,
    *,
    natural_key: list[str],
    gen_col: str = "gen_id",
) -> tuple[DataFrame, DataFrame, int]:
    """Attach dense unique ids (1..N) via per-partition offsets.

    Returns ``(staged, pinned, n)``: the id-bearing frame, the persisted
    intermediate (caller unpersists after its action), and the row count.
    The plan contains no single-partition exchange: the row_number window
    is partitioned by ``spark_partition_id()`` and the cumulative offsets
    are a driver-computed map literal over |partitions| entries.
    """
    from pyspark.sql import Window

    part = parent_df.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy(*[F.col(k) for k in natural_key])
    local = part.withColumn("__local", F.row_number().over(w))
    # pin the partition layout: the offsets job and the downstream action
    # must see identical __pid assignments
    local = local.persist()
    counts = {
        r["__pid"]: r["n"]
        for r in local.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    items = []
    n_staged = 0
    for pid in sorted(counts):
        items.extend([F.lit(pid), F.lit(n_staged)])
        n_staged += counts[pid]
    if items:
        offsets = F.create_map(*items)
        gen = (F.element_at(offsets, F.col("__pid")) + F.col("__local")).cast("bigint")
    else:
        gen = F.lit(None).cast("bigint")
    staged = local.withColumn(gen_col, gen).drop("__pid", "__local")
    return staged, local, n_staged


def write_parents_with_generated_ids(
    spark: SparkSession,
    parent_df: DataFrame,
    path: str,
    *,
    natural_key: list[str],
    gen_col: str = "gen_id",
) -> DataFrame:
    """Phase 1: write parents, return the written rows WITH generated ids.

    Generated ids are unique and dense (1..N), synthesized with
    per-partition offsets — a local row_number per partition plus a
    driver-computed cumulative offset per partition (the zipWithIndex
    recipe, DataFrame-native).  No global ``Window.orderBy``: a
    single-partition window would funnel every parent row through one
    task, which is a scale-killer on a wide parent table.  Ids follow
    partition layout rather than a global natural-key sort — exactly the
    guarantee a DB IDENTITY column gives under parallel inserts.  The
    read-back is from storage, exactly like a JDBC re-select.  Raises if
    the read-back row count mismatches the staged count (reference
    fluent.py:985-1000 row-count check).
    """
    staged, local, n_staged = stage_with_generated_ids(
        parent_df, natural_key=natural_key, gen_col=gen_col
    )
    try:
        staged.write.mode("overwrite").parquet(path)
    finally:
        local.unpersist()
    written = spark.read.parquet(path)
    n_written = written.count()
    if n_staged != n_written:
        raise RuntimeError(
            f"two-phase write: staged {n_staged} parent rows but read back "
            f"{n_written} — generated-ID capture is unsafe"
        )
    return written


def populate_child_fk(
    child_df: DataFrame,
    written_parents: DataFrame,
    *,
    by: dict[str, str],
    fk_col: str,
    gen_col: str = "gen_id",
    required: bool = False,
) -> DataFrame:
    """Phase 2: children pick up the parent's generated id via a
    natural-key equi join (``fluent._bind``: the parents become a
    broadcast (key, id) index — parents of one batch are small relative
    to fact children).  A natural key written more than once resolves to
    its greatest generated id, so the result does not depend on the
    read-back order.  A child with a NULL key keeps a NULL fk and is
    never missing; ``required=True`` raises on the others
    (``fluent._orphans``)."""
    from ..fluent import _bind, _orphans

    (cf, pf), *rest = by.items()
    if rest:
        raise ValueError("populate_child_fk: single natural-key pair only")
    # cast the parent key to the CHILD key's exact dtype before joining:
    # the Supabase flow lifts echoed rows through json.dumps(default=str),
    # so date/timestamp/Decimal natural keys arrive as strings, and an
    # implicit-cast equality that misses would silently leave child FKs
    # NULL with required=False
    child_key_type = dict(child_df.dtypes)[cf]
    parent_side = written_parents.select(
        F.col(pf).cast(child_key_type).alias("__tp_key"), F.col(gen_col)
    )
    pairs = [(cf, "__tp_key")]
    if required:
        rows = _orphans(child_df, parent_side, pairs).limit(3).collect()
        if rows:
            raise RuntimeError(
                f"two-phase FK: children reference unwritten parents: "
                f"{[r[cf] for r in rows]}"
            )
    return _bind(child_df, parent_side, pairs, fk_col, gen_col, gen_col)


def supabase_two_phase_insert(
    client,
    parent_table: str,
    parent_df: DataFrame,
    child_table: str,
    child_df: DataFrame,
    *,
    by: dict[str, str],
    fk_col: str,
    gen_col: str = "id",
    batch_size: int = 1000,
    required: bool = False,
) -> tuple[DataFrame, int, int]:
    """The reference's Supabase two-phase FK flow
    (etielle/fluent.py:902-1059) composed over this repo's verified
    pieces: insert parents through :func:`..supabase.insert_returning`
    (which enforces the returned-row-count check), lift the server-echoed
    rows — carrying the DB-generated ``gen_col`` — back into a DataFrame,
    populate the children's ``fk_col`` with a natural-key broadcast join
    (:func:`populate_child_fk`), then insert the children.

    ``by`` maps child natural-key column -> parent natural-key column,
    exactly like the fluent ``link_to(by=...)`` spec.  Returns
    ``(children_with_fk, n_parents, n_children)``.

    Scale note: like the reference, phase 1 pages the PARENT rows through
    the driver (an HTTP row API has no other shape) — parents are the
    dimension side by construction; the child join stays a distributed
    broadcast join, and the child insert streams one partition at a time.
    """
    import json

    from ..fluent import read_json_payloads
    from .supabase import SupabaseSink, insert_returning

    spark = parent_df.sparkSession
    parent_rows = [r.asDict(recursive=True) for r in parent_df.toLocalIterator()]
    returned = insert_returning(
        client, parent_table, parent_rows, batch_size=batch_size
    )
    if not returned:
        raise ValueError(
            f"supabase_two_phase_insert: parent table '{parent_table}' "
            "returned no rows — nothing to wire child FKs against"
        )
    # lift the echoed rows through JSON, not createDataFrame's sampling
    # type inference — a nullable column that is None in EVERY echoed row
    # would make inference raise AFTER phase 1 already committed the
    # parent inserts (json reads an all-null column as string, which is
    # fine: only the natural-key and gen_col columns are consumed here)
    written = read_json_payloads(
        spark, [json.dumps(r, default=str) for r in returned]
    )
    if gen_col not in written.columns:
        raise ValueError(
            f"supabase_two_phase_insert: returned rows have no "
            f"'{gen_col}' column — the server did not echo the generated id "
            f"(returned columns: {written.columns})"
        )
    children = populate_child_fk(
        child_df, written, by=by, fk_col=fk_col, gen_col=gen_col,
        required=required,
    )
    sink = SupabaseSink(client, batch_size=batch_size)
    sink.write(child_table, children)
    return children, len(returned), len(sink.returned.get(child_table, []))
