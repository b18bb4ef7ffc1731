"""Fluent pipeline builder that compiles to Spark DataFrame plans.

API parity with the reference's ``etl(...)`` builder (etielle/fluent.py):
``goto/goto_root/each/map_to/link_to/backlink/build_index/load/run``.  The
decisive architectural difference: the reference *interprets* the pipeline
per JSON node in Python (etielle/executor.py:217-437); this engine
*compiles* it into declarative DataFrame operations —

- ``goto``      -> nested column access
- ``each``      -> ``posexplode`` (lists) / map-entries explode (dicts)
- ``map_to``    -> projection (+ groupBy for ``join_on`` keyed merge)
- merge policy  -> aggregate function over a synthesized arrival order
- ``link_to``   -> equi join (FK population); ``backlink`` -> explode+join+collect_list
- ``build_index``/``lookup`` -> broadcast map probe
- ``load``      -> topologically ordered writes

so Catalyst gets the whole plan (pushdown, pruning, broadcast, AQE) and the
same pipeline definition scales from one JSON doc to a 100 TB DataFrame of
docs: ``etl(df_of_documents)`` treats every row as a root.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field as dc_field
from difflib import get_close_matches
from functools import partial
from typing import Any, Callable, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .core import (
    MARKER_FIELDS,
    CompileEnv,
    Field,
    LevelEnv,
    TempField,
    Transform,
    parse_path,
    resolve_path,
    strip_marker_fields,
)
from .colcache import bq, cexpr, qcol
from .models import is_model_class, spark_schema_of, table_name_of
from .policies import LastWriteWinsPolicy, MergePolicy
from .telemetry import (
    FlushCompleted,
    FlushFailed,
    FlushStarted,
    MapCompleted,
    MapStarted,
    emit,
)
from .utils import topological_order

_ORD = "__ord"
_SEQ = "__seq"


# ---------------------------------------------------------------------------
# Specs recorded by the builder (IR #1 — reference: etielle/fluent.py:295-301)
# ---------------------------------------------------------------------------


@dataclass
class EmissionSpec:
    seq: int
    root_index: int
    iter_points: list[tuple[list, str]]  # (relative path segments, mode)
    trailing: list  # path segments after the last each()
    table: str
    fields: list[Union[Field, TempField]]
    join_on: Optional[list[str]]
    schema: Optional[T.StructType]
    errors: Optional[str]
    # user assertion that join_on keys are distinct in this emission —
    # lets _assemble_table skip the LWW merge when Catalyst can't prove it
    assume_distinct: bool = False


@dataclass
class LinkSpec:
    child: str
    parent: str
    by: dict[str, str]  # child_field -> parent_field
    fk: Optional[str]
    required: bool


@dataclass
class BacklinkSpec:
    parent: str
    child: str
    attr: str
    by: dict[str, str]  # parent_list_field -> child_field
    fail_on_missing: bool


@dataclass
class IndexSpec:
    name: str
    from_dict: Optional[dict] = None
    # traversal-built index:
    root_index: int = 0
    iter_points: list = dc_field(default_factory=list)
    trailing: list = dc_field(default_factory=list)
    key: Optional[Transform] = None
    value: Optional[Transform] = None


# ---------------------------------------------------------------------------
# Root handling
# ---------------------------------------------------------------------------


def _plain_py(v: Any) -> Any:
    """Collected Spark values -> plain Python (Row -> dict, VariantVal ->
    its Python value, recursively).  Serialization markers never surface:
    a pure-{} dict materializes as {} (its struct representation keeps
    the __empty__ marker column-side, see core.strip_marker_fields)."""
    from pyspark.sql import Row

    if isinstance(v, T.VariantVal):
        return _plain_py(v.toPython())
    if isinstance(v, Row):
        return {
            k: _plain_py(x) for k, x in v.asDict().items() if k not in MARKER_FIELDS
        }
    if isinstance(v, dict):
        return {k: _plain_py(x) for k, x in v.items() if k not in MARKER_FIELDS}
    if isinstance(v, (list, tuple)):
        return [_plain_py(x) for x in v]
    return v


def _freeze(v: Any) -> Any:
    """Hashable view of a collected value (for row_set comparisons)."""
    if isinstance(v, dict):
        return tuple(sorted((k, _freeze(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_freeze(x) for x in v)
    return v


def _json_key(k: Any) -> str:
    """The key string json.dumps would emit for a non-str dict key."""
    if isinstance(k, str):
        return k
    if k is True:
        return "true"
    if k is False:
        return "false"
    if k is None:
        return "null"
    if isinstance(k, float):
        return float.__repr__(k)
    return str(k)


def _collect_kinds(obj: Any, path: tuple, kinds: dict) -> None:
    """Record the JSON kind (dict / list / string / number) observed at
    every path across a batch of roots; list elements share one path
    segment ('*') because spark.read.json infers one element type per
    array.

    Strings and numbers are DISTINCT kinds: a path carrying 7 in one
    sibling and '7' in another must not coerce (Python dict semantics —
    the reference keeps them distinct values and ``lookup`` keys never
    cross the number/string boundary), so such paths ride as variants.
    int/float/bool stay one kind: Python's numeric tower already treats
    1 == 1.0 == True as equal."""
    if obj is None:
        return
    if isinstance(obj, dict):
        kinds.setdefault(path, set()).add("d")
        for k, v in obj.items():
            _collect_kinds(v, path + (_json_key(k),), kinds)
    elif isinstance(obj, list):
        kinds.setdefault(path, set()).add("l")
        for v in obj:
            _collect_kinds(v, path + ("*",), kinds)
    elif isinstance(obj, str):
        kinds.setdefault(path, set()).add("s")
    else:
        kinds.setdefault(path, set()).add("n")


def _variant_paths(objs: list) -> frozenset:
    """Paths where sibling documents DISAGREE on list vs dict vs scalar —
    spark.read.json would squash those to raw JSON strings, destroying
    the values; they are wrapped as variants instead (see _prepare_obj).
    Only the OUTERMOST mixed path per branch is returned (everything
    below it rides inside the variant payload)."""
    kinds: dict = {}
    for o in objs:
        _collect_kinds(o, (), kinds)
    mixed = {p for p, ks in kinds.items() if len(ks) > 1}
    out = set()
    for p in mixed:
        if not any(p[:i] in mixed for i in range(len(p))):
            out.add(p)
    return frozenset(out)


def _prepare_obj(
    obj: Any, variant_paths: frozenset = frozenset(), path: tuple = ()
) -> Any:
    """Serialize-time markers for in-memory JSON roots.

    1. {} -> {"__empty__": None}: spark.read.json silently DROPS fields
       whose value is {} everywhere; the marker keeps the value
       struct-typed so the entry stays visible (and iterates zero rows).
    2. Every non-empty dict gets "__keys__": [its own keys, in insertion
       order].  Schema inference unions sibling dicts into one struct, so
       without presence info dict iteration would emit the UNION's keys
       per row (phantom (key, NULL) entries) in alphabetical schema order;
       __keys__ restores exact per-row membership and insertion order —
       the reference's Python dict semantics.
    3. Paths where sibling documents mix list/dict/scalar kinds (from
       ``_variant_paths``) serialize as ``{"__variant__": <raw json>}``:
       schema inference would squash the mix to a useless string, while
       parse_json of the payload yields a faithful VariantType value —
       per-row key membership included, so no ``__keys__`` is needed
       inside.

    DataFrame roots carry no markers: there the struct schema itself is
    the document shape (a known representation boundary — every row
    iterates the full schema).
    """
    if path in variant_paths and obj is not None:
        return {"__variant__": json.dumps(obj)}
    if isinstance(obj, dict):
        if not obj:
            return {"__empty__": None}
        out: dict[str, Any] = {}
        keys: list[str] = []
        for k, v in obj.items():
            jk = _json_key(k)
            if jk in MARKER_FIELDS:
                raise ValueError(
                    f"in-memory roots must not contain the reserved key "
                    f"{jk!r} (internal serialization marker)"
                )
            keys.append(jk)
            out[jk] = _prepare_obj(v, variant_paths, path + (jk,))
        out["__keys__"] = keys
        return out
    if isinstance(obj, list):
        return [_prepare_obj(v, variant_paths, path + ("*",)) for v in obj]
    return obj


def _null_only_paths(prepared_objs: list) -> frozenset:
    """Paths (prepared-JSON space, list segment '*') whose EVERY observed
    value across the batch is None.  spark.read.json infers such leaves
    as STRING, which then poisons cross-emission unions — unionByName
    coerces long+string to string, silently stringifying the other
    emission's real values (the round-7 fuzz shape-11 find).  Containers
    mark their own path non-null; marker fields stay as inferred."""
    seen: dict[tuple, bool] = {}

    def walk(o: Any, p: tuple) -> None:
        if isinstance(o, dict):
            seen[p] = True
            for k, v in o.items():
                walk(v, p + (k,))
        elif isinstance(o, list):
            seen[p] = True
            for v in o:
                walk(v, p + ("*",))
        else:
            seen[p] = seen.get(p, False) or (o is not None)

    for o in prepared_objs:
        walk(o, ())
    return frozenset(
        p
        for p, nonnull in seen.items()
        if not nonnull and (not p or p[-1] not in MARKER_FIELDS)
    )


def _voidify(dt: T.DataType, p: tuple, nulls: frozenset) -> T.DataType:
    """Rewrite the inferred schema: null-only leaf paths become NullType
    (VOID), so downstream unions unify them with ANY sibling emission's
    real type instead of dragging everything to string."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name, _voidify(f.dataType, p + (f.name,), nulls), True
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_voidify(dt.elementType, p + ("*",), nulls), True)
    return T.NullType() if p in nulls else dt


def read_json_payloads(
    spark: SparkSession,
    payloads: Sequence[str],
    void_paths: frozenset = frozenset(),
) -> DataFrame:
    """``spark.read.json`` over in-memory JSON documents, one per payload,
    parsed on the JVM by ``DataFrameReader.json(Dataset[String])``.  The
    plan leaf is a one-partition JSON scan, and no scan of it starts a
    Python worker.

    The payloads cross py4j as ONE newline-joined string (a Python list
    would cost one py4j round trip per element) and are split back into
    rows in SQL.  That is exact because a payload never holds a raw
    newline: ``json.dumps`` escapes every control character.  A payload
    that does (pretty-printed JSON) raises instead of splitting.

    ``void_paths`` (see ``_null_only_paths``) re-reads the same rows under
    the inferred schema with those leaves rewritten to VOID."""
    if any("\n" in p for p in payloads):
        raise ValueError("JSON payloads must be single-line documents")
    jvm = spark._jvm
    strings = jvm.Encoders.STRING()
    # zero payloads join to one empty line, which reads as struct<> and
    # no rows, like an empty RDD
    text = jvm.java.util.Collections.singletonList("\n".join(payloads))
    # char(10), not a '\n' literal: literal escapes follow session conf
    lines = spark._jsparkSession.createDataset(text, strings).withColumn(
        "value", jvm.functions.expr("explode(split(value, char(10), -1))")
    )
    ds = getattr(lines, "as")(strings)
    jdf = DataFrame(spark.read._jreader.json(ds), spark)
    if void_paths:
        fixed = _voidify(jdf.schema, (), void_paths)
        if fixed != jdf.schema:
            jdf = DataFrame(spark.read.schema(fixed)._jreader.json(ds), spark)
    return jdf


def _read_prepared_json(
    spark: SparkSession, payloads: list[str], prepared_objs: list
) -> DataFrame:
    """read_json_payloads with the null-only-leaf schema fix: infer,
    rewrite string-from-nothing leaves to VOID, re-read under the explicit
    schema (values are all NULL there, so the re-read is exact)."""
    return read_json_payloads(spark, payloads, _null_only_paths(prepared_objs))


class _Docs(tuple):
    """Several in-memory JSON documents given as ONE pipeline root, one
    row each in this order (a sequential stream chunk, the eager roots).
    A plain list root stays a single document."""


def _read_docs(spark: SparkSession, docs: Sequence[Any]) -> tuple[DataFrame, T.DataType]:
    """In-memory JSON documents -> one row each: ``__n0`` (the document)
    and ``__roword`` (its ordinal, the cross-document arrival order).

    Each document is wrapped as ``__root__`` so a top-level list or scalar
    stays a single node (spark.read.json would otherwise explode a
    top-level array into rows).  A lone document's ordinal is the literal
    0, not a payload field, so its plan carries no ordinal column through
    the traversal's generators."""
    vp = _variant_paths(docs)
    wrapped = [{"__root__": _prepare_obj(d, vp)} for d in docs]
    if len(wrapped) > 1:
        payloads = [json.dumps({"__roword": i, **w}) for i, w in enumerate(wrapped)]
        ord_text = "CAST(__roword AS BIGINT) AS __roword"
    else:
        payloads = [json.dumps(w) for w in wrapped]
        ord_text = "CAST(0 AS BIGINT) AS __roword"
    jdf = _read_prepared_json(spark, payloads, wrapped)
    if "__root__" not in jdf.columns:
        # no documents: no inferable schema
        return jdf.select(cexpr("NULL AS __n0"), cexpr(ord_text)), T.NullType()
    dtype = jdf.schema["__root__"].dataType
    return jdf.select(cexpr("__root__ AS __n0"), cexpr(ord_text)), dtype


def _root_env(
    spark: SparkSession,
    root: Any,
    indices: dict[str, dict],
    order_col: Optional[str],
    cache: Optional[dict] = None,
) -> tuple[DataFrame, CompileEnv]:
    """The root frame (``__n0`` node, ``__roword`` row order) and its
    compile environment.

    ``cache`` (keyed by id(root)) reuses the wrapped frame across the
    emissions of one run — for in-memory JSON roots this avoids one
    spark.read.json schema-inference job per map_to call.
    """
    key = id(root)
    if cache is not None and key in cache:
        df, dtype = cache[key]
    elif isinstance(root, DataFrame):
        # the order column is arrival metadata, not part of the document
        node_cols = [c for c in root.columns if c != order_col]
        # memoized SQL text: 2 cached expressions instead of
        # ~(2 x n_cols + 6) py4j trips, re-used across micro-batch
        # compiles of the same schema (round 11, guide §7.3)
        ord_text = (
            f"CAST({bq(order_col)} AS BIGINT) AS __roword"
            if order_col
            else "CAST(0 AS BIGINT) AS __roword"
        )
        df = root.select(
            cexpr("struct(" + ", ".join(bq(c) for c in node_cols) + ") AS __n0"),
            cexpr(ord_text),
        )
        dtype = T.StructType([f for f in root.schema.fields if f.name != order_col])
    else:
        df, dtype = _read_docs(spark, root if isinstance(root, _Docs) else [root])
    if cache is not None:
        cache[key] = (df, dtype)
    env = CompileEnv(levels=[LevelEnv(node=F.col("__n0"), dtype=dtype)], indices=indices)
    return df, env


# ---------------------------------------------------------------------------
# Traversal compilation: each() -> explode
# ---------------------------------------------------------------------------


def _explode_level(
    df: DataFrame, env: CompileEnv, rel_path: list, mode: str, lvl: int
) -> tuple[DataFrame, CompileEnv]:
    """Compile one ``each()`` level (reference executor:24-140).

    auto mode by node type: list -> indexed iteration, dict -> key/value
    iteration, scalar -> single, missing/None -> zero rows.  Ancestor node /
    key / pos columns are carried through the explode so that
    ``get_from_parent``/``parent_key``/``parent_index`` compile to plain
    column references (SURVEY.md §7 hard part #2).
    """
    nav, dtype = resolve_path(env.current.node, env.current.dtype, rel_path)
    n, k, p = f"__n{lvl}", f"__k{lvl}", f"__p{lvl}"

    if isinstance(dtype, T.NullType):
        # statically-missing path: zero rows
        df2 = df.filter(F.lit(False)).select("*", F.lit(None).alias(n))
        env.levels.append(LevelEnv(node=F.col(n), dtype=T.NullType()))
        return df2, env

    if isinstance(dtype, T.VariantType) and mode in ("auto", "items"):
        # mixed kinds across sibling documents: per-row dispatch through
        # LATERAL variant_explode_outer — array rows iterate with pos,
        # object rows with (pos, key), non-null scalar rows behave as
        # "single" (auto mode), null/VOID rows yield zero rows; exactly
        # the reference's per-node auto semantics (executor:24-140) when
        # siblings disagree on list vs dict vs scalar.
        import uuid

        src = f"__v{lvl}"
        staged = df.select("*", nav.alias(src))
        tmp = f"__etielle_variant_{lvl}_{uuid.uuid4().hex[:12]}"
        staged.createOrReplaceTempView(tmp)
        spark = staged.sparkSession
        ex = spark.sql(
            f"SELECT t.*, e.pos AS {p}, e.key AS {k}, e.value AS __e{lvl} "
            f"FROM {tmp} t, LATERAL variant_explode_outer(t.{src}) e"
        )
        spark.catalog.dropTempView(tmp)
        kind = F.schema_of_variant(F.col(src))
        container = kind.startswith("ARRAY") | kind.startswith("OBJECT")
        scalar = (
            F.col(src).isNotNull() & ~container & (kind != F.lit("VOID"))
        )
        if mode == "items":
            keep = kind.startswith("OBJECT") & F.col(p).isNotNull()
        else:
            keep = (container & F.col(p).isNotNull()) | scalar
        # keep-list select replaces select + drop + rename (3 analyses -> 1)
        df2 = ex.filter(keep).select(
            *[c for c in ex.columns if c not in (f"__e{lvl}", p)],
            F.when(scalar, F.col(src)).otherwise(F.col(f"__e{lvl}")).alias(n),
            # raw entry position: NULL for scalar-single rows, so index()
            # reports None exactly like the reference's non-iterated node
            F.col(p).cast("long").alias(p),
        )
        env.levels.append(
            LevelEnv(
                node=F.col(n),
                dtype=T.VariantType(),
                key=F.col(k),
                pos=F.col(p),
                variant=True,
                pos_sql=bq(p),
            )
        )
        return df2, env

    if mode == "single" or (
        mode == "auto"
        and not isinstance(dtype, (T.ArrayType, T.MapType, T.StructType))
    ):
        df2 = df.filter(nav.isNotNull()).select("*", nav.alias(n))
        env.levels.append(LevelEnv(node=F.col(n), dtype=dtype))
        return df2, env

    if isinstance(dtype, T.ArrayType):
        df2 = df.select("*", F.posexplode(nav).alias(p, n))
        env.levels.append(
            LevelEnv(
                node=F.col(n),
                dtype=dtype.elementType,
                pos=F.col(p).cast("long"),
                pos_sql=f"CAST({bq(p)} AS BIGINT)",
            )
        )
        return df2, env

    if isinstance(dtype, T.MapType):
        e = f"__e{lvl}"
        df2 = df.select("*", F.posexplode(F.map_entries(nav)).alias(p, e))
        df2 = df2.select(
            *[c for c in df2.columns if c != e],
            F.col(e).getField("key").alias(k),
            F.col(e).getField("value").alias(n),
        )
        env.levels.append(
            LevelEnv(
                node=F.col(n),
                dtype=dtype.valueType,
                key=F.col(k),
                pos=F.col(p).cast("long"),
                pos_sql=f"CAST({bq(p)} AS BIGINT)",
            )
        )
        return df2, env

    if isinstance(dtype, T.StructType):
        # dict iteration.  JSON dicts often have *heterogeneous* value
        # shapes (each key's struct carries different fields); Spark's
        # array() cannot unify those, so entry values are projected onto
        # the union schema first (missing fields -> NULL), which is exactly
        # what the reference's per-item dict semantics yield.
        e = f"__e{lvl}"
        # marker fields (see _prepare_obj) are not entries; a pure-{}
        # struct iterates zero rows
        entry_fields = [f for f in dtype.fields if f.name not in MARKER_FIELDS]
        has_keys = any(f.name == "__keys__" for f in dtype.fields)
        if not entry_fields:
            df2 = df.filter(F.lit(False)).select("*", F.lit(None).alias(n))
            env.levels.append(LevelEnv(node=F.col(n), dtype=T.NullType()))
            return df2, env
        value_types = [fld.dataType for fld in entry_fields]
        unified = _unify_types(value_types)

        def as_unified(col: Column, src: T.DataType) -> Column:
            return _project_to(col, src, unified)

        if has_keys and not isinstance(unified, T.NullType):
            # in-memory root: __keys__ carries this row's OWN keys in
            # insertion order — iterate exactly those (sibling rows whose
            # dicts have different keys emit no phantom entries).  NULL
            # __keys__ means the dict was empty ({} sibling) -> zero rows.
            # kv is rebuilt per element by Catalyst (CollapseProject), but
            # dict widths are small so the O(keys * fields) cost is noise.
            kv = F.map_from_arrays(
                F.array(*[F.lit(fld.name) for fld in entry_fields]),
                F.array(
                    *[
                        as_unified(nav.getField(fld.name), fld.dataType)
                        for fld in entry_fields
                    ]
                ),
            )
            keys_arr = nav.getField("__keys__")
            entries = F.when(
                nav.isNotNull() & keys_arr.isNotNull(),
                F.transform(
                    keys_arr,
                    lambda k: F.struct(
                        k.alias("key"), F.try_element_at(kv, k).alias("value")
                    ),
                ),
            )
        elif has_keys:
            # all entry values are statically NULL-typed
            keys_arr = nav.getField("__keys__")
            entries = F.when(
                nav.isNotNull() & keys_arr.isNotNull(),
                F.transform(
                    keys_arr,
                    lambda k: F.struct(
                        k.alias("key"), F.lit(None).alias("value")
                    ),
                ),
            )
        else:
            # DataFrame root: no presence info — the struct schema IS the
            # document shape; every row iterates the full schema in schema
            # order (documented representation boundary)
            entries = F.when(
                nav.isNotNull(),
                F.array(
                    *[
                        F.struct(
                            F.lit(fld.name).alias("key"),
                            as_unified(nav.getField(fld.name), fld.dataType).alias(
                                "value"
                            ),
                        )
                        for fld in entry_fields
                    ]
                ),
            )
        df2 = df.select("*", F.posexplode(entries).alias(p, e))
        df2 = df2.select(
            *[c for c in df2.columns if c != e],
            F.col(e).getField("key").alias(k),
            F.col(e).getField("value").alias(n),
        )
        value_type = df2.schema[n].dataType
        env.levels.append(
            LevelEnv(
                node=F.col(n),
                dtype=value_type,
                key=F.col(k),
                pos=F.col(p).cast("long"),
                pos_sql=f"CAST({bq(p)} AS BIGINT)",
            )
        )
        return df2, env

    if isinstance(dtype, T.VariantType):
        raise TypeError(
            "each(): this node has mixed kinds across sibling documents "
            "(variant-typed); iterate a consistently-shaped path, or "
            "restructure the input so siblings agree on list vs dict vs "
            "scalar"
        )
    raise TypeError(f"each(): cannot iterate node of type {dtype.simpleString()}")


def _unify_types(types: list[T.DataType]) -> T.DataType:
    """Least-common type across sibling dict values.

    Same-kind siblings unify structurally: structs merge field-wise,
    arrays unify element-wise, identical scalars pass through, differing
    scalars fall back to string.  A KIND mix (the same field carrying a
    struct in one sibling and an array or scalar in another) becomes
    ``VariantType`` — a single column type that faithfully holds any JSON
    value, so the scalar sibling keeps its value instead of reading NULL
    (the round-1 representation boundary)."""
    from .core import is_variant_wrapper

    non_null = [t for t in types if not isinstance(t, T.NullType)]
    if not non_null:
        return T.NullType()
    first = non_null[0]
    if all(t == first for t in non_null) and not is_variant_wrapper(first):
        return first
    if any(
        isinstance(t, T.VariantType) or is_variant_wrapper(t) for t in non_null
    ):
        return T.VariantType()
    structs = [t for t in non_null if isinstance(t, T.StructType)]
    arrays = [t for t in non_null if isinstance(t, T.ArrayType)]
    scalars = [
        t
        for t in non_null
        if not isinstance(t, (T.StructType, T.ArrayType, T.MapType))
    ]
    kinds = sum(1 for group in (structs, arrays, scalars) if group)
    if kinds > 1 or any(isinstance(t, T.MapType) for t in non_null):
        return T.VariantType()
    if structs:
        merged: dict[str, list[T.DataType]] = {}
        order: list[str] = []
        for st in structs:
            for f in st.fields:
                if f.name not in merged:
                    merged[f.name] = []
                    order.append(f.name)
                merged[f.name].append(f.dataType)
        return T.StructType(
            [T.StructField(nm, _unify_types(merged[nm]), True) for nm in order]
        )
    if arrays:
        return T.ArrayType(_unify_types([t.elementType for t in arrays]), True)
    return T.StringType()


def _contains_struct(dtype: T.DataType) -> bool:
    if isinstance(dtype, (T.StructType, T.MapType)):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_struct(dtype.elementType)
    return False


def _has_void(t: T.DataType) -> bool:
    if isinstance(t, T.NullType):
        return True
    if isinstance(t, T.StructType):
        return any(_has_void(f.dataType) for f in t.fields)
    if isinstance(t, T.ArrayType):
        return _has_void(t.elementType)
    return False


def _devoid_type(t: T.DataType) -> T.DataType:
    """VOID positions become string — their values are always NULL and
    JSON null is typeless, but ``to_variant_object`` refuses structs
    carrying VOID fields (the round-7 null-only-leaf schema fix made
    those reachable)."""
    if isinstance(t, T.NullType):
        return T.StringType()
    if isinstance(t, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _devoid_type(f.dataType), True)
                for f in t.fields
            ]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_devoid_type(t.elementType), True)
    return t


def _project_to(col: Column, src: T.DataType, dst: T.DataType) -> Column:
    """Reshape ``col`` (of type src) onto the unified type dst.

    Kind mismatches (scalar where the union is a struct/array) become
    NULL — the reference's ``get`` likewise returns None when navigating
    into a scalar.
    """
    if src == dst or isinstance(src, T.NullType):
        return col.cast(dst) if not src == dst else col
    if isinstance(dst, T.VariantType):
        # markers never enter a variant (its Python materialization is the
        # value itself); structs and struct-bearing containers need
        # to_variant_object, scalar/plain-array kinds cast directly
        col, src = strip_marker_fields(col, src)
        if isinstance(src, T.VariantType):  # unwrapped serialize-time wrapper
            return col
        if _has_void(src):
            devoided = _devoid_type(src)
            col, src = col.cast(devoided), devoided
        if isinstance(src, (T.StructType, T.MapType)) or _contains_struct(src):
            return F.to_variant_object(col)
        return col.cast(T.VariantType())
    if isinstance(dst, T.StructType):
        if not isinstance(src, T.StructType):
            return F.lit(None).cast(dst)
        have = {f.name: f.dataType for f in src.fields}
        parts = []
        for f in dst.fields:
            if f.name in have:
                parts.append(
                    _project_to(col.getField(f.name), have[f.name], f.dataType).alias(
                        f.name
                    )
                )
            else:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
        return F.when(col.isNotNull(), F.struct(*parts))
    if isinstance(dst, T.ArrayType):
        if not isinstance(src, T.ArrayType):
            return F.lit(None).cast(dst)
        return F.transform(
            col, lambda x: _project_to(x, src.elementType, dst.elementType)
        )
    return col.cast(dst)


def _trailing_level(
    df: DataFrame, env: CompileEnv, trail: list, lvl: int
) -> tuple[DataFrame, CompileEnv]:
    """Trailing ``goto`` after the last ``each``: navigate without
    iterating.  A missing/None trailing node still emits its row with
    NULL fields (verified against the reference executor — unlike
    ``each()``, trailing navigation never filters)."""
    nav, dtype = resolve_path(env.current.node, env.current.dtype, trail)
    n = f"__n{lvl}"
    df2 = df.select("*", nav.alias(n))
    env.levels.append(LevelEnv(node=F.col(n), dtype=dtype))
    return df2, env


# ---------------------------------------------------------------------------
# Pipeline result
# ---------------------------------------------------------------------------


# API-parity aliases (reference fluent.py:41, 78)
ErrorMode = str  # "collect" | "fail_fast"
FieldUnion = Union[Field, TempField]


@dataclass
class TableStats:
    """Per-table execution statistics (reference fluent.py:164-178)."""

    mapped: int
    errors: int
    inserted: int = 0
    failed: int = 0


class PipelineResult:
    """Output tables as DataFrames (reference: PipelineResult/tables proxy,
    etielle/fluent.py:181-282)."""

    def __init__(
        self,
        tables: dict[str, DataFrame],
        internal: dict[str, DataFrame],
        errors: dict[str, DataFrame],
        write_order: list[str],
        public_map: Optional[dict[str, list[tuple[str, str]]]] = None,
        model_classes: Optional[dict[str, type]] = None,
        key_cols: Optional[dict[str, list[str]]] = None,
    ):
        self._tables_dict = tables
        self._key_cols = key_cols or {}
        self._keyed_cache: dict[str, dict] = {}
        self._internal = internal
        self.errors = errors
        self.write_order = write_order
        self._public_map = public_map or {}
        self._model_classes = model_classes or {}
        # populated by run()'s flush when a sink is attached
        self._flushed: dict[str, int] = {}
        self._flush_failed: dict[str, int] = {}
        # caches (backlink parents) owned by this result on the sink-less
        # path; release() frees them deterministically
        self._persisted: list[DataFrame] = []
        # each applied link's unbuilt orphan probe (see _apply_links)
        self._orphans: dict[int, Callable[[], DataFrame]] = {}

    def release(self) -> None:
        """Unpersist every cache this result owns (backlink parents on a
        sink-less run).  Call after materializing the tables you need —
        a long-lived process running many pipelines would otherwise
        accumulate one MEMORY_AND_DISK parent per backlink per run until
        LRU pressure evicts them.  Idempotent; the tables remain usable
        afterwards (Spark recomputes from lineage)."""
        for f in self._persisted:
            f.unpersist()
        self._persisted = []

    def __enter__(self) -> "PipelineResult":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def __getitem__(self, name) -> DataFrame:
        # table name or model class (reference tables proxy,
        # etielle/fluent.py:181-282)
        if isinstance(name, type):
            from .models import table_name_of

            name = table_name_of(name)
        if name not in self._tables_dict:
            raise KeyError(
                f"no output table {name!r}; available: {sorted(self._tables_dict)}"
            )
        return self._tables_dict[name]

    @property
    def tables(self) -> "_TablesProxy":
        """Reference-parity tables proxy (etielle/fluent.py:181-217):
        ``result.tables[name]`` / ``result.tables[ModelCls]`` and
        ``.items()/.values()`` return per-table views that behave BOTH
        as the reference's keyed row mapping (``rows.values()`` ->
        plain dicts, keys = join_on tuples) and as the underlying Spark
        DataFrame (every DataFrame attribute forwards), so reference
        snippets and Spark-native code run unchanged."""
        return _TablesProxy(self)

    def _keyed_rows(self, name: str) -> dict[tuple, dict]:
        """Collect one table as the reference's dict[key_tuple, row_dict]
        in traversal-arrival order.  Keyed tables key by their join_on
        values (which may be temp fields, so this reads the internal
        frame); auto-key tables enumerate in arrival order like the
        reference's synthetic instance keys (executor.py:363-370)."""
        if name in self._keyed_cache:
            return self._keyed_cache[name]
        keys = self._key_cols.get(name)
        internal = self._internal.get(name)
        if not keys or internal is None:
            out = {(i,): r for i, r in enumerate(self.rows(name, ordered=True))}
        else:
            pairs = self._public_map.get(
                name, [(c, c) for c in self._tables_dict[name].columns]
            )
            have = set(internal.columns)
            use_keys = [k for k in keys if k in have]
            sel = [
                qcol(k).alias(f"__k_{i}") for i, k in enumerate(use_keys)
            ] + [qcol(i).alias(pub) for pub, i in pairs if i in have]
            out = {}
            for r in internal.orderBy(_SEQ).select(*sel).collect():
                d = r.asDict(recursive=True)
                kt = tuple(
                    _plain_py(d.pop(f"__k_{i}")) for i in range(len(use_keys))
                )
                out[kt] = {k: _plain_py(v) for k, v in d.items()}
        self._keyed_cache[name] = out
        return out

    def rows(self, name: str, ordered: bool = False) -> list[dict]:
        """Collect a table as a list of dicts; ``ordered=True`` restores the
        reference's traversal-arrival order (executor.py:371-375)."""
        if ordered:
            df = self._internal[name].orderBy(_SEQ)
            pairs = self._public_map.get(
                name, [(c, c) for c in self._tables_dict[name].columns]
            )
            # relationship-added columns (fk/backlink attrs) are present in
            # the internal frame under their public names already
            have = set(df.columns)
            sel = [qcol(i).alias(pub) for pub, i in pairs if i in have]
            return [
                {k: _plain_py(v) for k, v in r.asDict(recursive=True).items()}
                for r in df.select(*sel).collect()
            ]
        return [
            {k: _plain_py(v) for k, v in r.asDict(recursive=True).items()}
            for r in self._tables_dict[name].collect()
        ]

    def instances(
        self,
        name: Union[str, type],
        *,
        builder=None,
        ordered: bool = False,
    ) -> list:
        """Materialize a table as model-class instances through an
        ``InstanceBuilder`` (reference instances.py:93-132; custom
        builders override ``build``).  The model class is remembered from
        ``map_to(table=Cls)``; plain-string tables build dicts."""
        from .models import InstanceBuilder, table_name_of

        cls: Optional[type] = None
        if isinstance(name, type):
            cls = name
            name = table_name_of(name)
        else:
            cls = self._model_classes.get(name)
        b = builder or InstanceBuilder()
        return b.build_all(cls, self.rows(name, ordered=ordered))

    def stats(self) -> dict[str, dict[str, int]]:
        """Per-table counts (the reference's TableStats,
        fluent.py:164-178) — computed on demand (Spark actions)."""
        out: dict[str, dict[str, int]] = {}
        for name, df in self._tables_dict.items():
            errs = self.errors.get(name)
            out[name] = {
                "mapped": df.count(),
                "errors": errs.count() if errs is not None else 0,
            }
        return out

    def table_stats(self) -> dict[str, "TableStats"]:
        """Per-table :class:`TableStats` (reference fluent.py:164-178).
        ``inserted``/``failed`` are populated by ``run()``'s flush when a
        sink is attached; without one they are 0, as in the reference's
        no-session mode."""
        out: dict[str, TableStats] = {}
        for name, counts in self.stats().items():
            out[name] = TableStats(
                mapped=counts["mapped"],
                errors=counts["errors"],
                inserted=self._flushed.get(name, 0),
                failed=self._flush_failed.get(name, 0),
            )
        return out

    def row_set(self, name: str, *cols: str) -> set[tuple]:
        df = self._tables_dict[name]
        use = list(cols) if cols else df.columns
        out = set()
        for r in df.select(*[bq(c) for c in use]).collect():
            out.add(tuple(_freeze(_plain_py(v)) for v in r))
        return out


class _KeyedRows:
    """One table, viewed both ways (reference _TablesProxy values are
    dict[key_tuple, row]; ours are DataFrames): mapping methods collect
    through ``PipelineResult._keyed_rows`` (cached), every other
    attribute forwards to the underlying DataFrame."""

    def __init__(self, result: "PipelineResult", name: str):
        self._result = result
        self._name = name

    @property
    def df(self) -> DataFrame:
        return self._result._tables_dict[self._name]

    def keys(self):
        return self._result._keyed_rows(self._name).keys()

    def values(self):
        return self._result._keyed_rows(self._name).values()

    def items(self):
        return self._result._keyed_rows(self._name).items()

    def get(self, key, default=None):
        return self._result._keyed_rows(self._name).get(key, default)

    def __len__(self):
        return len(self._result._keyed_rows(self._name))

    def __contains__(self, key):
        return key in self._result._keyed_rows(self._name)

    def __getitem__(self, key):
        # reference semantics: index by row key tuple (a scalar key is
        # accepted as shorthand for its 1-tuple)
        m = self._result._keyed_rows(self._name)
        if key in m:
            return m[key]
        if not isinstance(key, tuple) and (key,) in m:
            return m[(key,)]
        raise KeyError(key)

    def __getattr__(self, attr):
        return getattr(self.df, attr)

    def __repr__(self):
        return f"<_KeyedRows {self._name!r}>"


class _TablesProxy:
    """Reference tables proxy (etielle/fluent.py:181-217): index by name
    or model class; iteration yields table names."""

    def __init__(self, result: "PipelineResult"):
        self._result = result

    def _resolve(self, key) -> str:
        if isinstance(key, type):
            from .models import table_name_of

            return table_name_of(key)
        return key

    def __getitem__(self, key) -> _KeyedRows:
        name = self._resolve(key)
        if name not in self._result._tables_dict:
            raise KeyError(
                f"no output table {name!r}; available: "
                f"{sorted(self._result._tables_dict)}"
            )
        return _KeyedRows(self._result, name)

    def __contains__(self, key) -> bool:
        try:
            return self._resolve(key) in self._result._tables_dict
        except Exception:
            return False

    def __iter__(self):
        return iter(self._result._tables_dict)

    def __len__(self):
        return len(self._result._tables_dict)

    def keys(self):
        return self._result._tables_dict.keys()

    def items(self):
        return [
            (name, _KeyedRows(self._result, name))
            for name in self._result._tables_dict
        ]

    def values(self):
        return [
            _KeyedRows(self._result, name)
            for name in self._result._tables_dict
        ]

    def __repr__(self):
        return f"<_TablesProxy {sorted(self._result._tables_dict)}>"


# ---------------------------------------------------------------------------
# The builder
# ---------------------------------------------------------------------------


class PipelineBuilder:
    def __init__(
        self,
        *roots: Any,
        spark: Optional[SparkSession] = None,
        errors: str = "collect",
        order_col: Optional[str] = None,
        on_event=None,
        indices: Optional[dict[str, dict]] = None,
        flush_strategy=None,
    ):
        if not roots:
            raise ValueError("etl() requires at least one root")
        self._roots = list(roots)
        self._spark = spark
        self._errors_mode = errors
        self._order_col = order_col
        self._on_event = on_event
        # reference etl() parity (etielle/fluent.py:2125-2152): a batch
        # run flushes each completed table exactly once, so every
        # strategy degenerates to the default append; the value is kept
        # for stream() composition and API compatibility
        self._flush_strategy = flush_strategy

        self._root_index = 0
        self._iter_points: list[tuple[list, str]] = []
        self._pending: list = []
        self._emissions: list[EmissionSpec] = []
        self._links: list[LinkSpec] = []
        self._backlinks: list[BacklinkSpec] = []
        self._index_specs: list[IndexSpec] = []
        # pre-built lookup indices, reference etl(indices=) parity —
        # identical to chaining build_index(name, from_dict=d)
        if indices:
            for iname, d in indices.items():
                self._index_specs.append(
                    IndexSpec(name=iname, from_dict=dict(d))
                )
        self._last_table: Optional[str] = None
        self._sink = None
        self._eager_tables: set[str] = set()
        self._model_classes: dict[str, type] = {}

    # -- navigation ---------------------------------------------------------

    def goto(self, path: Union[str, Sequence]) -> "PipelineBuilder":
        """Append path segments (etielle/fluent.py:432-451)."""
        self._pending.extend(parse_path(path))
        return self

    def goto_root(self, index: int = 0) -> "PipelineBuilder":
        """Jump to root *i*; resets navigation (etielle/fluent.py:403-430)."""
        if not (0 <= index < len(self._roots)):
            raise IndexError(
                f"goto_root({index}): pipeline has {len(self._roots)} root(s)"
            )
        self._root_index = index
        self._iter_points = []
        self._pending = []
        return self

    def each(self, mode: str = "auto") -> "PipelineBuilder":
        """Iterate the container at the current path
        (etielle/fluent.py:453-479); modes auto/items/single."""
        if mode not in ("auto", "items", "single"):
            raise ValueError(f"each(): unknown mode {mode!r}")
        self._iter_points.append((self._pending, mode))
        self._pending = []
        return self

    # -- emission -----------------------------------------------------------

    def map_to(
        self,
        table: Union[str, type],
        fields: Sequence[Union[Field, TempField]],
        join_on: Optional[Sequence[str]] = None,
        errors: Optional[str] = None,
        schema: Optional[Union[str, T.StructType]] = None,
        assume_distinct: bool = False,
    ) -> "PipelineBuilder":
        """Emit rows to ``table`` from the current traversal position
        (etielle/fluent.py:531-576).

        ``table`` may be a model class (dataclass / TypedDict / pydantic):
        the table name comes from ``__tablename__`` or the lowercased class
        name and the class's type hints become the validation schema —
        the Spark equivalent of the reference's builder auto-detection
        (etielle/fluent.py:284-317, instances.py:189-224).  ``schema`` (DDL
        string or StructType) opts into the same typed validation directly.

        ``assume_distinct=True`` asserts that this emission produces at
        most one row per ``join_on`` key, letting the engine skip the
        keyed last-write-wins merge when Catalyst cannot PROVE
        distinctness from the plan (e.g. keys drawn from a raw fact
        table; the proven case — a groupBy-built emission — already
        skips automatically).  The skip is an identity under the
        assertion; if the data VIOLATES it, duplicate-key rows pass
        through un-merged (last-write-wins is NOT applied) — the same
        class of contract as a wrong primary-key declaration in a
        warehouse.  Set ``fluent._VERIFY_DISTINCT_HINTS = True`` in
        tests/staging to have every hinted emission verified with a
        one-pass duplicate count that raises on violation.  The hint
        only applies to single-emission tables without merge policies;
        anything else still merges."""
        if isinstance(table, type):
            if not is_model_class(table):
                raise TypeError(
                    f"map_to: {table!r} is not a model class "
                    "(dataclass / TypedDict / pydantic expected)"
                )
            if schema is None:
                schema = spark_schema_of(table)
            cls = table
            table = table_name_of(table)
            self._model_classes[table] = cls
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        if schema is not None:
            known = {f.name for f in schema.fields}
            for f in fields:
                if not f.is_temp and f.name not in known:
                    sugg = get_close_matches(f.name, sorted(known), n=3, cutoff=0.6)
                    hint = f"; did you mean {', '.join(sugg)}?" if sugg else ""
                    raise ValueError(
                        f"Unknown field '{f.name}' for table '{table}'{hint}"
                    )
        spec = EmissionSpec(
            seq=len(self._emissions),
            root_index=self._root_index,
            iter_points=[(list(p), m) for p, m in self._iter_points],
            trailing=list(self._pending),
            table=table,
            fields=list(fields),
            join_on=list(join_on) if join_on else None,
            schema=schema,
            errors=errors,
            assume_distinct=assume_distinct,
        )
        if assume_distinct and not spec.join_on:
            raise ValueError("assume_distinct requires join_on keys")
        field_names = {f.name for f in spec.fields}
        if spec.join_on:
            missing = [k for k in spec.join_on if k not in field_names]
            if missing:
                raise ValueError(
                    f"join_on fields {missing} not among fields of '{table}'"
                )
        self._emissions.append(spec)
        self._last_table = table
        return self

    # -- relationships ------------------------------------------------------

    def link_to(
        self,
        parent: str,
        *,
        by: dict[str, str],
        fk: Optional[str] = None,
        required: bool = False,
        child: Optional[str] = None,
    ) -> "PipelineBuilder":
        """Many-to-one child->parent (etielle/fluent.py:578-640): equi join.
        ``fk`` adds a child column carrying the parent's ``id``."""
        child_table = child or self._last_table
        if child_table is None:
            raise ValueError("link_to() before any map_to()")
        self._links.append(LinkSpec(child_table, parent, dict(by), fk, required))
        return self

    def backlink(
        self,
        parent: str,
        child: str,
        attr: str,
        *,
        by: dict[str, str],
        fail_on_missing: bool = False,
    ) -> "PipelineBuilder":
        """Many-to-many parent.attr = [child rows] (etielle/fluent.py:642-714):
        explode id list -> join children -> collect_list of row structs."""
        self._backlinks.append(
            BacklinkSpec(parent, child, attr, dict(by), fail_on_missing)
        )
        return self

    def build_index(
        self,
        name: str,
        from_dict: Optional[dict] = None,
        *,
        key: Optional[Transform] = None,
        value: Optional[Transform] = None,
    ) -> "PipelineBuilder":
        """Seed a named lookup index from a dict, or build it by traversal
        (last-write-wins on duplicate keys) — etielle/fluent.py:481-529."""
        if from_dict is not None:
            self._index_specs.append(IndexSpec(name=name, from_dict=dict(from_dict)))
        else:
            if key is None or value is None:
                raise ValueError("build_index: provide from_dict or key+value")
            self._index_specs.append(
                IndexSpec(
                    name=name,
                    root_index=self._root_index,
                    iter_points=[(list(p), m) for p, m in self._iter_points],
                    trailing=list(self._pending),
                    key=key,
                    value=value,
                )
            )
        return self

    def load(
        self,
        sink,
        *,
        upsert: bool = False,
        upsert_on: Optional[dict] = None,
        batch_size: int = 1000,
    ) -> "PipelineBuilder":
        """Attach a sink; run() writes tables parents-first
        (etielle/fluent.py:716-782 + topological flush 1596-1626).

        A Supabase-shaped client (detected by module, exactly like the
        reference's ``load()``) is wrapped in ``SupabaseSink`` with the
        reference's options: ``upsert`` switches inserts to upserts,
        ``upsert_on`` maps table -> conflict column(s) (lists join to
        the comma form), ``batch_size`` pages the HTTP round trips.
        The raw client stays on ``self._session`` (reference attr)."""
        from .sources.supabase import SupabaseSink, is_supabase_client

        self._session = sink
        self._upsert = upsert
        self._upsert_on = upsert_on
        self._batch_size = batch_size
        if is_supabase_client(sink):
            sink = SupabaseSink(
                sink, upsert=upsert, upsert_on=upsert_on, batch_size=batch_size
            )
        self._sink = sink
        return self

    def load_eager(self, table: str) -> "PipelineBuilder":
        """Mark a shared dimension table (etielle/fluent.py:784-807) — in
        Spark terms: written first, cached/broadcast into later joins."""
        self._eager_tables.add(table)
        return self

    # -- execution ----------------------------------------------------------

    def _get_spark(self) -> SparkSession:
        from .session import get_spark, ship_package

        spark = None
        if self._spark is not None:
            spark = self._spark
        else:
            for r in self._roots:
                if isinstance(r, DataFrame):
                    spark = r.sparkSession
                    break
            if spark is None:
                spark = SparkSession.getActiveSession()
        if spark is None:
            spark = get_spark()
        # user UDFs (`apply`, `@transform`) and error-channel builders
        # pickle by module reference — workers must be able to import the
        # package regardless of the driver's cwd (no-op after first call)
        ship_package(spark)
        return spark

    def _resolve_indices(self, spark: SparkSession, cache: Optional[dict] = None) -> dict[str, dict]:
        indices: dict[str, dict] = {}
        for spec in self._index_specs:
            if spec.from_dict is not None:
                indices[spec.name] = spec.from_dict
                continue
            df, env = _root_env(
                spark, self._roots[spec.root_index], indices, self._order_col, cache
            )
            for i, (pth, mode) in enumerate(spec.iter_points, start=1):
                df, env = _explode_level(df, env, pth, mode, i)
            if spec.trailing:
                df, env = _trailing_level(df, env, spec.trailing, len(spec.iter_points) + 1)
            kcol = spec.key.compile(env)
            vcol, vtype = spec.value.compile_typed(env)
            if vtype is not None:
                vcol, _ = strip_marker_fields(vcol, vtype)
            n_pos = sum(1 for lv in env.levels if lv.pos is not None)
            # arrival order includes the root-row order so last-write-wins
            # on duplicate keys is deterministic for DataFrame roots too
            ordc = _ord_struct(0, env.levels, n_pos)
            sel = df.select(kcol.alias("k"), vcol.alias("v"), ordc.alias(_ORD))
            if isinstance(sel.schema["k"].dataType, T.VariantType):
                # string/number-mixed key field: variant isn't groupable —
                # group on its exact JSON form and decode the Python key
                # from it (7 and '7' stay distinct index entries)
                pairs = (
                    sel.select(F.to_json("k").alias("kj"), "v", _ORD)
                    .groupBy("kj")
                    .agg(F.max_by("v", F.col(_ORD)).alias("v"))
                    .collect()
                )
                indices[spec.name] = {
                    (json.loads(r["kj"]) if r["kj"] is not None else None): _plain_py(
                        r["v"]
                    )
                    for r in pairs
                }
                continue
            pairs = (
                sel.groupBy("k")
                .agg(F.max_by("v", F.col(_ORD)).alias("v"))
                .collect()
            )
            # plain Python values (Row -> dict, recursively): index values
            # may be structs/arrays (build_index(value=node())) and lookup
            # ships them as a JSON literal
            indices[spec.name] = {r["k"]: _plain_py(r["v"]) for r in pairs}
        return indices

    def _compile_emission(
        self,
        spark: SparkSession,
        em: EmissionSpec,
        indices: dict,
        max_pos: int,
        cache: Optional[dict] = None,
    ) -> DataFrame:
        df, env = _root_env(
            spark, self._roots[em.root_index], indices, self._order_col, cache
        )
        lvl = 0
        for pth, mode in em.iter_points:
            lvl += 1
            df, env = _explode_level(df, env, pth, mode, lvl)
        if em.trailing:
            df, env = _trailing_level(df, env, em.trailing, lvl + 1)

        sel: list[Column] = []
        for f in em.fields:
            col, ftype = f.transform.compile_typed(env)
            if ftype is not None:
                # serialization markers never leak into output values
                col, _ = strip_marker_fields(col, ftype)
            sel.append(col.alias(f.name))
        ordc = _ord_struct(em.root_index, env.levels, max_pos, em.seq)
        return df.select(*sel, ordc.alias(_ORD))

    def run(
        self,
        table_filter: Optional[set[str]] = None,
        extra_parents: Optional[dict[str, DataFrame]] = None,
    ) -> PipelineResult:
        """``table_filter`` restricts the pass to a subset of output tables
        (reference executor.py:260-262) — unselected plan branches are
        simply never built."""
        spark = self._get_spark()
        root_cache: dict = {}
        indices = self._resolve_indices(spark, root_cache)

        emissions = [
            em
            for em in self._emissions
            if table_filter is None or em.table in table_filter
        ]
        max_pos = 0
        for em in emissions:
            max_pos = max(max_pos, len(em.iter_points))

        by_table: dict[str, list[tuple[EmissionSpec, DataFrame]]] = {}
        for em in emissions:
            frame = self._compile_emission(spark, em, indices, max_pos, root_cache)
            by_table.setdefault(em.table, []).append((em, frame))

        internal: dict[str, DataFrame] = {}
        public: dict[str, DataFrame] = {}
        public_map: dict[str, list[tuple[str, str]]] = {}
        errors: dict[str, DataFrame] = {}
        table_keys: dict[str, list[str]] = {}
        # only DataFrame roots can carry an Aggregate into the emission
        # frame (dict/list docs compile from a JSON LogicalRDD scan of
        # one document per row, which holds no Aggregate), so the
        # distinct-key probe is statically off everywhere else — the
        # analyzed-plan sniff is a py4j toString per keyed table, which
        # a 50-emission doc pipeline should never pay
        df_roots = {
            i for i, r in enumerate(self._roots) if isinstance(r, DataFrame)
        }
        for table, pairs in by_table.items():
            internal_df, public_pairs, err_df = _assemble_table(
                table,
                pairs,
                maybe_aggregate_root=any(
                    em.root_index in df_roots for em, _ in pairs
                ),
            )
            internal[table] = internal_df
            public_map[table] = public_pairs
            public[table] = _select_public(internal_df, public_pairs)
            keyed_specs = [em.join_on for em, _ in pairs if em.join_on]
            if keyed_specs and len(keyed_specs) == len(pairs):
                table_keys[table] = keyed_specs[0]
            if err_df is not None:
                errors[table] = err_df

        # fail-fast error mode, pipeline-wide or per-map_to override
        # (reference: fluent.py:2042-2049,473-485)
        fail_fast_tables = {
            em.table for em in emissions if em.errors == "fail_fast"
        }
        for table, err in errors.items():
            if self._errors_mode == "fail_fast" or table in fail_fast_tables:
                first = err.limit(1).collect()
                if first:
                    r = first[0]
                    raise ValueError(
                        f"Validation error in table '{table}': field "
                        f"{r['field']}: {r['message']}"
                    )

        # relationships (only those whose tables are in scope)
        backlinks = [
            b
            for b in self._backlinks
            if b.parent in public and b.child in public
        ]
        links = [
            l
            for l in self._links
            if l.child in public
            and (l.parent in public or (extra_parents and l.parent in extra_parents))
        ]
        internal, public, errors, orphans = _apply_links(
            links, internal, public, public_map, errors, extra_parents
        )
        seq_unique = not any(
            isinstance(r, DataFrame) for r in self._roots
        ) or self._order_col is not None
        internal, public, bl_persisted = _apply_backlinks(
            backlinks, internal, public, public_map, table_keys, seq_unique
        )

        # write ordering: parents before children
        deps: dict[str, set[str]] = {}
        for l in links:
            deps.setdefault(l.child, set()).add(l.parent)
        nodes = set(public.keys())
        order = topological_order(nodes, deps)
        # eager tables first within the order
        order = [t for t in order if t in self._eager_tables] + [
            t for t in order if t not in self._eager_tables
        ]

        key_cols = {
            em.table: list(em.join_on)
            for em in self._emissions
            if em.join_on
        }
        result = PipelineResult(
            public,
            internal,
            errors,
            order,
            public_map,
            self._model_classes,
            key_cols=key_cols,
        )
        result._orphans = orphans
        if self._sink is None:
            # lazy engine: without a sink nothing materializes, so counts
            # are unknown at this point (reference fluent.py:1496-1528
            # emits real counts because its executor is eager).  The
            # backlink-parent caches transfer to the result — callers
            # free them with result.release() (or `with ... as result:`)
            # once their tables are materialized
            result._persisted = bl_persisted
            for t in public:
                emit(self._on_event, MapStarted(t))
                emit(self._on_event, MapCompleted(t))
        else:
            try:
                self._flush_tables(order, public, result)
            finally:
                # release the backlink-parent caches whether the flush
                # succeeded or not — a flaky sink must not accumulate
                # MEMORY_AND_DISK parents run after run
                for f in bl_persisted:
                    f.unpersist()
        return result

    def _flush_tables(self, order, public, result) -> None:
        from pyspark.sql import Observation

        for t in order:
            emit(self._on_event, MapStarted(t))
            emit(self._on_event, FlushStarted(t))
            # observe() rides along the write job — the inserted
            # count costs nothing extra (the round-1 df.count()
            # re-executed the whole plan per table).  Observed
            # regardless of callback so table_stats().inserted is
            # always populated when a sink is attached.
            obs = Observation()
            df = public[t].observe(obs, F.count(F.lit(1)).alias("inserted"))
            try:
                self._sink.write(t, df)
            except Exception as e:
                # reference fluent.py:1003-1019: emit FlushFailed,
                # record all attempted rows as failed, re-raise.
                # FlushFailed FIRST — the count() below re-executes
                # the plan, and if the plan itself is what failed it
                # would raise again and mask the original error
                # before any event fired.
                emit(self._on_event, FlushFailed(t, error=str(e)))
                try:
                    result._flush_failed[t] = public[t].count()
                except Exception:
                    # plan error, not a sink error: attempted row
                    # count is unknowable
                    result._flush_failed[t] = 0
                raise
            inserted = obs.get["inserted"]
            result._flushed[t] = inserted
            # the write materialized the table, so the mapped count is
            # now known for free — MapCompleted carries it (emitted
            # after FlushStarted by necessity in a lazy engine)
            emit(self._on_event, MapCompleted(t, count=inserted))
            emit(self._on_event, FlushCompleted(t, inserted=inserted))


def _ord_struct(
    root_index: int,
    levels: list,
    max_pos: int,
    seq: int | None = None,
) -> Column:
    """Synthesized arrival-order key: (root, row, emission, pos...) — the
    distributed stand-in for the reference's single-threaded traversal order
    (SURVEY.md §7 hard part #1).  Structs compare lexicographically.

    The row-order column is always ``__roword`` (every caller's frame
    comes through ``_root_env``).  Every pos-bearing level carries a
    SQL-text twin, so the struct builds as ONE memoized parsed expression
    (zero py4j trips on re-compiles) instead of ~4 trips per field."""
    pos = [lv.pos_sql for lv in levels if lv.pos is not None]
    e = int(seq) if seq is not None else 0
    fields = [
        f"CAST({int(root_index)} AS BIGINT) AS r",
        "CAST(`__roword` AS BIGINT) AS w",
        f"CAST({e} AS BIGINT) AS e",
    ]
    for i in range(max_pos):
        s = pos[i] if i < len(pos) else "0"
        fields.append(f"CAST({s} AS BIGINT) AS p{i}")
    return cexpr("struct(" + ", ".join(fields) + ")")


def _null_empty_key_filter(df: DataFrame, keys: list[str]) -> DataFrame:
    """Rows with any None/"" key part are skipped (executor.py:189-191).
    Variant-typed keys (string/number-mixed fields) test emptiness on
    their JSON form — ``""`` is the empty STRING key; numeric 0 and
    ``"0"`` are valid keys."""
    # SQL-text predicate: ONE py4j round trip instead of ~6 per key (the
    # fluent compile is driver-latency-bound; round 11, guide §7.3)
    parts = []
    for k in keys:
        if isinstance(df.schema[k].dataType, T.VariantType):
            parts.append(f"({bq(k)} IS NOT NULL AND to_json({bq(k)}) <> '\"\"')")
        else:
            parts.append(f"({bq(k)} IS NOT NULL AND CAST({bq(k)} AS STRING) <> '')")
    return df.filter(" AND ".join(parts)) if parts else df


# staging/debug switch: verify every assume_distinct hint with a
# one-pass duplicate count and raise on violation (costs one extra
# aggregation per hinted table — exactly the merge the hint skips, so
# leave it off in production and on in test suites)
_VERIFY_DISTINCT_HINTS = False


def _keys_provably_distinct(df: DataFrame, join_on: list[str]) -> bool:
    """True when Catalyst PROVES the emission frame has at most one row
    per ``join_on`` key — e.g. the frame is a ``groupBy(keys).agg(...)``
    on exactly those keys (the document-building idiom: collect child
    ids per parent, then map the parent emission over the aggregate).
    The keyed merge is then the identity and its whole aggregation
    (two SortAggregate passes + their sorts at every scale) can be
    skipped.

    Uses Catalyst's own distinct-key propagation
    (``LogicalPlanDistinctKeys``, flows through aliasing projections),
    so the proof is as strong as the optimizer's.  The optimizer pass
    this forces costs ~ms on the tiny pre-action plan; callers gate on
    an analyzed-plan Aggregate/Distinct sniff so the common
    non-aggregate emission never pays it.  Name-collision safe: a
    distinct-key attribute counts only if it IS the output column of
    that name (exprId match), not merely a namesake."""
    want = set(join_on)
    try:
        op = df._jdf.queryExecution().optimizedPlan()
        out_ids: dict[str, object] = {}
        it = op.output().iterator()
        while it.hasNext():
            a = it.next()
            n = a.name()
            # duplicate output names: unaddressable, never claim them
            out_ids[n] = None if n in out_ids else a.exprId()
        ks_it = op.distinctKeys().iterator()
        while ks_it.hasNext():
            names: set[str] = set()
            ok = True
            e_it = ks_it.next().iterator()
            while e_it.hasNext():
                e = e_it.next()
                if e.getClass().getSimpleName() != "AttributeReference":
                    ok = False
                    break
                n = e.name()
                if n not in want or out_ids.get(n) is None or not e.exprId().equals(
                    out_ids[n]
                ):
                    ok = False
                    break
                names.add(n)
            if ok and names:
                return True
        return False
    except Exception:
        # the proof is an optimization only — any py4j/Catalyst surprise
        # (API drift, command plans) falls back to the real aggregation
        return False


def _merge_keyed(
    table: str,
    keyed: list[tuple[EmissionSpec, DataFrame]],
    field_order: list[str],
    temp_names: set[str],
    policies: dict[str, MergePolicy],
    maybe_aggregate_root: bool,
) -> DataFrame:
    """The keyed merge: ONE ``groupBy(join_on).agg(...)`` over every keyed
    emission, each field folded by its policy (default last-write-wins)
    over arrival order.  The form follows from facts of the emissions:

    - A field whose value EVERY emission supplies orders by the shared
      ``_ORD``.  Only the others get an ``__o_<name>`` mirror, NULL on
      rows whose emission does not supply the value (aggregates ignore
      those rows).  A lone emission supplies every field it declares, so
      it groups its frame as it is; only mirrors or a union of emissions
      need the aligning select.
    - One emission without nesting positions has ``_ORD = struct(r, w,
      e)`` with r (root) and e (emission) constant: ordering by the long
      ``w`` alone is identical and struct-compare-free (collect_list sort
      keys and max_by comparisons drop ~25% of the aggregate cost on the
      600k-row policy-merge bench query).
    - Default-LWW fields on the shared order aggregate PER FIELD when all
      are atomic: a scalar ``max_by`` buffer is hash-mutable, so the merge
      plans as a codegen'd HashAggregate, while ``max_by(struct(...))``
      falls to SortAggregate (two sorts per partition at any scale).  Same
      winner, as the arrival order is unique per row.  Otherwise they
      share one ``max_by(struct(...))`` (per-field would still
      SortAggregate, just with more buffers).
    - Variant-typed keys (string/number-mixed fields) can't feed groupBy:
      they group on their exact JSON form (7 vs "7" stay DISTINCT keys,
      Python-dict semantics) and are rebuilt afterwards
      (parse_json∘to_json is identity on scalars).
    - Provably-distinct skip: one emission, no policies (AppendPolicy
      wraps even a 1-row group in a list — not the identity), and either
      an ``assume_distinct`` hint or Catalyst's proof of <=1 row per key
      (the groupBy-built document root): the merge is the identity and
      the frame passes through.  The analyzed-plan sniff keeps the
      optimizer probe off the common non-aggregate emission path.
    """
    join_on = keyed[0][0].join_on
    # a frame carries every declared column (join keys must be real for
    # the groupBy) but supplies a field's VALUE only where the declaration
    # is non-temp (or the field is internal-only, i.e. temp everywhere)
    supplies = [
        {f.name for f in em.fields if not f.is_temp or f.name in temp_names}
        for em, _ in keyed
    ]
    val_fields = [n for n in field_order if n not in join_on]
    mirrored = {n for n in val_fields if not all(n in s for s in supplies)}
    frames = [_null_empty_key_filter(df, join_on) for _, df in keyed]
    single = len(frames) == 1
    if single and not mirrored:
        src = frames[0]
    else:
        ord_type = frames[0].schema[_ORD].dataType.simpleString()
        aligned = []
        for (em, _), df, sup in zip(keyed, frames, supplies):
            declared = {f.name for f in em.fields}
            cols = [_ORD]
            for n in field_order:
                cols.append(bq(n) if n in declared else cexpr(f"NULL AS {bq(n)}"))
                if n in mirrored:
                    o = bq(_ORD) if n in sup else f"CAST(NULL AS {ord_type})"
                    cols.append(cexpr(f"{o} AS {bq('__o_' + n)}"))
            aligned.append(df.select(*cols))
        src = aligned[0]
        for m in aligned[1:]:
            src = src.unionByName(m, allowMissingColumns=True)
    schema = src.schema
    variant_keys = {
        k for k in join_on if isinstance(schema[k].dataType, T.VariantType)
    }

    if single and not policies and not mirrored and not variant_keys:
        hinted = keyed[0][0].assume_distinct
        if hinted and _VERIFY_DISTINCT_HINTS:
            dup = (
                src.groupBy(*[qcol(k) for k in join_on])
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                key_repr = {k: dup[0][k] for k in join_on}
                raise ValueError(
                    f"assume_distinct violated for table '{table}': key "
                    f"{key_repr} occurs more than once in the emission"
                )
        if hinted or (
            maybe_aggregate_root
            and "Aggregate" in src._jdf.queryExecution().analyzed().toString()
            and _keys_provably_distinct(src, join_on)
        ):
            return src.select(*[bq(n) for n in field_order], _ORD)

    ord_fields = [f.name for f in schema[_ORD].dataType.fields]
    slim = single and ord_fields == ["r", "w", "e"]
    ord_col = F.col(_ORD).getField("w") if slim else F.col(_ORD)
    ord_text = f"{bq(_ORD)}.w" if slim else bq(_ORD)
    shared_lww = [n for n in val_fields if n not in policies and n not in mirrored]
    per_field = all(isinstance(schema[n].dataType, T.AtomicType) for n in shared_lww)
    # memoized SQL-text aggregates: one cached expression instead of ~5
    # py4j trips per field, re-used by every later compile of the same
    # pipeline shape (per-micro-batch foreachBatch compiles pay this
    # every batch; round 11, guide §7.3)
    aggs = []
    if shared_lww and per_field:
        aggs.extend(
            cexpr(f"max_by({bq(n)}, {ord_text}) AS {bq(n)}") for n in shared_lww
        )
    elif shared_lww:
        aggs.append(
            F.max_by(
                F.struct(*[qcol(n).alias(n) for n in shared_lww]), ord_col
            ).alias("__row")
        )
    for n in val_fields:
        if n in policies:
            o = qcol(f"__o_{n}") if n in mirrored else ord_col
            aggs.append(policies[n].agg(qcol(n), o, schema[n].dataType).alias(n))
        elif n in mirrored:
            aggs.append(cexpr(f"max_by({bq(n)}, {bq('__o_' + n)}) AS {bq(n)}"))
    aggs.append(cexpr(f"min({bq(_ORD)}) AS {bq(_ORD)}"))
    # groupBy/select take NAME STRINGS (same resolution as F.col, zero
    # py4j trips per column)
    grouped = src.groupBy(
        *[
            F.to_json(qcol(k)).alias(f"__kc_{k}") if k in variant_keys else bq(k)
            for k in join_on
        ]
    ).agg(*aggs)
    # variant-key restore, struct unpacking and declared column order in
    # ONE select (each DataFrame op is a py4j round trip + a full plan
    # re-analysis; the fluent compile is driver-latency-bound)
    sel = []
    for n in field_order:
        if n in variant_keys:
            sel.append(F.parse_json(qcol(f"__kc_{n}")).alias(n))
        elif n in shared_lww and not per_field:
            sel.append(F.col("__row").getField(n).alias(n))
        else:
            sel.append(bq(n))
    return grouped.select(*sel, _ORD)


def _assemble_table(
    table: str,
    pairs: list[tuple[EmissionSpec, DataFrame]],
    *,
    maybe_aggregate_root: bool = True,
) -> tuple[DataFrame, list[tuple[str, str]], Optional[DataFrame]]:
    """Merge all emissions targeting one table.

    Keyed emissions (join_on) merge via groupBy with per-field policies over
    arrival order; auto-key emissions append (union) — reference semantics
    at executor.py:181-196 / 272-353 and fluent.py:1339-1371.

    Returns (internal_df_with_temp_and_seq, public_pairs, errors_df):
    ``public_pairs`` maps each public column name to the internal column
    that holds it (an injected ``id`` may sit beside a ``TempField('id')``).
    """
    keyed = [(em, df) for em, df in pairs if em.join_on]
    autos = [(em, df) for em, df in pairs if not em.join_on]

    # stable field order: first appearance across emissions.  Temp-ness is
    # per-emission in the reference (TempField values land in the shadow
    # store only — executor.py:296-352): a field is public if ANY emission
    # declares it non-temp, and only non-temp declarations supply its value.
    field_order: list[str] = []
    declared_temp: dict[str, set[int]] = {}
    declared_any: dict[str, set[int]] = {}
    policies: dict[str, MergePolicy] = {}
    for em, _ in pairs:
        for f in em.fields:
            if f.name not in field_order:
                field_order.append(f.name)
            declared_any.setdefault(f.name, set()).add(em.seq)
            if f.is_temp:
                declared_temp.setdefault(f.name, set()).add(em.seq)
            if f.merge is not None:
                policies[f.name] = f.merge
    temp_names = {
        n for n in field_order if declared_temp.get(n) == declared_any.get(n)
    }

    join_on = keyed[0][0].join_on if keyed else None
    if keyed:
        for em, _ in keyed:
            if em.join_on != join_on:
                raise ValueError(
                    f"table '{table}': all keyed map_to calls must share join_on"
                )

    parts: list[DataFrame] = []
    if keyed:
        parts.append(
            _merge_keyed(
                table, keyed, field_order, temp_names, policies, maybe_aggregate_root
            )
        )
    for em, df in autos:
        supplied = {f.name for f in em.fields}
        cols = []
        for name in field_order:
            if name in supplied:
                cols.append(bq(name))
            else:
                cols.append(cexpr(f"NULL AS {bq(name)}"))
        cols.append(_ORD)
        parts.append(df.select(*cols))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)

    # id injection for single-part user keys (executor.py:363-370).
    # Public output is a (public_name -> internal_column) mapping so the
    # injected id can coexist with a TempField('id') (whose internal
    # column relationships still need — reference shadow-store priority).
    public_pairs = [(n, n) for n in field_order if n not in temp_names]
    inj: list = []
    if join_on and len(join_on) == 1 and "id" not in [p for p, _ in public_pairs]:
        key0 = join_on[0]
        if "id" in temp_names:
            inj = [cexpr(f"{bq(key0)} AS __inj_id")]
            public_pairs = [("id", "__inj_id")] + public_pairs
        else:
            inj = [cexpr(f"{bq(key0)} AS id")]
            public_pairs = [("id", "id")] + public_pairs

    # id injection + the _ORD -> _SEQ rename in ONE select (py4j/analysis
    # latency; see the grouped-select fusion above)
    out = out.select(
        *[bq(c) for c in out.columns if c != _ORD],
        *inj,
        cexpr(f"{bq(_ORD)} AS {bq(_SEQ)}"),
    )

    # typed validation, two stages like the reference (instances.py:189-224):
    # 'update' = a supplied value fails its field cast (incremental
    # per-field error); 'finalize' = the MERGED row violates the schema
    # (a non-nullable field is NULL) — whole-row completion error
    err_df = None
    schemas = [em.schema for em, _ in pairs if em.schema is not None]
    if schemas:
        schema = schemas[0]

        def _err(stage: str, field: str, msg: Column) -> Column:
            return F.struct(
                F.lit(stage).alias("stage"),
                F.lit(field).alias("field"),
                msg.alias("msg"),
            )

        checks = []
        casts = {}
        for fld in schema.fields:
            if fld.name in out.columns:
                src = qcol(fld.name)
                # try_cast keeps collect-mode semantics under ANSI sessions
                # (plain cast would throw on the first bad value)
                tgt = src.try_cast(fld.dataType)
                bad = src.isNotNull() & tgt.isNull()
                checks.append(
                    F.when(
                        bad,
                        _err(
                            "update",
                            fld.name,
                            F.concat(
                                F.lit(f"field {fld.name}: cannot cast '"),
                                src.cast("string"),
                                F.lit(f"' to {fld.dataType.simpleString()}"),
                            ),
                        ),
                    ).alias(f"__err_{fld.name}")
                )
                casts[fld.name] = tgt
                if not fld.nullable:
                    checks.append(
                        F.when(
                            src.isNull(),
                            _err(
                                "finalize",
                                fld.name,
                                F.lit(
                                    f"field {fld.name}: required field is null"
                                ),
                            ),
                        ).alias(f"__errf_{fld.name}")
                    )
            elif not fld.nullable:
                # required field never supplied by any emission
                checks.append(
                    _err(
                        "finalize",
                        fld.name,
                        F.lit(f"field {fld.name}: required field is missing"),
                    ).alias(f"__errf_{fld.name}")
                )
        if checks:
            staged = out.select("*", *checks)
            err_cols = [c for c in staged.columns if c.startswith("__err")]
            err_arr = F.array_compact(F.array(*[qcol(c) for c in err_cols]))
            # one select folds the __errs build and the check-column drop
            with_errs = staged.select(
                *[bq(c) for c in staged.columns if not c.startswith("__err")],
                err_arr.alias("__errs"),
            )
            key_col = (
                F.concat_ws("|", *[qcol(k).cast("string") for k in join_on])
                if join_on
                else F.lit(None)
            )
            err_df = (
                with_errs.filter(F.size("__errs") > 0)
                .select(
                    key_col.alias("key"),
                    F.explode("__errs").alias("e"),
                )
                .select(
                    "key",
                    F.col("e.field").alias("field"),
                    F.col("e.msg").alias("message"),
                    F.col("e.stage").alias("stage"),
                )
            )
            # the __errs drop and every declared cast in ONE select
            # (the old per-field withColumn loop paid one plan
            # re-analysis per cast field)
            out = with_errs.filter(F.size("__errs") == 0).select(*[
                casts[c].alias(c) if c in casts else qcol(c)
                for c in with_errs.columns
                if c != "__errs"
            ])

    return out, public_pairs, err_df


def _select_public(internal_df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    # memoized rename expressions: ~0 py4j trips on re-compiles
    return internal_df.select(*[cexpr(f"{bq(i)} AS {bq(p)}") for p, i in pairs])


_NUM_KINDS = ("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT", "BOOLEAN")


def _num_canon(d: Column) -> Column:
    """Canonical string for a numeric key value with PYTHON equality
    semantics: mathematically-integral values render as the exact
    integer string (so long 2**53 and 2**53 + 1 stay DISTINCT — a
    blanket cast-to-double collapsed them), genuine fractions render via
    double.  ``d`` may be any numeric column; integral sources should
    arrive un-widened so no precision is lost before the check."""
    dd = d.cast("double")
    return F.when(
        d.isNotNull()
        & (dd == F.floor(dd))
        & (F.abs(dd) < F.lit(1e38)),
        # exact integer form: decimal(38,0) preserves every long (and
        # every integral double) digit-for-digit
        d.cast("decimal(38,0)").cast("string"),
    ).otherwise(dd.cast("string"))


_INT_KINDS = ("BIGINT", "INT", "SMALLINT", "TINYINT")


def _key_canon(col: Column, dtype) -> Column:
    """Kind-preserving canonical string for a join/lookup key: Python
    equality semantics — numbers match across representations (7 == 7.0
    == True) but never match strings ('7' != 7).  It is the rule for
    every mixed-type key match, not only VARIANT keys: where
    ``_plain_keys`` does not hold, both sides canonicalize so the
    equi-join lines up (links, backlinks, ``bind_many_to_one``, the
    orphan probes, and the stream store's VARIANT keys)."""
    if isinstance(dtype, T.VariantType):
        kind = F.schema_of_variant(col)
        is_num = kind.isin(*_NUM_KINDS) | kind.startswith("DECIMAL")
        return (
            F.when(
                kind == F.lit("STRING"),
                F.concat(F.lit("s:"), F.try_variant_get(col, "$", "string")),
            )
            .when(
                # integral variants extract losslessly (a 2**53 + 1
                # BIGINT survives; through double it would not)
                kind.isin(*_INT_KINDS),
                F.concat(
                    F.lit("n:"),
                    _num_canon(F.try_variant_get(col, "$", "decimal(38,0)")),
                ),
            )
            .when(
                is_num,
                F.concat(
                    F.lit("n:"),
                    _num_canon(F.try_variant_get(col, "$", "double")),
                ),
            )
            .otherwise(F.concat(F.lit("j:"), F.to_json(col)))
        )
    if isinstance(dtype, T.BooleanType):
        return F.concat(F.lit("n:"), _num_canon(col.cast("long")))
    if isinstance(dtype, T.NumericType):
        return F.concat(F.lit("n:"), _num_canon(col))
    return F.concat(F.lit("s:"), col.cast("string"))


def _plain_keys(a: T.DataType, b: T.DataType) -> bool:
    """The one rule for when two key columns match: plain equality when
    their dtypes are equal (VARIANT aside: it has no equality) or both
    are integral; otherwise ``_key_canon`` of both sides, so a key never
    matches across the string/number boundary and 2**53 + 1 never
    matches 2.0**53 (Python dict semantics)."""
    if isinstance(a, T.IntegralType) and isinstance(b, T.IntegralType):
        return True
    return a == b and not isinstance(a, T.VariantType)


def _key_join(
    child: DataFrame, parent: DataFrame, pairs: Sequence[tuple[str, str]]
) -> tuple[list[Column], Column]:
    """The parent's key columns (``__lk_pf``, ``__lk_pf1``, ...) and the
    child's join condition on them, each (child, parent) pair by the key
    rule; plain pairs build from memoized SQL text."""
    keys, on = [], None
    for i, (cf, pf) in enumerate(pairs):
        lk = f"__lk_pf{i or ''}"
        cf_t, pf_t = child.schema[cf].dataType, parent.schema[pf].dataType
        if _plain_keys(cf_t, pf_t):
            keys.append(cexpr(f"{bq(pf)} AS {lk}"))
            eq = cexpr(f"{bq(cf)} = {lk}")
        else:
            keys.append(_key_canon(qcol(pf), pf_t).alias(lk))
            eq = _key_canon(qcol(cf), cf_t) == F.col(lk)
        on = eq if on is None else on & eq
    return keys, on


def _orphans(
    child: DataFrame, parent: DataFrame, pairs: Sequence[tuple[str, str]]
) -> DataFrame:
    """The child rows whose key parts are all non-NULL and that have no
    parent: a left_anti against the parent's distinct keys (broadcast).
    A child with a NULL key part is never an orphan — Python skips a
    ``None`` key."""
    keys, on = _key_join(child, parent, pairs)
    notnull = " AND ".join(f"{bq(cf)} IS NOT NULL" for cf, _ in pairs)
    return child.filter(notnull).join(
        F.broadcast(parent.select(*keys).dropDuplicates()), on, "left_anti"
    )


def _bind(
    child: DataFrame,
    parent: DataFrame,
    pairs: Sequence[tuple[str, str]],
    fk: str,
    fk_src: str,
    order: str,
) -> DataFrame:
    """``child`` plus ``fk``: the ``fk_src`` of the parent whose key
    matches, NULL if none.  Parents sharing a key resolve to the greatest
    ``order`` — the LAST arrival (the reference's secondary index
    overwrites in arrival order, relationships.py:461-538).  The parent
    side is a (key, fk) index, broadcast into a left join."""
    keys, on = _key_join(child, parent, pairs)
    lks = [f"__lk_pf{i or ''}" for i in range(len(pairs))]
    index = (
        parent.select(
            *keys,
            cexpr(f"{bq(fk_src)} AS {bq(fk)}"),
            cexpr(f"{bq(order)} AS __lk_seq"),
        )
        .groupBy(*lks)
        .agg(cexpr(f"max_by({bq(fk)}, __lk_seq) AS {bq(fk)}"))
    )
    return child.join(F.broadcast(index), on, "left").drop(*lks)


def _apply_links(
    links: list[LinkSpec],
    internal: dict[str, DataFrame],
    public: dict[str, DataFrame],
    public_map: dict[str, list[tuple[str, str]]],
    errors: dict[str, DataFrame],
    extra_parents: Optional[dict[str, DataFrame]] = None,
):
    """link_to -> ``_bind`` for FK population; required -> ``_orphans``
    errors (etielle/relationships.py:14-152,461-538).  Also returns each
    applied link's unbuilt ``_orphans`` probe, keyed by ``id(spec)``."""
    extra_parents = extra_parents or {}
    orphans: dict[int, Callable[[], DataFrame]] = {}
    for spec in links:
        if spec.child not in internal or (
            spec.parent not in internal and spec.parent not in extra_parents
        ):
            raise ValueError(
                f"link_to: unknown table in {spec.child} -> {spec.parent}"
            )
        child_int = internal[spec.child]
        # by-fields resolve against the INTERNAL parent: TempField values
        # take priority over public columns (reference shadow-store
        # semantics, executor.py:406-423).  Eager/static parent frames
        # (streaming dimensions) union in with the chunk-local rows.
        parent_int = internal.get(spec.parent)
        if spec.parent in extra_parents:
            extra = extra_parents[spec.parent]
            parent_int = (
                extra
                if parent_int is None
                else parent_int.unionByName(extra, allowMissingColumns=True)
            )
        ppairs = public_map.get(
            spec.parent, [(c, c) for c in parent_int.columns if not c.startswith("__")]
        )
        (cf, pf), *rest = spec.by.items()
        if rest:
            raise ValueError("link_to: composite `by` not supported (reference limits to one pair)")
        orphans[id(spec)] = partial(_orphans, child_int, parent_int, [(cf, pf)])

        if spec.fk:
            fk_src = dict(ppairs).get("id") or pf
            joined = _bind(child_int, parent_int, [(cf, pf)], spec.fk, fk_src, _SEQ)
            internal[spec.child] = joined
            pairs = public_map[spec.child]
            if spec.fk not in [p for p, _ in pairs]:
                pairs.append((spec.fk, spec.fk))
            public[spec.child] = _select_public(joined, pairs)

        if spec.required:
            missing = orphans[id(spec)]().select(
                qcol(cf).cast("string").alias("key"),
                F.lit(cf).alias("field"),
                F.concat(
                    F.lit(f"missing parent in '{spec.parent}' for {spec.child}.{cf}="),
                    qcol(cf).cast("string"),
                ).alias("message"),
                F.lit("link").alias("stage"),
            )
            if spec.child in errors:
                errors[spec.child] = errors[spec.child].unionByName(missing)
            else:
                errors[spec.child] = missing
    return internal, public, errors, orphans


def _apply_backlinks(
    backlinks: list[BacklinkSpec],
    internal: dict[str, DataFrame],
    public: dict[str, DataFrame],
    public_map: dict[str, list[tuple[str, str]]],
    table_keys: dict[str, list[str]],
    seq_unique: bool = True,
):
    """backlink -> explode id list, join children, collect_list of row
    structs in id-list order (etielle/relationships.py:368-458).

    Parent rows are identified by their join keys (keyed tables); the
    traversal-order column is only a fallback for single-doc roots, where
    it is unique per row.
    """
    from pyspark import StorageLevel

    persisted: list[DataFrame] = []
    for spec in backlinks:
        parent_int = internal[spec.parent]
        # the parent emission feeds TWO subtrees (the id-list explode and
        # the final rejoin), and parent assembly is a keyed-merge
        # aggregation — persist it so the merge shuffle runs once, not
        # twice (Catalyst does not reuse the exchange here because the
        # two subtrees prune different columns).  Spilled-recoverable;
        # stays cached for the caller's table materialization, LRU-evicted
        # after (the semdedup/ivf precedent).
        if parent_int.storageLevel == StorageLevel.NONE:
            parent_int = parent_int.persist(StorageLevel.MEMORY_AND_DISK)
            internal[spec.parent] = parent_int
            persisted.append(parent_int)
        # child by-field resolves against the INTERNAL child (temp fields
        # usable as match keys); the collected structs carry the PUBLIC row
        child_int = internal[spec.child]
        cpairs = public_map[spec.child]
        (plf, cf), *rest = spec.by.items()
        if rest:
            raise ValueError("backlink: single `by` pair only")

        rid_cols = table_keys.get(spec.parent)
        if rid_cols is None:
            if not seq_unique:
                raise ValueError(
                    f"backlink('{spec.parent}', ...): parent table has no "
                    "join_on keys and the pipeline uses DataFrame roots "
                    "without order_col, so rows have no stable identity — "
                    "add join_on to the parent map_to or pass "
                    "etl(..., order_col=...)"
                )
            rid_cols = [_SEQ]
        child_struct = F.struct(*[qcol(i).alias(pub) for pub, i in cpairs])
        exploded = parent_int.select(
            *[qcol(c).alias(f"__bl_k_{i}") for i, c in enumerate(rid_cols)],
            F.posexplode(qcol(plf)).alias("__bl_pos", "__bl_id"),
        )
        if spec.fail_on_missing:
            orphan = _orphans(exploded, child_int, [("__bl_id", cf)]).limit(3).collect()
            if orphan:
                missing = [_plain_py(r["__bl_id"]) for r in orphan]
                raise ValueError(
                    f"backlink('{spec.parent}'->'{spec.child}'): missing child "
                    f"ids {missing} (fail_on_missing=True; reference "
                    "relationships.py:434-441)"
                )
        # the id join by the key rule (Python equality — 7 pairs with
        # 7.0, never '7')
        cf_t = child_int.schema[cf].dataType
        id_t = parent_int.schema[plf].dataType.elementType
        child_key = qcol(cf)
        if not _plain_keys(id_t, cf_t):
            child_key = _key_canon(child_key, cf_t)
            exploded = exploded.withColumn(
                "__bl_id", _key_canon(F.col("__bl_id"), id_t)
            )
        child_side = child_int.select(
            child_key.alias("__bl_cid"), child_struct.alias("__bl_child")
        )
        # both sides are corpus-scale (the exploded id list is |parents| x
        # list-length; the child table is the corpus), so a STATIC
        # broadcast is never the right physical plan — Catalyst's size
        # estimate of the exploded cached parent undercounts the Generate
        # blowup and picks a BroadcastHashJoin build of the exploded side
        # (measured: a 600k-row single-threaded HashedRelation build at
        # sf0.1; unbounded at 100 TB).  The merge hint forces a shuffled
        # join whose exchanges co-partition with the keyed-merge
        # aggregations already keyed on the same ids; AQE still
        # skew-splits hot ids
        matched = exploded.hint("merge").join(
            child_side, exploded["__bl_id"] == child_side["__bl_cid"], "inner"
        )
        grp = [f"__bl_k_{i}" for i in range(len(rid_cols))]
        collected = matched.groupBy(*grp).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("__bl_pos").alias("o"), F.col("__bl_child").alias("v"))
                    )
                ),
                lambda s: s.getField("v"),
            ).alias(spec.attr)
        )
        elem_type = collected.schema[spec.attr].dataType
        cond = None
        for i, c in enumerate(rid_cols):
            piece = parent_int[bq(c)] == collected[f"__bl_k_{i}"]
            cond = piece if cond is None else (cond & piece)
        # ONE select instead of drop + two withColumns: every DataFrame
        # op is a py4j round trip + a JVM re-analysis of the whole plan,
        # and the fluent compile is driver-latency-bound (profiled:
        # ~0.9 s of socket waits per q11 build)
        # same scale contract for the rejoin: `collected` is one row per
        # parent (corpus-scale), and both sides are already partitioned
        # on the parent key (the parent from its keyed-merge exchange,
        # `collected` from the groupBy above) — the merge join reuses
        # both exchanges where a broadcast would rebuild a parent-sized
        # hash relation per executor
        joined = parent_int.join(collected.hint("merge"), cond, "left").select(
            *[parent_int[bq(c)] for c in parent_int.columns if c != spec.attr],
            F.coalesce(
                collected[bq(spec.attr)], F.array().cast(elem_type)
            ).alias(spec.attr),
        )
        internal[spec.parent] = joined
        pairs = public_map[spec.parent]
        if spec.attr not in [p for p, _ in pairs]:
            pairs.append((spec.attr, spec.attr))
        public[spec.parent] = _select_public(joined, pairs)
    return internal, public, persisted


def compile_emission(
    root: Any,
    *,
    fields: Sequence[Union[Field, TempField]],
    each: Optional[Sequence[Any]] = None,
    trailing: Union[str, Sequence, None] = None,
    indices: Optional[dict[str, dict]] = None,
    spark: Optional[SparkSession] = None,
    order_col: Optional[str] = None,
    with_order: bool = False,
) -> DataFrame:
    """Plan-level entry point: compile ONE emission (traversal +
    projection) straight to its DataFrame — the Spark equivalent of the
    reference's core-API level (``run_mapping`` over explicit specs,
    etielle/executor.py:217-437), so tests and power users can target the
    compiler without the fluent builder.

    - ``root``: a JSON object or a DataFrame (every row = one document).
    - ``each``: one entry per iteration level — a path (``"users"``) or a
      ``(path, mode)`` pair with mode in auto/items/single.
    - ``trailing``: navigation after the last iteration, no explode.
    - ``fields``: the projection; TempFields are projected like Fields
      here (the plan level has no public/internal split).
    - ``with_order=True`` appends the synthesized traversal-arrival
      struct as column ``__seq`` (what keyed merges order by).

        df = compile_emission(
            {"users": [...]},
            each=["users", ("posts", "auto")],
            fields=[Field("pid", get("id")), Field("uid", get_from_parent("id"))],
        )
    """
    if spark is None:
        if isinstance(root, DataFrame):
            spark = root.sparkSession
        else:
            spark = SparkSession.getActiveSession()
            if spark is None:
                from .session import get_spark

                spark = get_spark()
    df, env = _root_env(spark, root, indices or {}, order_col)
    points: list[tuple[list, str]] = []
    for item in each or []:
        if isinstance(item, tuple):
            path, mode = item
        else:
            path, mode = item, "auto"
        points.append((parse_path(path), mode))
    lvl = 0
    for pth, mode in points:
        lvl += 1
        df, env = _explode_level(df, env, pth, mode, lvl)
    trail = parse_path(trailing)
    if trail:
        df, env = _trailing_level(df, env, trail, lvl + 1)
    sel: list[Column] = []
    for f in fields:
        col, ftype = f.transform.compile_typed(env)
        if ftype is not None:
            col, _ = strip_marker_fields(col, ftype)
        sel.append(col.alias(f.name))
    if with_order:
        n_pos = sum(1 for lv in env.levels if lv.pos is not None)
        sel.append(_ord_struct(0, env.levels, n_pos).alias(_SEQ))
    return df.select(*sel)


def etl(
    *roots: Any,
    spark: Optional[SparkSession] = None,
    errors: str = "collect",
    order_col: Optional[str] = None,
    on_event=None,
    indices: Optional[dict[str, dict]] = None,
    flush_strategy=None,
) -> PipelineBuilder:
    """Entry point (etielle/fluent.py:2125-2152).

    Roots may be in-memory JSON objects (reference parity) or DataFrames —
    a DataFrame root treats **every row as a root document**, which is the
    100 TB path: one plan compiled once, executed distributed.
    ``order_col`` names a column that defines cross-row arrival order for
    deterministic last-write-wins merges on DataFrame roots.
    ``indices`` pre-seeds lookup indices (same as chaining
    ``build_index(name, from_dict=...)``); ``flush_strategy`` is accepted
    for reference parity (a batch run flushes each table once, so every
    strategy reduces to the default — ``stream()`` is where strategies
    differentiate).
    """
    return PipelineBuilder(
        *roots,
        spark=spark,
        errors=errors,
        order_col=order_col,
        on_event=on_event,
        indices=indices,
        flush_strategy=flush_strategy,
    )
