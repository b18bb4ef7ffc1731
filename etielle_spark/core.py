"""Compile-time core: transforms as Column factories, fields, traversal env.

The reference engine (etielle) interprets ``Transform = Callable[[Context], T]``
per row (etielle/core.py:28-62).  Here a Transform *compiles* to a
``pyspark.sql.Column`` against a :class:`CompileEnv` that describes the
traversal state (one entry per ``each()`` level: the exploded node column,
its dict key / list index columns, and the node's Spark ``DataType``).  The
whole pipeline therefore becomes a declarative DataFrame plan that Catalyst
optimizes; no per-row Python runs unless the user reaches for ``apply``.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Callable, Optional, Sequence, Union

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

PathSeg = Union[str, int]


def parse_path(path: Union[str, Sequence[PathSeg], None]) -> list[PathSeg]:
    """Dot-notation path to segments; all-digit segments become ints.

    Mirrors reference semantics at etielle/transforms.py:88-94.
    """
    if path is None:
        return []
    if isinstance(path, str):
        return [int(s) if s.isdigit() else s for s in path.split(".") if s != ""]
    return list(path)


NULL = T.NullType()

# Serialization markers injected into in-memory JSON roots (see
# fluent._prepare_obj).  "__empty__" keeps {}-valued fields alive through
# spark.read.json inference (which silently drops them); "__keys__" records
# each dict's OWN key set in insertion order, so dict iteration over
# schema-unioned sibling structs emits exactly the per-row entries the
# reference's Python dict iteration yields (no phantom (key, NULL) rows)
# and in the original insertion order.  Both are internal: they are
# filtered out of iteration/len_of and stripped from materialized values.
MARKER_FIELDS = ("__empty__", "__keys__", "__variant__")


def is_variant_wrapper(dtype) -> bool:
    """A serialize-time variant wrapper (see fluent._prepare_obj #3):
    a struct carrying the raw JSON of a kind-mixed value in its
    ``__variant__`` field."""
    return isinstance(dtype, T.StructType) and any(
        f.name == "__variant__" for f in dtype.fields
    )


def unwrap_variant(col: Column, dtype):
    """(col, dtype) with any wrapper replaced by the parsed variant."""
    if is_variant_wrapper(dtype):
        return F.parse_json(col.getField("__variant__")), T.VariantType()
    return col, dtype


def has_marker_fields(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.StructType):
        return any(
            f.name in MARKER_FIELDS or has_marker_fields(f.dataType)
            for f in dtype.fields
        )
    if isinstance(dtype, T.ArrayType):
        return has_marker_fields(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return has_marker_fields(dtype.valueType)
    return False


def _stripped_type(dtype: T.DataType) -> T.DataType:
    # a serialize-time variant wrapper STRIPS TO VARIANT: the value side
    # (strip_marker_fields) parses the wrapper's JSON, so the declared
    # type must say VariantType too — reporting the wrapper struct here
    # made downstream casts (e.g. _project_to's devoid cast) try
    # ``cast(variant AS struct<__variant__: string>)`` on a NESTED
    # wrapper field, a runtime INVALID_VARIANT_CAST (found by fuzz
    # shape 3, seed 77)
    if is_variant_wrapper(dtype):
        return T.VariantType()
    if isinstance(dtype, T.StructType):
        keep = [f for f in dtype.fields if f.name not in MARKER_FIELDS]
        if not keep:
            return dtype
        return T.StructType(
            [T.StructField(f.name, _stripped_type(f.dataType), f.nullable) for f in keep]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_stripped_type(dtype.elementType), dtype.containsNull)
    if isinstance(dtype, T.MapType):
        return T.MapType(
            dtype.keyType, _stripped_type(dtype.valueType), dtype.valueContainsNull
        )
    return dtype


def strip_marker_fields(col: Column, dtype: T.DataType):
    """Remove marker fields from a value before it is materialized
    (emission projection, index values, Python-UDF inputs).  Returns the
    (column, dtype) unchanged when no marker is present.  A pure-{} struct
    (markers are its only fields) is left as-is — the representation
    boundary for emitting an empty dict verbatim."""
    if is_variant_wrapper(dtype):
        return F.parse_json(col.getField("__variant__")), T.VariantType()
    if not has_marker_fields(dtype):
        return col, dtype
    if isinstance(dtype, T.StructType):
        keep = [f for f in dtype.fields if f.name not in MARKER_FIELDS]
        if not keep:
            return col, dtype
        parts = [
            strip_marker_fields(col.getField(f.name), f.dataType)[0].alias(f.name)
            for f in keep
        ]
        return F.when(col.isNotNull(), F.struct(*parts)), _stripped_type(dtype)
    if isinstance(dtype, T.ArrayType):
        elem_t = dtype.elementType
        return (
            F.transform(col, lambda x: strip_marker_fields(x, elem_t)[0]),
            _stripped_type(dtype),
        )
    if isinstance(dtype, T.MapType):
        val_t = dtype.valueType
        return (
            F.transform_values(col, lambda k, v: strip_marker_fields(v, val_t)[0]),
            _stripped_type(dtype),
        )
    return col, dtype


def resolve_path(col: Column, dtype: T.DataType, segments: Sequence[PathSeg]):
    """Navigate ``segments`` from a (column, dtype) pair.

    Missing struct fields, wrong-typed access and out-of-bounds indices all
    yield a NULL column (reference: etielle/transforms.py:95-114 returns
    None in those cases).  Returns ``(Column, DataType)``.
    """
    col, dtype = unwrap_variant(col, dtype)
    for seg in segments:
        if isinstance(dtype, T.StructType):
            names = {f.name: f for f in dtype.fields}
            seg_s = str(seg)
            if seg_s in names:
                col = col.getField(seg_s)
                col, dtype = unwrap_variant(col, names[seg_s].dataType)
            else:
                return F.lit(None), NULL
        elif isinstance(dtype, T.ArrayType):
            if isinstance(seg, int):
                idx = seg + 1 if seg >= 0 else seg
                col = F.try_element_at(col, F.lit(idx))
                col, dtype = unwrap_variant(col, dtype.elementType)
            else:
                return F.lit(None), NULL
        elif isinstance(dtype, T.MapType):
            key = F.lit(seg).cast(dtype.keyType)
            col = F.try_element_at(col, key)
            col, dtype = unwrap_variant(col, dtype.valueType)
        elif isinstance(dtype, T.VariantType):
            # mixed-kind value (see fluent._unify_types): navigate inside
            # the variant; wrong-kind or missing access yields NULL like
            # every other branch
            if isinstance(seg, int):
                if seg < 0:
                    return F.lit(None), NULL
                path = f"$[{seg}]"
            else:
                escaped = str(seg).replace("'", "\\'")
                path = f"$['{escaped}']"
            col = F.try_variant_get(col, path, "variant")
            dtype = T.VariantType()
        else:
            return F.lit(None), NULL
    return col, dtype


@dataclass
class LevelEnv:
    """One ``each()`` level: the exploded element and its provenance."""

    node: Column
    dtype: T.DataType
    key: Optional[Column] = None  # dict-iteration key (string) or None
    pos: Optional[Column] = None  # list/dict-entry position or None
    # variant levels dispatch list-vs-dict PER ROW: key is NULL for array
    # rows, set for object rows — key()/index() become row-level CASEs
    variant: bool = False
    # SQL-text twin of ``pos`` (e.g. "CAST(`__p1` AS BIGINT)"), set
    # whenever ``pos`` is: the arrival-order struct builds as ONE memoized
    # parsed expression instead of per-position py4j trips
    # (fluent._ord_struct)
    pos_sql: Optional[str] = None


@dataclass
class CompileEnv:
    """Traversal environment visible to transforms during compilation.

    ``levels[0]`` is the root context; ``levels[-1]`` the current node
    (reference Context chain: etielle/core.py:28-51).
    """

    levels: list[LevelEnv]
    indices: dict[str, dict] = dc_field(default_factory=dict)

    @property
    def current(self) -> LevelEnv:
        return self.levels[-1]

    def ancestor(self, depth: int) -> Optional[LevelEnv]:
        i = len(self.levels) - 1 - depth
        if i < 0:
            return None
        return self.levels[i]


class Transform:
    """A composable column-expression factory.

    ``compile_typed(env) -> (Column, DataType | None)``; dtype is tracked
    for path navigation and ``len_of`` dispatch, ``None`` when unknown.
    """

    def __init__(self, fn: Callable[[CompileEnv], tuple[Column, Optional[T.DataType]]]):
        self._fn = fn

    def compile_typed(self, env: CompileEnv) -> tuple[Column, Optional[T.DataType]]:
        return self._fn(env)

    def compile(self, env: CompileEnv) -> Column:
        return self._fn(env)[0]


def ensure_transform(value: Any) -> Transform:
    """Literal auto-wrap, as the reference does for plain values
    (etielle/transforms.py:55-66).  Scalar literals carry their Spark type
    so downstream dispatch (len_of, lookup key kinds) sees it."""
    if isinstance(value, Transform):
        return value
    if isinstance(value, bool):
        dt: Optional[T.DataType] = T.BooleanType()
    elif isinstance(value, int):
        dt = T.LongType()
    elif isinstance(value, float):
        dt = T.DoubleType()
    elif isinstance(value, str):
        dt = T.StringType()
    elif value is None:
        dt = NULL
    else:
        dt = None
    return Transform(lambda env, v=value, d=dt: (F.lit(v), d))


@dataclass(frozen=True)
class Field:
    """Named output column (reference: etielle/fluent.py:44-57)."""

    name: str
    transform: Transform
    merge: Optional[object] = None  # MergePolicy from policies.py

    @property
    def is_temp(self) -> bool:
        return False


@dataclass(frozen=True)
class TempField:
    """Join/link-only column, dropped from output
    (reference: etielle/fluent.py:59-76)."""

    name: str
    transform: Transform
    merge: Optional[object] = None

    @property
    def is_temp(self) -> bool:
        return True
