"""Chunked streaming execution with flush strategies.

Reference lifecycle (etielle/fluent.py:1987-2026): per chunk — map, validate
relationship-completeness, bind, flush via strategy, evict.  Here each chunk
is one batch run (``PipelineBuilder.run``): a sequential chunk's roots are
read as one root of several documents, one row each (so the chunk's keyed
merges are one groupBy with a correct cross-root arrival order), and
completeness is checked with the batch run's own orphan probes.  Every
chunk recompiles its plan; only the memoized expressions (``cexpr``) are
reused.  "Evict" is just micro-batch scope.

Flush strategies (reference: etielle/chunking.py:281-677) each append the
chunk's table frame to the one ``TableStore`` as a part; reading a table
resolves its parts with one union and one aggregate, so the plan does not
get deeper with every chunk:
- KeyCompleteFlushStrategy: plain append.
- UpsertFlushStrategy("update"): key conflict -> the latest chunk's row.
- UpsertFlushStrategy("skip"):   key conflict -> the first chunk's row.
- BufferedKeyFlushStrategy: the reference's bounded-LRU re-merge.  A key
  still in the LRU (``max_keys`` most recently flushed) merges onto the
  row it last wrote, last non-None write wins per column; a key evicted
  from the LRU starts a new row.  Only the key sets live on the driver.
"""

from __future__ import annotations

from collections import OrderedDict
from functools import reduce
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..colcache import bq, cexpr, qcol
from ..fluent import PipelineBuilder, PipelineResult, _Docs, _key_canon, _project_to
from .chunks import Chunk, ChunkSource, RelationshipIncompleteError

# a table's 16th part checkpoints its resolved frame into one part
_PARTS_PER_CHECKPOINT = 16


def _json_kind(t: T.DataType) -> Optional[str]:
    """A column type's JSON kind: numbers and bools are one, as in Python;
    VOID (all NULL) has none; any other type is its own."""
    if isinstance(t, (T.NumericType, T.BooleanType)):
        return "number"
    return None if isinstance(t, T.NullType) else t.typeName()


class TableStore:
    """A stream's state: each table is a list of parts.

    ``add`` appends a part tagged ``__chunk``, the store-wide write
    ordinal (``writes`` is the next one).  Reading a table unions its
    parts; a table added with ``keys`` keeps one row per key, each column
    ``max_by(column, order)`` with ``order`` SQL text over ``__chunk``
    (``{c}`` is the column).  A column VARIANT in any part, or whose JSON
    kind differs between parts, is VARIANT in all (as in a batch run), so
    ``"1"`` and ``1`` stay two keys; a VARIANT key groups on
    ``_key_canon``.  ``put``
    keeps a finished frame (eager dimensions); ``lru`` is the per-run key
    cache of ``BufferedKeyFlushStrategy``."""

    def __init__(self) -> None:
        self._parts: dict[str, list[DataFrame]] = {}
        self._fold: dict[str, tuple[list[str], str]] = {}
        self._fixed: dict[str, DataFrame] = {}
        self.writes = 0
        self.lru: "OrderedDict[tuple, int]" = OrderedDict()

    def put(self, name: str, df: DataFrame) -> None:
        self._fixed[name] = df

    def add(self, name: str, df: DataFrame, keys=None, order: str = "__chunk") -> None:
        parts = self._parts.setdefault(name, [])
        parts.append(df.select("*", F.lit(self.writes).alias("__chunk")))
        self.writes += 1
        if keys:
            self._fold[name] = (list(keys), order)
        if len(parts) == _PARTS_PER_CHECKPOINT:
            self._parts[name] = [self._resolve(name).localCheckpoint(eager=True)]

    def _resolve(self, name: str) -> DataFrame:
        parts = self._parts[name]
        kinds: dict[str, set] = {}
        for p in parts:
            for f in p.schema:
                kinds.setdefault(f.name, set()).add(_json_kind(f.dataType))
        var = {c for c, ks in kinds.items() if "variant" in ks or len(ks - {None}) > 1}
        cols = list(kinds)
        if var:
            parts = [p.select(*[
                _project_to(qcol(f.name), f.dataType, T.VariantType()).alias(f.name)
                if f.name in var and f.dataType != T.VariantType()
                else bq(f.name)
                for f in p.schema
            ]) for p in parts]
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
        if name not in self._fold:
            return df
        keys, order = self._fold[name]
        return df.groupBy(*[
            _key_canon(qcol(k), T.VariantType()).alias("__kc_" + k) if k in var else bq(k)
            for k in keys
        ]).agg(*[
            cexpr(f"max_by({bq(c)}, {order.replace('{c}', bq(c))}) AS {bq(c)}")
            for c in cols if c not in keys or c in var
        ]).select(*[bq(c) for c in cols])

    @property
    def tables(self) -> dict[str, DataFrame]:
        resolved = {n: self._resolve(n).drop("__chunk", "__gen") for n in self._parts}
        return {**self._fixed, **resolved}


class FlushStrategy:
    def flush(
        self,
        store: TableStore,
        name: str,
        df: DataFrame,
        keys: Optional[list[str]],
    ) -> None:  # pragma: no cover - interface
        raise NotImplementedError


class KeyCompleteFlushStrategy(FlushStrategy):
    """Append-only (chunking.py:281-315); the default."""

    def flush(self, store, name, df, keys):
        store.add(name, df)


class UpsertFlushStrategy(FlushStrategy):
    """'update': PK conflict -> overwrite whole row (chunking.py:361-501);
    'skip': PK conflict -> keep existing row (chunking.py:503-540).  A
    chunk's keyed frame has one row per key, so whole rows win."""

    def __init__(self, mode: str = "update"):
        if mode not in ("update", "skip"):
            raise ValueError(f"UpsertFlushStrategy: unknown mode {mode!r}")
        self.mode = mode

    def flush(self, store, name, df, keys):
        store.add(name, df, keys, "__chunk" if self.mode == "update" else "-__chunk")


class BufferedKeyFlushStrategy(FlushStrategy):
    """Bounded LRU of recently-flushed keys (chunking.py:543-677).

    A row is a (key, generation ``__gen``).  A key still in the LRU
    reuses its generation, so it merges onto the row it last wrote (last
    non-None write wins per column); a new or EVICTED key takes this
    write's ordinal and starts a new row — the reference's heuristic,
    correct as far as ``max_keys`` covers the key reappearance gap.  The
    LRU is the store's (one run).  A chunk's keys are collected (bounded
    by chunk size, like the reference's per-chunk instance dict), enter
    the LRU in JSON-form order, and the least recent past ``max_keys``
    go after the chunk."""

    def __init__(self, max_keys: int = 10_000):
        if max_keys < 1:
            raise ValueError(f"max_keys must be >= 1, got {max_keys}")
        self.max_keys = max_keys

    def flush(self, store, name, df, keys):
        if not keys:
            store.add(name, df)
            return
        # a key is known by its JSON form, whatever type a chunk read it as
        kc = [f"__kc{i}" for i in range(len(keys))]
        canon = df.select("*", *[
            cexpr(f"to_json(CAST({bq(k)} AS VARIANT)) AS {c}") for k, c in zip(keys, kc)
        ])
        gen, lru, cached = store.writes, store.lru, {}
        for k in sorted(tuple(r) for r in canon.select(*kc).collect()):
            if (name, k) in lru:
                cached[k] = lru[(name, k)]
            lru[(name, k)] = lru.pop((name, k), gen)
        while len(lru) > self.max_keys:
            lru.popitem(last=False)
        if cached:
            gens = df.sparkSession.createDataFrame(
                [(*k, g) for k, g in cached.items()],
                ", ".join(f"{c} string" for c in kc) + ", __gen int",
            )
            df = canon.join(F.broadcast(gens), kc, "left").select(
                *[bq(c) for c in df.columns],
                F.coalesce(F.col("__gen"), F.lit(gen)).alias("__gen"),
            )
        else:
            df = df.select("*", F.lit(gen).alias("__gen"))
        store.add(name, df, [*keys, "__gen"], "IF({c} IS NULL, NULL, __chunk)")


class StreamResult:
    def __init__(
        self,
        tables: dict[str, DataFrame],
        n_chunks: int,
        errors: Optional[dict[str, DataFrame]] = None,
    ):
        self.tables = tables
        self.n_chunks = n_chunks
        self.errors = errors or {}

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]


class StreamPipeline(PipelineBuilder):
    """``stream(source).goto(...).each().map_to(...).run()``
    (reference: etielle/fluent.py:2155-2195)."""

    def __init__(
        self,
        source: ChunkSource,
        *,
        spark: Optional[SparkSession] = None,
        eager_roots: Sequence[Any] = (),
        flush_strategy: Optional[FlushStrategy] = None,
        errors: str = "collect",
    ):
        super().__init__(object(), spark=spark, errors=errors)
        self._source = source
        self._eager_roots = list(eager_roots)
        self._strategy = flush_strategy or KeyCompleteFlushStrategy()
        self._eager_internal: dict[str, DataFrame] = {}

    def goto_root(self, index: int = 0) -> "StreamPipeline":
        """Root count is a per-chunk property for streams; grow the
        placeholder list so the batch builder's bounds check passes
        (actual arity is validated when each chunk runs)."""
        while len(self._roots) <= index:
            self._roots.append(object())
        return super().goto_root(index)

    # -- helpers ------------------------------------------------------------

    def _clone_with_roots(self, roots: list) -> PipelineBuilder:
        b = PipelineBuilder(*roots, spark=self._spark, errors=self._errors_mode)
        b._emissions = self._emissions
        b._links = self._links
        b._backlinks = self._backlinks
        b._index_specs = self._index_specs
        b._eager_tables = self._eager_tables
        b._model_classes = self._model_classes
        return b

    def _run_chunk(self, chunk: Chunk) -> PipelineResult:
        if chunk.sequential:
            if any(em.root_index != 0 for em in self._emissions):
                raise ValueError(
                    "sequential chunks require a single-root pipeline "
                    "(reference fluent.py:1797-1829)"
                )
            # one root of several documents, one row each in arrival order
            b = self._clone_with_roots([_Docs(chunk.roots)])
        else:
            b = self._clone_with_roots(list(chunk.roots))
        return b.run(extra_parents=self._eager_internal or None)

    def _validate_completeness(self, result: PipelineResult) -> None:
        """Every child's parent must be in the chunk or eager
        (reference relationships.py:545-616).  Each link's probe is the
        batch run's own (``fluent._orphans``); up to 3 orphan keys per
        link, all links in ONE job."""
        probes, messages = [], []
        for spec in self._links:
            if spec.child not in result._tables_dict:
                continue
            (cf, pf), *_ = spec.by.items()
            probe = result._orphans.get(id(spec))
            if probe is None:
                # no parent rows in the chunk and the parent is not eager
                rows = result._internal[spec.child].filter(f"{bq(cf)} IS NOT NULL")
                messages.append(
                    f"chunk has {spec.child}.{cf} but no '{spec.parent}' rows "
                    f"(and '{spec.parent}' is not eager)"
                )
            else:
                rows = probe()
                messages.append(
                    f"chunk-incomplete relationship {spec.child}.{cf} -> "
                    f"{spec.parent}.{pf}"
                )
            probes.append(
                rows.select(
                    cexpr(f"{len(probes)} AS __link"),
                    cexpr(f"CAST({bq(cf)} AS STRING) AS __key"),
                ).limit(3)
            )
        found: dict[int, list] = {}
        for r in reduce(DataFrame.unionByName, probes).collect() if probes else ():
            found.setdefault(r["__link"], []).append(r["__key"])
        if found:
            i = min(found)
            raise RelationshipIncompleteError(
                f"{messages[i]}: missing parent keys {found[i]}"
            )

    def _flush_keys(self, result: PipelineResult, name: str) -> Optional[list[str]]:
        """The table's keys as columns of the public frame it flushes
        (``result._public_map``); a single TempField key flushes by the
        injected ``id`` that carries its value."""
        keys = result._key_cols.get(name)
        if not keys:
            return None
        public_of = {i: p for p, i in result._public_map[name]}
        if len(keys) == 1 and keys[0] not in public_of and not any(
            f.name == "id" and not f.is_temp
            for em in self._emissions
            if em.table == name
            for f in em.fields
        ):
            return ["id"]
        missing = [k for k in keys if k not in public_of]
        if not missing:
            return [public_of[k] for k in keys]
        if type(self._strategy) is KeyCompleteFlushStrategy:
            return None  # plain append never reads the keys
        raise ValueError(
            f"table '{name}': key {missing[0]!r} has no public column to flush by"
        )

    # -- execution ----------------------------------------------------------

    def run(self) -> StreamResult:
        if any(spec.from_dict is None for spec in self._index_specs):
            raise ValueError(
                "streaming pipelines cannot use traversal-built build_index "
                "(reference restriction, fluent.py:1797-1829); seed the "
                "index with from_dict or use link_to"
            )
        store, errors = TableStore(), TableStore()
        eager_internal: dict[str, DataFrame] = {}

        if self._eager_tables:
            if not self._eager_roots:
                raise ValueError("load_eager() requires stream(eager_roots=...)")
            # all eager roots map against pipeline root 0, like a
            # sequential chunk (multi-doc eager dimensions merge correctly)
            eager_b = self._clone_with_roots([_Docs(self._eager_roots)])
            eager_res = eager_b.run(table_filter=set(self._eager_tables))
            for t in self._eager_tables:
                if t in eager_res._tables_dict:
                    df = eager_res._tables_dict[t].cache()
                    df.count()  # materialize the dimension once
                    internal_df = eager_res._internal[t].cache()
                    eager_internal[t] = internal_df
                    store.put(t, df)

        self._eager_internal = eager_internal
        n = 0
        for chunk in self._source.chunks():
            n += 1
            result = self._run_chunk(chunk)
            self._validate_completeness(result)
            # every table's keys resolve (or raise) before the first flush
            keys = {
                t: self._flush_keys(result, t)
                for t in result._tables_dict
                if t not in self._eager_tables
            }
            for name, k in keys.items():
                self._strategy.flush(store, name, result._tables_dict[name], k)
            for name, err in result.errors.items():
                errors.add(name, err)
        tables = store.tables
        if self._sink is not None:
            # the sink receives the strategy-resolved final tables (incl.
            # eager dimensions); per-micro-batch exactly-once writes belong
            # to the foreachBatch adapter (streaming/windows.py)
            for name, df in tables.items():
                self._sink.write(name, df)
        return StreamResult(tables, n, errors.tables)


def stream(
    source: ChunkSource,
    *,
    spark: Optional[SparkSession] = None,
    eager_roots: Sequence[Any] = (),
    flush_strategy: Optional[FlushStrategy] = None,
    errors: str = "collect",
) -> StreamPipeline:
    """Streaming entry point (reference: etielle/fluent.py:2155-2195)."""
    return StreamPipeline(
        source,
        spark=spark,
        eager_roots=eager_roots,
        flush_strategy=flush_strategy,
        errors=errors,
    )
