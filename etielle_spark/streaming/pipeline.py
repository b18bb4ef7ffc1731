"""Chunked streaming execution with flush strategies.

Reference lifecycle (etielle/fluent.py:1987-2026): per chunk — map, validate
relationship-completeness, bind, flush via strategy, evict.  Here each chunk
is one batch run (``PipelineBuilder.run``): a sequential chunk's roots are
read as one root of several documents, one row each (so the chunk's keyed
merges are one groupBy with a correct cross-root arrival order), and
completeness is checked with the batch run's own orphan probes.  Every
chunk recompiles its plan; only the memoized expressions (``cexpr``) are
reused.  "Evict" is just micro-batch scope.

Flush strategies (reference: etielle/chunking.py:281-677):
- KeyCompleteFlushStrategy: plain append.
- UpsertFlushStrategy("update"): key conflict -> replace whole row.
- UpsertFlushStrategy("skip"):   key conflict -> keep existing row.
- BufferedKeyFlushStrategy: the reference's bounded-LRU re-merge.  A key
  still in the LRU (``max_keys`` most recently flushed) merges onto its
  stored row, last non-None write wins per column; a key evicted from
  the LRU re-inserts as a new row.  Only the key sets live on the driver.
"""

from __future__ import annotations

from functools import reduce
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..colcache import bq, cexpr, qcol
from ..fluent import PipelineBuilder, PipelineResult, _Docs
from .chunks import Chunk, ChunkSource, RelationshipIncompleteError


class TableStore:
    """Accumulated output tables across chunk flushes.

    In-memory DataFrame store for tests/drivers; a production sink swaps
    this for Delta/JDBC while keeping the same strategy semantics.  Every
    ``checkpoint_every`` puts, the accumulated plan is truncated with
    ``localCheckpoint`` — otherwise hundreds of chunk flushes build a
    union/anti-join lineage that overwhelms the optimizer.
    """

    def __init__(self, checkpoint_every: int = 16) -> None:
        self._tables: dict[str, DataFrame] = {}
        self._puts: dict[str, int] = {}
        self._checkpoint_every = checkpoint_every

    def get(self, name: str) -> Optional[DataFrame]:
        return self._tables.get(name)

    def put(self, name: str, df: DataFrame) -> None:
        n = self._puts.get(name, 0) + 1
        self._puts[name] = n
        if self._checkpoint_every and n % self._checkpoint_every == 0:
            df = df.localCheckpoint(eager=True)
        self._tables[name] = df

    @property
    def tables(self) -> dict[str, DataFrame]:
        return dict(self._tables)


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
        old = store.get(name)
        store.put(name, df if old is None else old.unionByName(df, allowMissingColumns=True))


class UpsertFlushStrategy(FlushStrategy):
    """'update': PK conflict -> overwrite whole row (chunking.py:361-501);
    'skip': PK conflict -> keep existing row (chunking.py:503-540)."""

    def __init__(self, mode: str = "update"):
        if mode not in ("update", "skip"):
            raise ValueError(f"UpsertFlushStrategy: unknown mode {mode!r}")
        self.mode = mode

    def flush(self, store, name, df, keys):
        old = store.get(name)
        if old is None or not keys:
            KeyCompleteFlushStrategy().flush(store, name, df, keys)
            return
        key_refs = [bq(k) for k in keys]
        if self.mode == "update":
            kept_old = old.join(df.select(*key_refs).dropDuplicates(), keys, "left_anti")
            store.put(name, kept_old.unionByName(df, allowMissingColumns=True))
        else:
            fresh = df.join(old.select(*key_refs).dropDuplicates(), keys, "left_anti")
            store.put(name, old.unionByName(fresh, allowMissingColumns=True))


class BufferedKeyFlushStrategy(FlushStrategy):
    """Bounded LRU of recently-flushed keys (chunking.py:543-677).

    A key still in the LRU merges onto its existing row
    (last-non-None-write-wins per column); a key EVICTED from the LRU
    re-inserts as a new row — the reference's documented heuristic, where
    correctness is bounded by ``max_keys`` and the worst-case key
    reappearance gap.  Divergence from the reference (rows have no
    Python identity here): a cached key with earlier eviction-duplicates
    updates ALL rows of that key, not just the cached instance.
    Chunk key sets are collected driver-side — bounded by chunk size,
    exactly like the reference's per-chunk instance dict."""

    def __init__(self, max_keys: int = 10_000):
        if max_keys < 1:
            raise ValueError(f"max_keys must be >= 1, got {max_keys}")
        self.max_keys = max_keys
        from collections import OrderedDict

        self._lru: "OrderedDict[tuple, None]" = OrderedDict()

    def _record(self, name: str, keys: list[tuple]) -> None:
        for k in keys:
            ck = (name, k)
            if ck in self._lru:
                self._lru.move_to_end(ck)
            else:
                self._lru[ck] = None
        while len(self._lru) > self.max_keys:
            self._lru.popitem(last=False)

    def flush(self, store, name, df, keys):
        old = store.get(name)
        if not keys:
            KeyCompleteFlushStrategy().flush(store, name, df, keys)
            return
        key_refs = [bq(k) for k in keys]
        incoming = [tuple(r) for r in df.select(*key_refs).dropDuplicates().collect()]
        if old is None:
            KeyCompleteFlushStrategy().flush(store, name, df, keys)
            self._record(name, incoming)
            return
        cached = [k for k in incoming if (name, k) in self._lru]
        if cached:
            spark = df.sparkSession
            cached_df = spark.createDataFrame(cached, df.select(*key_refs).schema)
            upd_new = df.join(F.broadcast(cached_df), list(keys), "left_semi")
            ins_new = df.join(F.broadcast(cached_df), list(keys), "left_anti")
            # Single left join over the store: cached-key rows merge
            # column-wise, every other row passes through (the probe misses,
            # coalesce keeps the old value).  `old` must appear exactly ONCE
            # in the new plan — a touched/rest split references it twice and
            # triples the plan per flush, exploding analysis time long
            # before the TableStore's every-16-puts checkpoint can truncate.
            ocols = [c for c in old.columns if c not in keys]
            ncols = set(upd_new.columns)
            merged = (
                old.alias("o")
                .join(F.broadcast(upd_new).alias("n"), list(keys), "left")
                .select(
                    *[qcol(k) for k in keys],
                    *[
                        (
                            F.coalesce(F.col(f"n.{bq(c)}"), F.col(f"o.{bq(c)}"))
                            if c in ncols
                            else F.col(f"o.{bq(c)}")
                        ).alias(c)
                        for c in ocols
                    ],
                )
            )
            store.put(name, merged.unionByName(ins_new, allowMissingColumns=True))
        else:
            store.put(name, old.unionByName(df, allowMissingColumns=True))
        self._record(name, incoming)


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
        store = TableStore()
        eager_internal: dict[str, DataFrame] = {}
        errors_store: dict[str, DataFrame] = {}

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
                old = errors_store.get(name)
                errors_store[name] = (
                    err if old is None else old.unionByName(err, allowMissingColumns=True)
                )
        if self._sink is not None:
            # the sink receives the strategy-resolved final tables (incl.
            # eager dimensions); per-micro-batch exactly-once writes belong
            # to the foreachBatch adapter (streaming/windows.py)
            for name, df in store.tables.items():
                self._sink.write(name, df)
        return StreamResult(store.tables, n, errors_store)


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
