"""Relationship binding at the DataFrame level (reference:
etielle/relationships.py:14-152, 541-616).

The reference's core API binds child instances to parents through
composite logical keys computed per traversal context; inside the fluent
engine this is ``link_to``.  This module exposes the same surface for
plain DataFrames — the shape a power user needs when the child and
parent tables already exist as frames (e.g. produced by two separate
pipelines) and only the FK binding is left.

Semantics mirror the reference:

- the parent side deduplicates by key with LAST-arrival-wins when an
  ``order_col`` is given (the reference's secondary index overwrites in
  arrival order), else any-deterministic ``max_by`` on the fk itself;
- ``required=True`` surfaces unmatched children as an errors frame
  (reference raises per-key binding errors; a distributed engine
  collects them);
- ``validate_relationship_completeness`` raises
  ``RelationshipIncompleteError`` when required parents are missing —
  the streaming chunk-completeness check, usable on any frame pair.

Scale shape: one equi-join; the parent key table is projected to
(key, fk) before joining so the join payload is narrow, and AQE
broadcasts it when small.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .colcache import bq, qcol
from .streaming.chunks import RelationshipIncompleteError

__all__ = [
    "ManyToOneSpec",
    "compute_relationship_keys",
    "bind_many_to_one",
    "validate_relationship_completeness",
    "RelationshipIncompleteError",
]


@dataclass(frozen=True)
class ManyToOneSpec:
    """Declarative many-to-one FK binding (reference
    relationships.py:14-33), in DataFrame terms.

    - ``child_table`` / ``parent_table``: names (diagnostics only here);
    - ``attr``: output FK column added to the child frame;
    - ``child_keys`` / ``parent_keys``: equal-length column lists forming
      the composite logical key on each side (the reference's
      ``child_to_parent_key`` transforms, already materialized as
      columns);
    - ``parent_fk``: parent column whose value populates ``attr``
      (defaults to the first parent key — the reference binds the parent
      instance itself; a DataFrame engine binds its id);
    - ``required``: unmatched children are errors (vs NULL fk).
    """

    child_table: str
    parent_table: str
    attr: str
    child_keys: Sequence[str]
    parent_keys: Sequence[str]
    parent_fk: Optional[str] = None
    required: bool = True

    def __post_init__(self):
        if len(self.child_keys) != len(self.parent_keys):
            raise ValueError(
                f"{self.child_table}->{self.parent_table}: child_keys and "
                "parent_keys must have equal length"
            )


def compute_relationship_keys(
    child: DataFrame, spec: ManyToOneSpec
) -> DataFrame:
    """The child side's composite keys (reference
    relationships.py:35-97): one row per child with the key columns
    aliased to the parent's names — the probe side of the bind join."""
    return child.select(
        *[
            qcol(c).alias(p)
            for c, p in zip(spec.child_keys, spec.parent_keys)
        ]
    )


def _parent_index(parent: DataFrame, spec: ManyToOneSpec, order_col: Optional[str]) -> DataFrame:
    fk = spec.parent_fk or spec.parent_keys[0]
    if order_col is not None:
        agg = F.max_by(qcol(fk), qcol(order_col))
    else:
        agg = F.max_by(qcol(fk), qcol(fk))
    return (
        parent.groupBy(*[qcol(k) for k in spec.parent_keys])
        .agg(agg.alias(spec.attr))
    )


def bind_many_to_one(
    child: DataFrame,
    parent: DataFrame,
    spec: ManyToOneSpec,
    *,
    order_col: Optional[str] = None,
) -> tuple[DataFrame, DataFrame]:
    """Bind children to parents (reference relationships.py:100-152).

    Returns ``(bound, errors)``: ``bound`` is the child frame plus the
    ``spec.attr`` FK column; ``errors`` holds the children whose parent
    key found no match (empty frame when ``required=False`` — those
    children keep a NULL fk instead).  Duplicate parent keys resolve
    last-wins by ``order_col`` when given (reference arrival-order
    overwrite), else deterministically by the fk value.
    """
    idx = _parent_index(parent, spec, order_col)
    cond = None
    for c, p in zip(spec.child_keys, spec.parent_keys):
        eq = child[bq(c)] == idx[bq(p)]
        cond = eq if cond is None else cond & eq
    joined = child.join(idx, cond, "left").select(
        *[child[bq(c)] for c in child.columns], idx[bq(spec.attr)]
    )
    if not spec.required:
        return joined, joined.filter(F.lit(False))
    errors = joined.filter(qcol(spec.attr).isNull()).drop(spec.attr)
    return joined.filter(qcol(spec.attr).isNotNull()), errors


def validate_relationship_completeness(
    child: DataFrame,
    parent: DataFrame,
    spec: ManyToOneSpec,
    *,
    max_examples: int = 5,
) -> None:
    """Raise :class:`RelationshipIncompleteError` when a required
    relationship has children whose parents are absent (reference
    relationships.py:545-616); no-op otherwise.  One anti-join."""
    if not spec.required:
        return
    probe = compute_relationship_keys(child, spec).dropDuplicates()
    missing = probe.join(
        parent.select(*[qcol(k) for k in spec.parent_keys]).dropDuplicates(),
        list(spec.parent_keys),
        "left_anti",
    )
    examples = [tuple(r) for r in missing.limit(max_examples).collect()]
    if examples:
        raise RelationshipIncompleteError(
            f"{spec.child_table}->{spec.parent_table}: "
            f"{len(examples)}+ missing parent key(s), e.g. {examples}"
        )
