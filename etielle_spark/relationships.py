"""Relationship binding at the DataFrame level (reference:
etielle/relationships.py:14-152, 541-616).

The reference's core API binds child instances to parents through
composite logical keys computed per traversal context; inside the fluent
engine this is ``link_to``.  This module exposes the same surface for
plain DataFrames — the shape a power user needs when the child and
parent tables already exist as frames (e.g. produced by two separate
pipelines) and only the FK binding is left.  It shares one engine with
``link_to`` (``fluent._bind`` and ``fluent._orphans``), so two keys
match by one rule: Python's, ``7 == 7.0`` and ``7 != "7"``.

Semantics mirror the reference:

- the parent side deduplicates by key with LAST-arrival-wins when an
  ``order_col`` is given (the reference's secondary index overwrites in
  arrival order), else any-deterministic ``max_by`` on the fk itself;
- a child with a NULL key part is skipped (a NULL fk, never an error);
- ``required=True`` surfaces unmatched children as an errors frame
  (reference raises per-key binding errors; a distributed engine
  collects them);
- ``validate_relationship_completeness`` raises
  ``RelationshipIncompleteError`` when required parents are missing —
  the streaming chunk-completeness check, usable on any frame pair.

Scale shape: one equi-join against a broadcast (key, fk) index.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .colcache import bq, qcol
from .fluent import _bind, _orphans
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
    children keep a NULL fk instead).  A child with a NULL key part is
    bound with a NULL fk, never an error.  Duplicate parent keys resolve
    last-wins by ``order_col`` when given (reference arrival-order
    overwrite), else deterministically by the fk value.
    """
    pairs = list(zip(spec.child_keys, spec.parent_keys))
    fk = spec.parent_fk or spec.parent_keys[0]
    bound = _bind(child, parent, pairs, spec.attr, fk, order_col or fk)
    if not spec.required:
        return bound, bound.filter(F.lit(False))
    errors = _orphans(child, parent, pairs)
    # every other child: a NULL key part, or a key some parent has
    keyless = " OR ".join(f"{bq(c)} IS NULL" for c in spec.child_keys)
    same = [(c, c) for c in spec.child_keys]
    return bound.filter(keyless).unionByName(_orphans(bound, errors, same)), errors


def validate_relationship_completeness(
    child: DataFrame,
    parent: DataFrame,
    spec: ManyToOneSpec,
    *,
    max_examples: int = 5,
) -> None:
    """Raise :class:`RelationshipIncompleteError` when a required
    relationship has children whose parents are absent (reference
    relationships.py:545-616); no-op otherwise.  One anti-join; a child
    with a NULL key part has no parent to miss."""
    if not spec.required:
        return
    missing = _orphans(child, parent, list(zip(spec.child_keys, spec.parent_keys)))
    keys = missing.select(*[qcol(c) for c in spec.child_keys]).limit(max_examples)
    examples = [tuple(r) for r in keys.collect()]
    if examples:
        raise RelationshipIncompleteError(
            f"{spec.child_table}->{spec.parent_table}: "
            f"{len(examples)}+ missing parent key(s), e.g. {examples}"
        )
