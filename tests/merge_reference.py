"""Pure-Python reference for the keyed merge: a row-at-a-time fold in
arrival order, the semantics the engine's one ``groupBy().agg()`` must
reproduce (reference executor.py:181-196, 272-353; instances.py:31-85).

- a row with a None or ``""`` key part is skipped;
- no policy = last write wins, an explicit None overwrites;
- Add: ``(old or 0) + (new or 0)``;
- Append / Extend: collect the non-None values (Extend splices lists);
  a field supplied only as None is ``[]``;
- Min / Max: None-tolerant running min / max;
- FirstNonNull: the first non-None value;
- a field no row of the key supplied is absent (None).
"""

import json

from etielle_spark.policies import (
    AddPolicy,
    AppendPolicy,
    ExtendPolicy,
    FirstNonNullPolicy,
    MaxPolicy,
    MinPolicy,
)

_ABSENT = object()


def _step(policy, old, v):
    if policy is None:
        return v
    if isinstance(policy, AddPolicy):
        return (0 if old in (_ABSENT, None) else old) + (v or 0)
    if isinstance(policy, (AppendPolicy, ExtendPolicy)):
        acc = [] if old is _ABSENT else old
        if v is None:
            return acc
        if isinstance(policy, ExtendPolicy) and isinstance(v, list):
            return acc + v
        return acc + [v]
    if isinstance(policy, (MinPolicy, MaxPolicy)):
        if old in (_ABSENT, None):
            return v
        if v is None:
            return old
        return min(old, v) if isinstance(policy, MinPolicy) else max(old, v)
    if isinstance(policy, FirstNonNullPolicy):
        return v if old in (_ABSENT, None) else old
    raise TypeError(f"no reference fold for {policy!r}")


def reference_merge(rows, policies):
    """``rows``: ``(key_tuple, {field: value})`` in arrival order, each
    dict holding exactly the fields that row SUPPLIES (TempField values
    supply nothing).  ``policies``: ``{field: MergePolicy}``.  Returns
    ``{key_tuple: {field: merged_value}}``."""
    out: dict = {}
    for key, vals in rows:
        if any(k is None or k == "" for k in key):
            continue
        state = out.setdefault(key, {})
        for f, v in vals.items():
            state[f] = _step(policies.get(f), state.get(f, _ABSENT), v)
    return out


def reference_flush(chunks, strategy, max_keys=None):
    """Pure-Python replay of a stream's flush strategies over one keyed
    table.  ``chunks``: per chunk, ``(key_tuple, {field: value})`` rows in
    arrival order; each chunk is first merged on its own (last write
    wins, ``reference_merge`` with no policies).  ``strategy``:

    - ``"append"``: every chunk's merged rows;
    - ``"update"`` / ``"skip"``: per key, the latest / the first chunk's row;
    - ``"buffered"``: the bounded LRU (``max_keys``) of the reference's
      BufferedKeyFlushStrategy.  A key still in the LRU copies its
      non-None values onto the row it last wrote; a new or evicted key
      starts a new row.  A chunk's keys enter the LRU in the order of
      their JSON form; entries past ``max_keys`` are evicted after the
      chunk.

    Returns the table as a list of ``{field: value}`` rows."""
    out: dict = {}
    lru: dict = {}  # key -> the row it last wrote (insertion order = recency)
    for ordinal, rows in enumerate(chunks):
        merged = reference_merge(rows, {})
        if strategy == "append":
            out.update({(k, ordinal): v for k, v in merged.items()})
        elif strategy == "update":
            out.update(merged)
        elif strategy == "skip":
            for k, v in merged.items():
                out.setdefault(k, v)
        else:
            for k in sorted(merged, key=lambda k: [json.dumps(p) for p in k]):
                row = lru.pop(k, None)
                if row is None:
                    row = out[(k, ordinal)] = dict(merged[k])
                else:
                    row.update({f: v for f, v in merged[k].items() if v is not None})
                lru[k] = row
            while len(lru) > max_keys:
                del lru[next(iter(lru))]
    return list(out.values())


def reference_bind(children, parents, pairs):
    """Pure-Python dict bind (reference relationships.py:100-152,
    461-538): index the parents by their key tuple, the LAST one in
    arrival order winning, then look each child's key up.  ``pairs``:
    ``(child_field, parent_field)``.  Keys compare as Python values
    (``7 == 7.0``, ``7 != "7"``); a child with a None key part is skipped.
    Returns ``(bound, orphans)``: per child, its parent dict or None;
    and the children with no None key part and no parent."""
    index = {tuple(p[pf] for _, pf in pairs): p for p in parents}
    bound, orphans = [], []
    for c in children:
        key = tuple(c[cf] for cf, _ in pairs)
        parent = None if None in key else index.get(key)
        bound.append(parent)
        if parent is None and None not in key:
            orphans.append(c)
    return bound, orphans
