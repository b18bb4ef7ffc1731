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
