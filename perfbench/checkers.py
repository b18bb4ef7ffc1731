"""Independent output checkers, run after timing.

The expected tables are computed in pure Python from the generated
inputs: last write wins on repeated keys, ``AddPolicy`` sums, and an
upsert replay of the chunk stream.  The engine's output is read back from
its parquet files with pyarrow (no Spark).  Tables are compared by row
count and by an order-independent checksum of their rows.
"""

from __future__ import annotations

import hashlib
import os
from typing import Any

# table -> (columns, rows)
Expected = dict[str, tuple[list[str], list[tuple]]]


def _canon(v: Any) -> Any:
    if isinstance(v, float):
        return round(v, 6)
    return v


def checksum(rows: list[tuple]) -> int:
    """Order-independent: sum of per-row digests mod 2**64."""
    total = 0
    for r in rows:
        d = hashlib.blake2b(repr(tuple(_canon(v) for v in r)).encode(), digest_size=8)
        total = (total + int.from_bytes(d.digest(), "little")) % (1 << 64)
    return total


def expected_docs(root: dict) -> Expected:
    users: dict[str, str] = {}
    posts, comments = [], []
    tags: dict[str, list[int]] = {}
    for u in root["users"]:
        users.pop(u["id"], None)  # last write wins, and moves to the end
        users[u["id"]] = u["name"]
        for p in u["posts"]:
            posts.append((p["id"], u["id"], p["title"], p["score"], u["id"]))
            for c in p["comments"]:
                comments.append((c["id"], p["id"], c["author"], c["body"], p["id"]))
            for t in p["tags"]:
                acc = tags.setdefault(t, [0, 0])
                acc[0] += 1
                acc[1] += p["score"]
    return {
        "users": (["id", "name"], list(users.items())),
        "posts": (["id", "user_id", "title", "score", "user_fk"], posts),
        "comments": (["id", "post_id", "author", "body", "post_fk"], comments),
        "tags": (["tag", "uses", "score_sum"], [(t, n, s) for t, (n, s) in tags.items()]),
    }


def expected_stream(chunks: list[list[dict]]) -> Expected:
    """Replay of ``UpsertFlushStrategy("update")``: a key seen in a later
    chunk replaces the whole earlier row."""
    users: dict[int, tuple] = {}
    posts: dict[int, tuple] = {}
    for chunk in chunks:
        for rec in chunk:
            for u in rec["users"]:
                users[u["id"]] = (u["id"], u["name"], u["karma"])
            for p in rec["posts"]:
                posts[p["id"]] = (p["id"], p["user_id"], p["title"])
    return {
        "users": (["id", "name", "karma"], list(users.values())),
        "posts": (["id", "user_id", "title"], list(posts.values())),
    }


def read_output(out_dir: str, table: str, columns: list[str]) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, table), columns=columns)
    cols = [t.column(c).to_pylist() for c in columns]
    return list(zip(*cols))


def check_output(out_dir: str, expected: Expected) -> tuple[bool, int, list[str]]:
    """Returns (ok, rows found, mismatch notes)."""
    ok, rows, notes = True, 0, []
    for table, (columns, want) in expected.items():
        try:
            got = read_output(out_dir, table, columns)
        except Exception as e:  # missing table or column is a failed check
            ok = False
            notes.append(f"{table}: unreadable ({type(e).__name__}: {e})")
            continue
        rows += len(got)
        if len(got) != len(want):
            ok = False
            notes.append(f"{table}: {len(got)} rows, expected {len(want)}")
        elif checksum(got) != checksum(want):
            ok = False
            notes.append(f"{table}: checksum mismatch over {len(got)} rows")
    return ok, rows, notes
