"""Seeded inputs and fluent pipelines for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same documents and chunk sequence.  Generation runs before the session
starts, outside every timed region; the engine only sees the generated
inputs, through its public API (``etl`` / ``stream`` / ``load`` / ``run``).
"""

from __future__ import annotations

import random

DOCS_USERS = 600            # nested_json_docs: distinct users in the root document
STREAM_CHUNKS = 6           # chunked_upsert_stream: chunks per stream run
STREAM_CHUNK_RECORDS = 250  # chunked_upsert_stream: user records per chunk
STREAM_REPEAT = 0.2         # chunked_upsert_stream: share of records re-sending a seen user

TAGS = [f"tag{i:02d}" for i in range(40)]
WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


# ---------------------------------------------------------------------------
# nested_json_docs: users -> posts -> comments, plus post tag leaf lists
# ---------------------------------------------------------------------------


def gen_nested_docs(seed: int) -> dict:
    """One in-memory root: ``{"users": [...]}``.  About 10% of user
    entries repeat an earlier id with a new name (last write wins); post
    and comment ids are unique; tags repeat across posts (AddPolicy)."""
    rng = random.Random(seed)
    users: list[dict] = []
    post_id = comment_id = 0
    n_unique = DOCS_USERS
    for i in range(n_unique + n_unique // 10):
        uid = i if i < n_unique else rng.randrange(n_unique)
        posts = []
        for _ in range(rng.randint(1, 5)):
            post_id += 1
            comments = []
            for _ in range(rng.randint(0, 4)):
                comment_id += 1
                comments.append(
                    {"id": comment_id, "body": _words(rng, 6), "author": f"u{rng.randrange(n_unique)}"}
                )
            posts.append(
                {
                    "id": post_id,
                    "title": _words(rng, 4),
                    "score": rng.randint(0, 100),
                    "tags": rng.sample(TAGS, rng.randint(0, 4)),
                    "comments": comments,
                }
            )
        users.append({"id": f"u{uid}", "name": f"name{i}", "posts": posts})
    return {"users": users}


def nested_docs_pipeline(root: dict, spark, sink, on_event):
    from etielle_spark import AddPolicy, Field, etl, get, get_from_parent, literal, node

    return (
        etl(root, spark=spark, on_event=on_event)
        .goto("users").each()
        .map_to("users", fields=[Field("id", get("id")), Field("name", get("name"))], join_on=["id"])
        .goto_root(0).goto("users").each().goto("posts").each()
        .map_to(
            "posts",
            fields=[
                Field("id", get("id")),
                Field("user_id", get_from_parent("id")),
                Field("title", get("title")),
                Field("score", get("score")),
            ],
            join_on=["id"],
        )
        .link_to("users", by={"user_id": "id"}, fk="user_fk")
        .goto_root(0).goto("users").each().goto("posts").each().goto("comments").each()
        .map_to(
            "comments",
            fields=[
                Field("id", get("id")),
                Field("post_id", get_from_parent("id")),
                Field("author", get("author")),
                Field("body", get("body")),
            ],
            join_on=["id"],
        )
        .link_to("posts", by={"post_id": "id"}, fk="post_fk")
        .goto_root(0).goto("users").each().goto("posts").each().goto("tags").each()
        .map_to(
            "tags",
            fields=[
                Field("tag", node()),
                Field("uses", literal(1), merge=AddPolicy()),
                Field("score_sum", get_from_parent("score"), merge=AddPolicy()),
            ],
            join_on=["tag"],
        )
        .load(sink)
    )


# ---------------------------------------------------------------------------
# chunked_upsert_stream: users -> posts records, upserted chunk by chunk
# ---------------------------------------------------------------------------


def gen_stream_chunks(seed: int, n_chunks: int = STREAM_CHUNKS) -> list[list[dict]]:
    """``n_chunks`` chunks of ``STREAM_CHUNK_RECORDS`` records; each
    record is one user with its posts.  About ``STREAM_REPEAT`` of the
    records re-send an already-seen user (new name/karma, new posts, and
    sometimes an already-seen post id with a new title) — the upserts."""
    rng = random.Random(seed)
    seen_users: list[int] = []
    seen_posts: list[tuple[int, int]] = []  # (post_id, owner)
    next_user = next_post = 0
    chunks = []
    for c in range(n_chunks):
        recs = []
        in_chunk: set[int] = set()
        for _ in range(STREAM_CHUNK_RECORDS):
            uid = None
            if seen_users and rng.random() < STREAM_REPEAT:
                cand = rng.choice(seen_users)
                if cand not in in_chunk:
                    uid = cand
            if uid is None:
                uid = next_user
                next_user += 1
                seen_users.append(uid)
            in_chunk.add(uid)
            posts = []
            own = [p for p, o in seen_posts[-200:] if o == uid]
            if own and rng.random() < 0.5:
                posts.append({"id": own[-1], "title": f"edit{c}-{rng.randrange(1000)}"})
            for _ in range(rng.randint(1, 3)):
                posts.append({"id": next_post, "title": _words(rng, 3)})
                seen_posts.append((next_post, uid))
                next_post += 1
            recs.append(
                {
                    "users": [{"id": uid, "name": f"n{c}-{rng.randrange(1000)}", "karma": rng.randrange(500)}],
                    "posts": [dict(p, user_id=uid) for p in posts],
                }
            )
        chunks.append(recs)
    return chunks


def stream_pipeline(chunk_iter, spark, sink, strategy):
    from etielle_spark import Field, PreSegmentedChunkSource, get, stream

    return (
        stream(PreSegmentedChunkSource(chunk_iter), spark=spark, flush_strategy=strategy)
        .goto("users").each()
        .map_to(
            "users",
            fields=[Field("id", get("id")), Field("name", get("name")), Field("karma", get("karma"))],
            join_on=["id"],
        )
        .goto_root(0).goto("posts").each()
        .map_to(
            "posts",
            fields=[Field("id", get("id")), Field("user_id", get("user_id")), Field("title", get("title"))],
            join_on=["id"],
        )
        .link_to("users", by={"user_id": "id"})
        .load(sink)
    )


