"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design notes for 100 TB:

- Exact dedup is a hash aggregation on a digest of the content column —
  one shuffle on a short key instead of the full text.
- MinHash signatures use md5-based permutations (deterministic and
  cross-engine reproducible, so a SQL oracle can verify them).  The LSH
  band join turns O(n²) pairing into a shuffle on band buckets; only
  candidate pairs pay the exact-Jaccard verification join.
- Everything is built-in expressions (explode / groupBy / join) — no
  Python in the hot path, so whole-stage codegen applies and AQE handles
  skewed buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per distinct combination of ``cols`` (hash groupBy)."""
    return df.dropDuplicates(cols)


def exact_dedup_by_content(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the smallest-id row per exact content digest.

    Grouping on md5(text) instead of the raw text keeps the shuffle key at
    16 bytes (binary digest) regardless of document size.
    """
    digest = F.unhex(F.md5(F.col(text_col))).alias("__digest")
    return (
        df.select("*", digest)
        .groupBy("__digest")
        .agg(F.min(F.col(id_col)).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__digest")
    )


# ---------------------------------------------------------------------------
# shingling / MinHash / LSH
# ---------------------------------------------------------------------------


def let_(value: Column, body) -> Column:
    """Evaluate ``value`` ONCE and bind it to a lambda variable that
    ``body`` may reference any number of times.

    Catalyst's CollapseProject inlines aliased expressions into every
    downstream reference, so ``select(big.alias("x")).select(f(x), g(x),
    h(x))`` re-evaluates ``big`` three times per row — quadratic when
    ``big`` itself scans an array.  Wrapping the value in a one-element
    array and mapping ``body`` over it turns the reference into a bound
    lambda variable (evaluated once per row), i.e. a functional *let*.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def _normalize(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def normalize_text(
    text: Column,
    *,
    level: str = "basic",
) -> Column:
    """Dedup-robust text normalization (the CCNet / ExactSubstr
    pre-pass): near-duplicates that differ only in case, punctuation,
    digits, or spacing normalize to the SAME string, so exact and
    MinHash dedup catch them.  Pure column expression — map-only,
    composes in front of every dedup operator.

    Levels (each includes the previous):

    - ``basic``: lowercase, trim, collapse whitespace;
    - ``punct``: strip everything but letters, digits and spaces;
    - ``aggressive``: additionally fold every digit run to ``0`` (version
      strings, timestamps and counters stop defeating dedup).

    ASCII-oriented by design: the regexes are engine-portable (RE2-safe,
    same semantics in DuckDB for the oracle) and the synthetic corpora
    are ASCII; a full NFKC/accent fold needs ICU and would be a Pandas
    UDF seam like the codecs.
    """
    if level not in ("basic", "punct", "aggressive"):
        raise ValueError("level must be basic | punct | aggressive")
    out = F.lower(F.trim(text))
    if level in ("punct", "aggressive"):
        out = F.regexp_replace(out, r"[^a-z0-9\s]", " ")
    if level == "aggressive":
        out = F.regexp_replace(out, r"[0-9]+", "0")
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lowercased, trimmed text; empty or
    whitespace-only (or NULL) text yields an empty array.

    A single regex split (codegen'd) — trimming first means no empty
    tokens mid-array, and the empty-input guard covers the one case where
    split still emits [''].
    """
    trimmed = F.lower(F.trim(text))
    return F.when(
        trimmed.isNotNull() & (trimmed != ""), F.split(trimmed, r"\s+")
    ).otherwise(F.array().cast("array<string>"))


def grams_of(toks: Column, n: int) -> Column:
    """Distinct word n-grams of a token-array column, built by zipping the
    array with its shifted selves.

    Deliberately avoids ``slice(toks, i, n)`` inside a per-element lambda:
    Catalyst's CollapseProject inlines the token expression into the
    lambda, re-evaluating the tokenizer once per element — O(T^2) per
    document.  ``zip_with`` over pre-shifted arrays evaluates each shift
    once per row, keeping the pass linear.
    """
    gram = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        # zip_with pads the shorter array with NULL; concat propagates the
        # NULL, and array_compact below drops the incomplete tail grams.
        gram = F.zip_with(gram, shifted, lambda g, t: F.concat(g, F.lit(" "), t))
    grams = F.array_compact(gram)
    short = F.when(F.size(toks) > 0, F.array(F.array_join(toks, " "))).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(short))


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> (single-expression
    form; prefer shingle_df for the staged, non-quadratic plan)."""
    return grams_of(tokens_col(text), n)


def shingle_df(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) exploded pairs — the substrate for MinHash & Jaccard.

    Tokens and grams are staged as real columns between selects so each
    pass over the text runs once per document.
    """
    toks = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"))
    arr = toks.select(F.col(id_col), grams_of(F.col("__toks"), n).alias("__sh"))
    return arr.select(F.col(id_col), F.explode("__sh").alias("shingle"))


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) multiplier/offset pairs for the universal-hash
    permutations ``h_i(x) = (a_i * base(x) + b_i) mod P``: derived from
    md5 so any engine (or the DuckDB oracle) can re-derive them, with
    ``a_i`` in [1, P-1] and ``b_i`` in [0, P-1].  Products stay under
    2^62 (31-bit a × 31-bit base), so the arithmetic is exact in any
    signed-64 engine."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a|{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b|{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def minhash_base_col(s: Column) -> Column:
    """32-bit base hash of a shingle, reduced mod P: the first 8 hex
    digits of md5 — reproducible in any engine (DuckDB:
    ``('0x' || substr(md5(s), 1, 8))::BIGINT % P``)."""
    return (
        F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint") % MINHASH_P
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    base_hash: str = "md5",
) -> DataFrame:
    """Per-document MinHash signature as ``array<bigint>`` of length
    ``num_hashes``.

    One md5 per shingle (the base hash), then ``num_hashes`` carefully
    bounded multiply-mod-prime permutations (Carter–Wegman universal
    hashing over P = 2^31-1) — ~``num_hashes``× less hashing than the
    md5-per-permutation formulation at identical estimator quality, which
    is the difference that matters when the corpus is 100 TB.  Every step
    is exact 64-bit integer arithmetic reproducible in any engine, so the
    result stays oracle-checkable (the reference's semantic model is the
    shingle-set resemblance sketch, Broder 1997; cf.
    /root/reference/etielle — no native minhash, this is a Spark-first
    extension).

    Map-only: the signature is a per-row fold over the shingle array
    carrying the ``num_hashes`` running minima — no explode, no groupBy,
    no shuffle at all.  Documents with zero shingles are dropped,
    matching the groupBy-over-exploded-shingles formulation.

    ``base_hash="xxhash64"`` swaps the md5 base for Spark's codegen
    xxhash64 intrinsic — measured 1.75x faster on the 600k-doc stress
    (6.8 s -> 4.0 s), identical estimator quality, but the signatures
    are engine-specific (no DuckDB twin), so oracle-checked pipelines
    keep the md5 default and production corpus passes opt in.
    Downstream LSH composes with either via their ``signatures=``
    injection parameter.
    """
    if base_hash not in ("md5", "xxhash64"):
        raise ValueError(f"minhash_signatures: unknown base_hash {base_hash!r}")
    consts = minhash_perm_constants(num_hashes)
    base_of = (
        minhash_base_col
        if base_hash == "md5"
        else (lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)))
    )

    # single fold over the let_-bound shingle array, carrying the
    # num_hashes running minima as the accumulator (P is above every
    # permuted value, so it is the identity).  let_ builds the shingle
    # array once per row; the zero-shingle filter tests the (cheaper)
    # token array, which is empty exactly when the shingle array is.
    # the permuted values stay as num_hashes INLINE arithmetic
    # expressions: a transform over a struct-array of (a, b) constants
    # parses faster driver-side but pays per-shingle lambda binding +
    # struct field extraction in the (interpreted) HOF path — measured
    # +53% on q27's 100x scale curve, so the per-permutation form wins
    sig = let_(
        shingles_col(F.col(text_col), n),
        lambda sh: F.aggregate(
            sh,
            F.array(*[F.lit(MINHASH_P).cast("bigint")] * num_hashes),
            lambda acc, s: let_(
                base_of(s),
                lambda base: F.zip_with(
                    acc,
                    F.array(
                        *[
                            (F.lit(a) * base + F.lit(b)) % F.lit(MINHASH_P)
                            for a, b in consts
                        ]
                    ),
                    lambda x, y: F.least(x, y),
                ),
            ),
        ),
    )
    return df.filter(F.size(tokens_col(F.col(text_col))) > 0).select(
        F.col(id_col), sig.alias("signature")
    )


def band_digests(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(id, band, band_digest) rows: each document's MinHash signature
    split into ``bands`` groups of ``num_hashes // bands`` hashes, each
    group reduced to one md5 digest.  This frame IS the LSH index — two
    documents are candidate near-duplicates iff they share a row's
    (band, band_digest).  Exposed separately so incremental pipelines
    can persist it and probe new batches against it without recomputing
    old signatures (streaming.incremental_dedup)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes)
    )
    # let_-bound: when the signature is an inline expression (not a
    # materialized column), referencing it once per band would re-run the
    # whole MinHash computation ``bands`` times after CollapseProject
    band_arr = let_(
        F.col("signature"),
        lambda s: F.array(
            *[
                F.md5(
                    F.array_join(
                        F.slice(s, b * rows_per_band + 1, rows_per_band), "|"
                    )
                )
                for b in range(bands)
            ]
        ),
    )
    return sig.select(
        F.col(id_col),
        F.posexplode(band_arr).alias("band", "band_digest"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash signatures.

    Documents sharing any band digest become a candidate pair; the join is
    an equi-join on (band index, band digest) — a shuffle on tiny keys, the
    scale-out replacement for all-pairs comparison.

    ``max_bucket_size`` is the scale guard: a band bucket with B members
    yields B² candidate pairs, so one boilerplate-heavy bucket can
    dominate the whole join.  Buckets above the cap are dropped (the
    standard LSH stop-list: such documents are "too common to pair" here
    and are caught by the other bands or by exact dedup).

    ``signatures`` (id, signature) reuses a precomputed/persisted MinHash
    frame — a pipeline that needs both the signatures and the candidate
    pairs should compute them once, not twice.
    """
    banded = band_digests(
        df, id_col, text_col,
        n=n, num_hashes=num_hashes, bands=bands, signatures=signatures,
    )
    # materialize the (id, band, digest) rows once: the bucket-size window
    # and the self-join would otherwise each execute the whole
    # shingle+minhash pipeline again (Spark does not reuse the exchange
    # across the two aliased join sides).  persist — NOT localCheckpoint —
    # keeps the lineage, so an executor loss on a real cluster recomputes
    # the lost partitions instead of failing the job; memory-and-disk
    # spills oversized band tables rather than evicting them
    from pyspark import StorageLevel

    from ..caches import track_cache

    banded = track_cache(banded.persist(StorageLevel.MEMORY_AND_DISK))
    banded.count()
    if max_bucket_size is not None:
        # skew-safe stop-list: the per-bucket size comes from a map-side
        # partially-aggregated groupBy (never a digest-keyed window, which
        # would buffer a whole boilerplate bucket in one task); the
        # left-semi probe streams heavy buckets' rows straight to the
        # floor and AQE can skew-split it
        ok = (
            banded.groupBy("band", "band_digest")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
            .select("band", "band_digest")
        )
        banded = banded.join(ok, ["band", "band_digest"], "left_semi")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col(f"l.band") == F.col("r.band"))
            & (F.col("l.band_digest") == F.col("r.band_digest"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for document pairs.

    With ``candidates`` (id_a, id_b) only those pairs are scored (the LSH
    path); otherwise all pairs sharing at least one shingle are scored —
    the shingle join already prunes disjoint pairs, so this is
    O(sum of bucket²), not O(n²).
    """
    pairs = shingle_df(df, id_col, text_col, n)
    sizes = pairs.groupBy(id_col).agg(F.count("*").alias("sz"))

    a = pairs.select(F.col(id_col).alias("id_a"), "shingle")
    b = pairs.select(F.col(id_col).alias("id_b"), "shingle")
    joined = a.join(b, ["shingle"]).filter(F.col("id_a") < F.col("id_b"))
    if candidates is not None:
        # prune to the LSH candidate set BEFORE the pair aggregation —
        # this is the whole point of the candidates path (a semi-join
        # cannot be pushed below the groupBy by Catalyst)
        joined = joined.join(candidates, ["id_a", "id_b"], "left_semi")
    inter = joined.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    if threshold > 0.0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 32) -> DataFrame:
    """Per-document SimHash as a ``bits``-length bit string.

    Token hash bits come from md5 hex nibbles (cross-engine reproducible);
    each bit position sums +1/-1 over tokens and takes the sign.  Output
    column ``simhash`` is e.g. '1011...'; Hamming distance between two
    documents is the count of differing positions.
    """
    assert bits % 4 == 0 and bits <= 60
    toks = tokens_col(F.col(text_col))

    # One md5 per token, its first bits/4 hex chars as ONE integer, then
    # per-bit contributions as shift/mask arithmetic inside a hash
    # aggregate.  Bit b of the hex prefix (nibble b//4, bit 3-b%4) IS
    # bit (bits-1-b) of that integer, so this is value-identical to the
    # nibble formulation — but the per-token work is whole-stage-codegen
    # integer ops instead of interpreted higher-order-function folds
    # over substring/instr (the round-2 map-only shape cost ~0.9 ms/doc;
    # this is ~25x faster at 500k docs).  The shuffle is NOT docs*tokens
    # wide: the 32 bit-sums partial-aggregate map-side, so one row of
    # ``bits`` longs per document crosses the exchange.
    v = F.conv(F.substring(F.md5(F.col("__tok")), 1, bits // 4), 16, 10).cast(
        "long"
    )
    per_tok = df.select(F.col(id_col), F.explode(toks).alias("__tok")).select(
        id_col, v.alias("__v")
    )
    # SQL-text per-bit aggregates: one parsed expression per bit column
    # instead of ~6 py4j round trips each (exact integer sums).
    sums = per_tok.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum((shiftrightunsigned(__v, {bits - 1 - b}) & 1) * 2 - 1)"
            ).alias(f"__s{b}")
            for b in range(bits)
        ]
    )
    bit_concat = F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN __s{b} > 0 THEN '1' ELSE '0' END" for b in range(bits)
        )
        + ")"
    )
    return sums.select(F.col(id_col), bit_concat.alias("simhash"))


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_est: float | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Estimated Jaccard similarity for LSH candidate pairs, from
    signature agreement alone: ``est = matching positions / num_hashes``.

    This is the step a 100 TB dedup pipeline runs INSTEAD of the exact
    shingle-join verification (`jaccard_pairs`) when the MinHash error
    bar (~1/sqrt(num_hashes)) is acceptable: the signatures are already
    computed for banding, so scoring costs only two joins against the
    tiny (id, signature) frame — the document texts are never touched
    again.  The estimate is an exact multiple of 1/num_hashes, so a
    ``min_est`` threshold is engine-stable.

    Returns ``(id_a, id_b, est_jaccard)`` for candidate pairs (filtered
    to ``est >= min_est`` when given).
    """
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes)
    )
    from pyspark import StorageLevel

    from ..caches import track_cache

    sig = track_cache(sig.persist(StorageLevel.MEMORY_AND_DISK))
    cand = lsh_candidate_pairs(
        df, id_col, text_col,
        n=n, num_hashes=num_hashes, bands=bands, signatures=sig,
    )
    a = sig.select(F.col(id_col).alias("id_a"), F.col("signature").alias("__sa"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col("signature").alias("__sb"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches.cast("double") / num_hashes, 6).alias("est_jaccard"),
        )
    )
    if min_est is not None:
        out = out.filter(F.col("est_jaccard") >= float(min_est))
    return out


def gram_duplication_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    drop_threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Cross-document substring duplication: for each document, the
    fraction of its distinct word ``n``-grams that also occur in at
    least one OTHER document, plus a keep/drop verdict at
    ``drop_threshold`` — the exact-substring dedup signal (long shared
    spans show up as runs of shared n-grams) without suffix arrays.

    Plan shape at scale: explode distinct grams (linear ``grams_of``
    construction, persisted once for its two consumers), aggregate the
    per-digest document count with ``groupBy("g").count()`` — map-side
    partial aggregation makes the count skew-immune no matter how many
    documents share a boilerplate gram — then equi-join the small
    "duplicated digests" set (one row per gram seen >1 time) back onto
    the grams before the per-document aggregation.  The join is the
    AQE-skew-splittable shape: a boilerplate 8-gram present in a large
    fraction of the corpus lands as many probe-side rows that AQE
    splits across tasks, where a ``count().over(Window.partitionBy(g))``
    (the round-6 shape) would have pinned every posting of that gram
    into ONE unsplittable task.

    ``max_df`` (optional) is a stop-list in the
    ``jaccard_similarity_join`` sense: grams held by more than
    ``max_df`` documents are boilerplate and are excluded from BOTH the
    numerator and the denominator, so the signal measures duplication
    of distinctive content and the heaviest postings never reach the
    join at all.

    Returns ``(id, n_grams, n_shared_grams, shared_frac, drop)``;
    documents with no tokens report 0 grams and shared_frac NULL.
    """
    from pyspark import StorageLevel

    toks = df.select(F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("t"))
    # the binary md5 digest (not its 32-char hex form) halves the
    # shuffled key (guide §2.3)
    grams = toks.select(
        "id", F.explode(grams_of(F.col("t"), n)).alias("gram")
    ).select("id", F.unhex(F.md5(F.col("gram"))).alias("g"))
    # the persisted postings outlive this call (the returned frame is
    # lazy); registered with the cache registry so long-lived sessions
    # can release between stages — see caches.release_operator_caches
    from ..caches import track_cache

    grams = track_cache(grams.persist(StorageLevel.MEMORY_AND_DISK))
    # grams_of is per-doc distinct, so count(*) per digest == distinct
    # documents holding the gram
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    if max_df is not None:
        stop = counts.filter(F.col("n_docs") > int(max_df)).select("g")
        grams_eff = grams.join(stop, "g", "left_anti")
        dup = counts.filter(
            (F.col("n_docs") > 1) & (F.col("n_docs") <= int(max_df))
        ).select("g")
    else:
        grams_eff = grams
        dup = counts.filter(F.col("n_docs") > 1).select("g")
    counted = grams_eff.join(
        dup.withColumn("__dup", F.lit(1)), "g", "left"
    )
    per_doc = (
        counted.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)).cast("bigint")).alias(
                "n_shared_grams"
            ),
        )
    )
    base = df.select(F.col(id_col).alias("id"))
    out = base.join(per_doc, "id", "left").select(
        F.col("id"),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_shared_grams"), F.lit(0)).cast("bigint").alias(
            "n_shared_grams"
        ),
        F.when(
            F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
            F.round(
                F.col("n_shared_grams").cast("double") / F.col("n_grams"), 6
            ),
        ).alias("shared_frac"),
    )
    return out.withColumn(
        "drop",
        F.coalesce(F.col("shared_frac") >= drop_threshold, F.lit(False)),
    )


def jaccard_similarity_join(
    left: DataFrame,
    right: DataFrame,
    id_l: str,
    text_l: str,
    id_r: str,
    text_r: str,
    *,
    threshold: float,
    max_df: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy (token-Jaccard) similarity join between two tables: all
    (left, right) pairs whose token sets overlap with Jaccard >=
    ``threshold`` — the record-linkage / entity-resolution join ("match
    dirty catalog names to canonical products").

    ``candidates`` (id_l, id_r) restricts scoring to a candidate set —
    the scale composition feeds it MinHash-LSH pairs over the union of
    both tables (``lsh_candidate_pairs`` with disjoint id namespaces),
    so the blocking volume is the LSH buckets', not the shared-token
    join's (q206 is the oracle-checked composition).

    Plan shape: explode distinct tokens on both sides, equi-join on the
    token (the blocking step — only pairs sharing >= 1 token are ever
    scored), aggregate the intersection size per pair, then join the two
    per-id set sizes back and filter on the Jaccard.  Everything is
    hash-joins and one pair aggregation; no cross join anywhere.

    At scale the blocking join's volume is sum_t df_l(t) * df_r(t), so
    frequent tokens dominate cost; ``max_df`` drops tokens whose LEFT
    document frequency exceeds it from blocking AND counting (a
    documented stop-token approximation — pairs sharing only ultra-
    common tokens are missed, and intersections are computed over the
    surviving vocabulary).  Default is exact.

    Returns ``(id_l, id_r, jaccard)`` (rounded to 6).
    """
    tl = left.select(
        F.col(id_l).alias("id_l"),
        F.array_distinct(tokens_col(F.col(text_l))).alias("__tl"),
    )
    tr = right.select(
        F.col(id_r).alias("id_r"),
        F.array_distinct(tokens_col(F.col(text_r))).alias("__tr"),
    )
    gl = tl.select("id_l", F.explode("__tl").alias("tok"))
    gr = tr.select("id_r", F.explode("__tr").alias("tok"))
    if max_df is not None:
        keep = gl.groupBy("tok").agg(F.count(F.lit(1)).alias("__df")).filter(
            F.col("__df") <= max_df
        )
        gl = gl.join(keep.select("tok"), "tok")
        gr = gr.join(keep.select("tok"), "tok")
        sz_l = gl.groupBy("id_l").agg(F.count(F.lit(1)).alias("__nl"))
        sz_r = gr.groupBy("id_r").agg(F.count(F.lit(1)).alias("__nr"))
    else:
        sz_l = tl.select("id_l", F.size("__tl").alias("__nl"))
        sz_r = tr.select("id_r", F.size("__tr").alias("__nr"))
    joined = gl.join(gr, "tok")
    if candidates is not None:
        # prune to the candidate set BEFORE the pair aggregation (a
        # semi-join cannot be pushed below the groupBy by Catalyst)
        joined = joined.join(
            candidates.select("id_l", "id_r"), ["id_l", "id_r"], "left_semi"
        )
    inter = joined.groupBy("id_l", "id_r").agg(F.count(F.lit(1)).alias("__inter"))
    jac = F.round(
        F.col("__inter").cast("double")
        / (F.col("__nl") + F.col("__nr") - F.col("__inter")),
        6,
    )
    return (
        inter.join(sz_l, "id_l")
        .join(sz_r, "id_r")
        .select("id_l", "id_r", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    id_l: str,
    text_l: str,
    id_r: str,
    text_r: str,
    *,
    max_distance: int = 1,
    split_at: int = 5,
) -> DataFrame:
    """Typo-tolerant equi-blocked join: (left, right) pairs whose
    normalized strings are within Levenshtein ``max_distance``.

    Blocking uses the pigeonhole principle for substitution edits: the
    string splits at ``split_at`` into two segments, and any pair within
    one substitution must agree exactly on at least one segment — so
    candidates come from two plain equi-joins (segment 1 OR segment 2),
    never a cross join, and the exact ``levenshtein`` filter then
    removes false candidates.  Insertions/deletions shift positions, so
    pairs differing by indels beyond the split point can be missed —
    documented approximation (complete substitution coverage for
    ``max_distance`` = 1; classic PassJoin positional probing is the
    extension).

    At scale the block volume is sum over segment values of
    ``df_l * df_r`` — tight-prefix segments keep blocks small, and the
    verify step is per-candidate, never per-pair-of-everything.

    Returns ``(id_l, id_r, distance)``.
    """
    tl = left.select(
        F.col(id_l).alias("id_l"), F.lower(F.trim(F.col(text_l))).alias("__tl")
    )
    tr = right.select(
        F.col(id_r).alias("id_r"), F.lower(F.trim(F.col(text_r))).alias("__tr")
    )

    def seg(col: Column, i: int) -> Column:
        if i == 0:
            return F.substring(col, 1, split_at)
        return F.substring(col, split_at + 1, 1_000_000)

    cands = None
    for i in range(2):
        gl = tl.select("id_l", "__tl", seg(F.col("__tl"), i).alias("__seg"))
        gr = tr.select("id_r", "__tr", seg(F.col("__tr"), i).alias("__seg"))
        c = gl.join(gr, "__seg").select("id_l", "__tl", "id_r", "__tr")
        cands = c if cands is None else cands.unionByName(c)
    dist = F.levenshtein(F.col("__tl"), F.col("__tr"))
    return (
        cands.dropDuplicates(["id_l", "id_r"])
        .select("id_l", "id_r", dist.cast("bigint").alias("distance"))
        .filter(F.col("distance") <= max_distance)
    )


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg_tokens: int = 10,
    max_count: int = 1,
) -> DataFrame:
    """Corpus-level repeated-segment removal (CCNet/RefinedWeb-style
    paragraph dedup, with fixed ``seg_tokens``-token windows standing in
    for paragraphs): drop every segment whose normalized text occurs more
    than ``max_count`` times across the WHOLE corpus, then reassemble
    each document from its surviving segments in order.

    Scale shape (the 100 TB path):
    - segments are exploded once; the global frequency pass groups on a
      16-byte binary ``md5`` of the segment, never shipping segment bodies
      through the shuffle twice;
    - the removal is a LEFT ANTI join against the hot-digest list; the
      join strategy is deliberately left to AQE, which broadcasts the
      hot side when it is small (the usual case) but falls back to a
      digest-keyed shuffle when a boilerplate-heavy corpus makes the
      hot set itself large — a forced broadcast would OOM there;
    - reassembly groups by doc id with ``max_by``-free ordered
      ``array_agg`` (sort_array over (idx, seg) structs), one shuffle.

    Returns ``(id, clean_text, n_segments, n_removed)`` — one row per
    input document, empty-text documents keep ``clean_text = ''``.
    """
    if seg_tokens < 1:
        raise ValueError("segment_dedup: seg_tokens must be >= 1")
    toks = tokens_col(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    # let_-bound: the token array is sliced once per segment — without the
    # binding each slice would re-tokenize the document
    # (the empty guard matters: sequence(0, -1) would generate a
    # DESCENDING [0, -1], emitting phantom segments for empty documents)
    seg_arr = let_(
        toks,
        lambda t: F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size(t) / F.lit(seg_tokens)).cast("int") - 1
                ),
                lambda i: F.array_join(F.slice(t, i * seg_tokens + 1, seg_tokens), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    segs = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(seg_arr).alias("seg_idx", "seg"),
    )
    seg_rows = segs.filter(F.col("seg").isNotNull()).withColumn(
        "digest", F.unhex(F.md5(F.col("seg")))
    )
    hot = (
        seg_rows.groupBy("digest")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > max_count)
        .select("digest")
    )
    kept = seg_rows.join(hot, "digest", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("seg_idx"), F.col("seg")))
                ),
                lambda s: s.getField("seg"),
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(n_segs.cast("bigint"), F.lit(0)).alias("n_segments"),
    )
    return (
        base.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_segments",
            (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def intradoc_segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seg_tokens: int = 10,
) -> DataFrame:
    """WITHIN-document repeated-segment removal: drop every ``seg_tokens``
    -token window that already occurred earlier in the SAME document and
    reassemble — the self-repetition trim that complements the cross-doc
    ``segment_dedup`` (Gopher's dup-ngram filters flag these docs; this
    operator repairs them instead).

    Entirely map-only: a single ``aggregate`` fold per document keeps
    first occurrences in order (membership scan is O(segments²) per doc,
    but segment counts are tens, not thousands — and there is NO shuffle,
    so at 100 TB this rides the ingest scan).  Returns ``(id, clean_text,
    n_segments, n_removed)``.
    """
    if seg_tokens < 1:
        raise ValueError("intradoc_segment_dedup: seg_tokens must be >= 1")
    toks = tokens_col(F.col(text_col))
    seg_arr = let_(
        toks,
        lambda t: F.when(
            F.size(t) > 0,
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size(t) / F.lit(seg_tokens)).cast("int") - 1
                ),
                lambda i: F.array_join(F.slice(t, i * seg_tokens + 1, seg_tokens), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    kept = let_(
        seg_arr,
        lambda segs: F.struct(
            F.size(segs).alias("n"),
            F.aggregate(
                segs,
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    F.array_contains(acc, s), acc
                ).otherwise(F.array_append(acc, s)),
            ).alias("kept"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        kept.alias("__k"),
    ).select(
        "id",
        F.array_join(F.col("__k.kept"), " ").alias("clean_text"),
        F.col("__k.n").cast("bigint").alias("n_segments"),
        (F.col("__k.n") - F.size("__k.kept")).cast("bigint").alias("n_removed"),
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.6,
    round_to: int = 6,
) -> DataFrame:
    """Prefix-filtered token-Jaccard similarity self-join (the PPJoin
    family, Xiao et al. 2008 — the provable alternative to LSH when exact
    threshold semantics are required).

    Order every document's distinct tokens by ascending global document
    frequency (rarest first, ties on the token).  For Jaccard >= t two
    sets MUST share a token within each other's first
    ``|T| - ceil(t * |T|) + 1`` tokens, so the candidate join runs only on
    those prefix tokens: rare tokens block few documents, and the frequent
    tokens that would explode a plain token join never enter the join at
    all.  Candidates are then verified with the exact Jaccard.

    Scale shape: one df-count aggregation, one window over (doc, token),
    the prefix equi-join on tokens, and the verify aggregation — every
    shuffle keyed on tokens or id pairs, nothing quadratic, no
    false negatives (unlike LSH).  Returns ``(id_a, id_b, jaccard)``.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("__df"))
    sizes = toks.groupBy("__id").agg(F.count("*").alias("__sz"))
    w = Window.partitionBy("__id").orderBy(F.col("__df"), F.col("tok"))
    ranked = (
        toks.join(dfreq, "tok")
        .withColumn("__rk", F.row_number().over(w))
        .join(sizes, "__id")
    )
    prefix = ranked.filter(
        F.col("__rk")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
    ).select("__id", "tok")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    a = toks.select(F.col("__id").alias("id_a"), "tok")
    b = toks.select(F.col("__id").alias("id_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(cand, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__i"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__i") / (F.col("__sa") + F.col("__sb") - F.col("__i")),
                round_to,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Directed n-gram containment for document pairs: for each pair the
    fraction of EACH side's shingles found in the other —
    ``cont_a_in_b = |Sa ∩ Sb| / |Sa|`` and ``cont_b_in_a = |Sa ∩ Sb| / |Sb|``.

    Containment is the right signal where Jaccard fails on length
    mismatch: a tweet quoted inside a long article has near-zero Jaccard
    (the union is dominated by the article) but containment ≈ 1 for the
    quoted side.  Standard for quote/boilerplate/near-subset detection in
    corpus curation (Broder's resemblance-and-containment framing).

    Same distributed shape as :func:`jaccard_pairs`: one shingle join
    pruned to pairs sharing a shingle (optionally pre-pruned by an LSH
    ``candidates`` frame before the pair aggregation), one pair groupBy,
    two broadcast-sized size joins.  ``threshold`` keeps pairs where the
    GREATER of the two containments reaches it.
    """
    pairs = shingle_df(df, id_col, text_col, n)
    sizes = pairs.groupBy(id_col).agg(F.count("*").alias("sz"))

    a = pairs.select(F.col(id_col).alias("id_a"), "shingle")
    b = pairs.select(F.col(id_col).alias("id_b"), "shingle")
    joined = a.join(b, ["shingle"]).filter(F.col("id_a") < F.col("id_b"))
    if candidates is not None:
        joined = joined.join(candidates, ["id_a", "id_b"], "left_semi")
    inter = joined.groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / F.col("sz_a")).alias("cont_a_in_b"),
            (F.col("inter") / F.col("sz_b")).alias("cont_b_in_a"),
        )
    )
    if threshold > 0.0:
        out = out.filter(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold
        )
    return out


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal cross-document duplicated token spans per document — the
    exact-substring dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed as a
    gram-digest join instead of a suffix array.

    A token position is "duplicated" when the ``n``-gram starting there
    also occurs in at least ``min_docs`` distinct documents; overlapping
    and adjacent duplicated grams merge into maximal spans
    (gaps-and-islands over positions).  Returns
    ``(id, start_tok, end_tok, span_tokens)`` — feed into a trimmer or a
    drop rule.

    Scale shape: the corpus-wide frequency pass shuffles only
    (md5 digest, id) pairs; per-document span merging is one keyed
    window.  Positional grams come from zip-with-shifted-arrays, never
    ``slice`` inside a per-element lambda (the CollapseProject O(T²)
    trap, see grams_of).
    """
    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)

    gram = F.col("__toks")
    for k in range(1, n):
        shifted = F.slice(
            F.col("__toks"),
            k + 1,
            F.greatest(F.size("__toks") - k, F.lit(0)),
        )
        gram = F.zip_with(gram, shifted, lambda g, t: F.concat(g, F.lit(" "), t))
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.slice(gram, 1, F.size("__toks") - (n - 1))
        ).alias("pos", "g"),
    )
    spine = grams.select(F.col(id_col), "pos", F.unhex(F.md5("g")).alias("d"))

    dup = (
        spine.groupBy("d")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("d")
    )
    kept = spine.join(dup, "d").select(F.col(id_col), "pos")

    from pyspark.sql import Window

    w_lag = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        kept.withColumn(
            "__new",
            F.when(
                F.lag("pos").over(w_lag).isNull()
                | (F.col("pos") > F.lag("pos").over(w_lag) + n),
                1,
            ).otherwise(0),
        )
        .withColumn("__isl", F.sum("__new").over(w_lag))
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + n - 1).alias("end_tok"),
        )
        .select(
            F.col(id_col),
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("span_tokens"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): hash every token ``n``-gram, slide a ``window`` over the
    hash sequence, and keep each window's minimum hash (rightmost
    position on ties).  Guarantees: any shared substring of at least
    ``window + n - 1`` tokens produces at least one shared fingerprint,
    and fingerprint density is ~2/(window+1) — position-robust partial
    overlap detection that md5-of-whole-document cannot give.

    Map-only: grams, hashes, window minima and deduplication are all
    per-row array expressions over staged columns — no explode before
    the final fingerprint un-nesting, no shuffle at all.  The inner scan
    is O(tokens * window) with ``window`` a small constant.  Hashes are
    the 32-bit md5-prefix mod P (same base hash as MinHash) so any
    engine reproduces them.  Returns ``(id, pos, fp)`` — join on ``fp``
    for candidate overlaps, keep ``pos`` for span alignment.
    """
    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)

    gram = F.col("__toks")
    for k in range(1, n):
        shifted = F.slice(
            F.col("__toks"), k + 1, F.greatest(F.size("__toks") - k, F.lit(0))
        )
        gram = F.zip_with(gram, shifted, lambda g, t: F.concat(g, F.lit(" "), t))
    grams = toks.select(
        F.col(id_col),
        F.slice(gram, 1, F.size("__toks") - (n - 1)).alias("__grams"),
    )
    hashes = grams.select(
        F.col(id_col),
        F.transform("__grams", lambda g: minhash_base_col(g)).alias("__h"),
    ).filter(F.size("__h") >= window)

    def window_winner(i: Column) -> Column:
        # rightmost minimum inside [i, i+window-1] (1-based slice)
        return F.aggregate(
            F.sequence(i, i + window - 1),
            F.struct(
                F.lit(MINHASH_P).cast("bigint").alias("h"),
                F.lit(-1).cast("int").alias("p"),
            ),
            lambda acc, j: let_(
                F.element_at(F.col("__h"), j.cast("int")),
                lambda hj: F.when(
                    hj <= acc["h"],
                    F.struct(hj.alias("h"), (j - 1).cast("int").alias("p")),
                ).otherwise(acc),
            ),
        )

    wins = hashes.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("__h") - (window - 1)),
                lambda i: window_winner(i),
            )
        ).alias("__wins"),
    )
    return wins.select(
        F.col(id_col),
        F.explode("__wins").alias("__w"),
    ).select(
        F.col(id_col),
        F.col("__w.p").alias("pos"),
        F.col("__w.h").alias("fp"),
    )


def dedup_against(
    new: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-corpus dedup: flag each NEW document that exactly or nearly
    duplicates the REFERENCE corpus — the "dedup this crawl against the
    existing training set" batch step (the streaming twin is
    streaming/incremental_dedup).

    - ``exact_dup``: the new document's content digest exists in the
      reference (join on binary md5, 16-byte keys).
    - ``near_dup``: the new document shares at least one LSH band bucket
      with a reference document (equi-join on (band, band digest); the
      reference side honors ``max_bucket_size`` as the boilerplate
      stop-list).

    Each corpus is scanned once per signal; neither join ever carries
    document bodies.  Returns ``(id, exact_dup, near_dup)`` — filter
    ``~exact_dup & ~near_dup`` for survivors, or join flags back for
    provenance.
    """
    ref_digests = (
        reference.select(F.unhex(F.md5(F.col(text_col))).alias("__d")).distinct()
    )
    new_digests = new.select(
        F.col(id_col), F.unhex(F.md5(F.col(text_col))).alias("__d")
    )
    exact = (
        new_digests.join(ref_digests.withColumn("__hit", F.lit(True)), "__d", "left")
        .select(F.col(id_col), F.coalesce("__hit", F.lit(False)).alias("exact_dup"))
    )

    ref_bands = band_digests(
        reference, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    ).select("band", "band_digest")
    if max_bucket_size is not None:
        ref_bands = (
            ref_bands.groupBy("band", "band_digest")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
            .select("band", "band_digest")
        )
    else:
        ref_bands = ref_bands.distinct()
    new_bands = band_digests(
        new, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    near_ids = (
        new_bands.join(ref_bands, ["band", "band_digest"])
        .select(id_col)
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    return (
        exact.join(near_ids, id_col, "left")
        .select(
            F.col(id_col),
            "exact_dup",
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        )
    )


def cluster_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
    max_iter: int = 25,
    keep_by: Column | str | None = None,
) -> DataFrame:
    """Near-dup CLUSTER dedup — the full production chain: MinHash-LSH
    candidate pairs -> distributed connected components -> keep one
    representative (the smallest id) per component.

    This closes the gap pairwise dedup leaves open: near-duplication is
    transitive in practice (A~B, B~C), and dropping per-pair either
    over-keeps (only direct pairs drop) or over-drops (both sides of a
    pair).  Components make the verdict consistent: every document in a
    connected candidate cluster except its min-id representative drops.

    Scale shape: the pair graph is LSH-bounded (q28's stop-listed
    banded join), components are O(diameter) label-propagation rounds
    (operators/graph.py:connected_components_df), and documents never
    ride a shuffle — only ids and band digests do.

    ``keep_by`` picks the representative by QUALITY instead of id: pass
    a column (or column name) on ``df`` — e.g. text length or a
    classifier score — and each component keeps its highest-scoring
    member (ties -> smaller id).  This is how production pipelines
    (Dolma / FineWeb) dedup: the longest or best-scored variant
    survives, not an arbitrary one.  Costs one extra component-keyed
    window over the (id, component, score) frame — ids and scores only,
    never text.

    Returns ``(id, component, keep)`` for EVERY input document
    (documents with no candidate partner form their own singleton
    component and keep=true).
    """
    from pyspark.sql import Window

    from .graph import connected_components_df

    pairs = lsh_candidate_pairs(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, max_bucket_size=max_bucket_size,
    )
    comp = connected_components_df(pairs, "id_a", "id_b", max_iter=max_iter)
    base = df.select(F.col(id_col).alias("id"))
    labeled = (
        base.join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
    )
    if keep_by is None:
        return labeled.withColumn("keep", F.col("id") == F.col("component"))
    score = F.col(keep_by) if isinstance(keep_by, str) else keep_by
    scored = labeled.join(
        df.select(F.col(id_col).alias("id"), score.alias("__q")), "id"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc(), F.col("id").asc()
    )
    return scored.withColumn(
        "keep", F.row_number().over(w) == 1
    ).select("id", "component", "keep")


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_dup: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide line-level deduplication (the CCNet / RefinedWeb
    boilerplate-removal pass): drop every line whose EXACT text occurs in
    ``min_dup`` or more lines across the whole corpus — navigation
    chrome, cookie banners, footers — and reassemble each document from
    its surviving lines in original order.

    Scale shape: one ``posexplode`` (map-only generator), one count
    aggregation keyed on the 16-byte line digest (map-side partials;
    never ships line text as a shuffle key), and one LEFT ANTI join of
    the exploded lines against the *duplicated-digest* set.  The anti
    side is deliberately NOT hint-broadcast: on web corpora most lines
    ARE duplicated (CCNet removes ~70% of tokens this way), so the
    duplicated-digest set scales with distinct boilerplate and only AQE
    should downgrade the digest-keyed shuffle join to a broadcast when
    it measures small.  Reassembly is one groupBy on the doc id.  No
    driver collect at any size.

    Returns ``(id, clean_text, n_lines, n_kept)`` with ``clean_text``
    the empty string when every line was boilerplate.  Reference has no
    corpus-level line pass (its dedup model is whole-value merge keys);
    this is a Spark-first extension, cf. CCNet (Wenzek et al. 2020) §4.1
    and RefinedWeb (Penedo et al. 2023) line-wise filtering.
    """
    if min_dup < 2:
        raise ValueError("min_dup must be >= 2")
    import re as _re

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    # digest once at the explode: the same __dgst column feeds BOTH the
    # duplicated-digest aggregation and the anti-join probe side, so the
    # plan hashes each line exactly once
    lines = src.select(
        "id",
        F.posexplode(F.split(F.col("__t"), _re.escape(sep), -1)).alias(
            "__pos", "__line"
        ),
    ).withColumn("__dgst", F.unhex(F.md5(F.col("__line"))))
    dup_digests = (
        lines.groupBy(F.col("__dgst").alias("__d"))
        .count()
        .filter(F.col("count") >= min_dup)
        .select("__d")
    )
    kept = lines.join(
        dup_digests,
        F.col("__dgst") == F.col("__d"),
        "left_anti",
    )
    agg = kept.groupBy("id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos").alias("p"), F.col("__line").alias("l")))
                ),
                lambda s: s.getField("l"),
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # n_lines = total lines per id, summed across rows when the caller's
    # ids collide.  Map-only size(split(...)) on the DOC table — this
    # used to be a third posexplode over the whole corpus just to count
    # what a per-row array length already knows.  NULL text rows explode
    # to zero rows, so they are filtered here to match.
    totals = (
        src.filter(F.col("__t").isNotNull())
        .groupBy("id")
        .agg(
            F.sum(F.size(F.split(F.col("__t"), _re.escape(sep), -1))).alias(
                "__n_all"
            )
        )
    )
    return (
        totals.join(agg, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("__n_all").cast("bigint").alias("n_lines"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def cross_group_overlap(
    df: DataFrame,
    text_col: str,
    group_col: str,
    *,
    round_to: int = 6,
    max_groups: int = 1000,
) -> DataFrame:
    """Pairwise exact-content overlap between groups (sources, crawls,
    snapshots): for every unordered group pair, how many distinct
    content digests they share and the Jaccard of their digest sets —
    the provenance diagnostic behind "source B is 40% a re-crawl of
    source A", run before mixture weighting double-counts it.

    One corpus pass to (group, md5 digest) distinct rows, a self-join
    on digest (16-byte binary keys, never bodies), and a count per group pair
    — the pair table is ``groups^2``-bounded, the join is digest-keyed
    and linear in shared content.  NULL groups/texts are dropped.

    Groups are sources/crawls/snapshots — DIMENSION-sized by contract,
    never entities: the pair table is built driver-side and is
    quadratic in the group count, so more than ``max_groups`` distinct
    groups raises instead of silently building a huge local relation
    (the same bounded-driver-probe discipline as ``lookup``'s 10k cap).

    Returns ``(group_a, group_b, n_shared, n_a, n_b, jaccard)``,
    lexically ordered pairs.
    """
    digests = (
        df.filter(F.col(group_col).isNotNull() & F.col(text_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("__g"),
            F.unhex(F.md5(F.col(text_col))).alias("__d"),
        )
        .distinct()
    )
    # digests feeds THREE consumers (both self-join sides + the size
    # probe); without materialization each re-scans and re-hashes the
    # raw corpus.  One eager localCheckpoint pins the (group, digest)
    # table so the input is scanned once; blocks are GC-reaped with the
    # returned frame (same contract as the CC loop, operators/graph.py).
    # BOUND of the pinned frame: <= one 16-byte digest row per distinct
    # (group, text) — ~17 bytes/doc where the bodies are KBs, so it stays
    # executor-memory-friendly at any corpus scale (worst case it is
    # row-scale metadata, never body-scale; it degrades, never dies)
    digests = digests.localCheckpoint(eager=True)
    a = digests.select(F.col("__g").alias("group_a"), "__d")
    b = digests.select(F.col("__g").alias("group_b"), "__d")
    shared = (
        a.join(b, "__d")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # every group pair appears, including zero-overlap ones: the group
    # list is dimension-sized by definition (sources/snapshots), so the
    # pair table is a driver-built local relation (the KB-probe pattern)
    # — equi-joins only, no nested-loop cross join in the plan
    # limit() bounds the driver BEFORE the guard fires — an entity column
    # mistakenly used as the group collects max_groups + 1 rows, not all
    size_rows = (
        digests.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(size_rows) > max_groups:
        raise ValueError(
            f"cross_group_overlap: more than max_groups={max_groups} "
            "distinct groups — the pairwise matrix is quadratic in the "
            "group count; groups are sources/snapshots, not entities. "
            "Pre-bucket the group column or raise max_groups deliberately."
        )
    sizes = {r["__g"]: int(r["__n"]) for r in size_rows}
    gs = sorted(sizes)
    pairs = df.sparkSession.createDataFrame(
        [
            (ga, gb, sizes[ga], sizes[gb])
            for i, ga in enumerate(gs)
            for gb in gs[i + 1 :]
        ],
        "group_a string, group_b string, n_a bigint, n_b bigint",
    )
    return (
        pairs.join(shared, ["group_a", "group_b"], "left")
        .select(
            "group_a",
            "group_b",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.coalesce("n_shared", F.lit(0))
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_shared", F.lit(0))),
                round_to,
            ).alias("jaccard"),
        )
    )
