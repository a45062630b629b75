"""Cross-engine text tokenization and hashing primitives.

Shared by the dedup / similarity / text-analysis operators. Two hash
families:

- ``md5_hash60(col)``: a deterministic 60-bit integer hash computable
  identically in Spark (``conv(substring(md5(x),1,15),16,10)``) and DuckDB
  (``('0x' || substr(md5(x),1,15))::BIGINT``) — used wherever the DuckDB
  oracle must reproduce the hash value itself (simhash, fingerprints).
- ``F.xxhash64(...)``: Spark-only, much faster — used where the oracle
  verifies the *output* by an independent exact computation (MinHash/LSH
  candidate generation, whose emitted pairs are exact-Jaccard-verified).

Tokenization is single-space split (matching the synthetic corpus and the
DuckDB ``string_split(text, ' ')`` oracle); shingles are word k-grams joined
with a single space.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# SQL fragment templates for the DuckDB oracle side.
DUCK_HASH60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"


def md5_hash60(col: Column) -> Column:
    """60-bit md5-prefix hash, exactly reproducible in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def tokens(col: Column) -> Column:
    """Single-space word split (== DuckDB ``string_split(x, ' ')``)."""
    return F.split(col, " ")


def shingles_from_tokens(t: Column, k: int = 3) -> Column:
    """Distinct word-k-gram shingles from a MATERIALIZED token-array column.

    ``t`` must be a plain column reference (not an expression): higher-order
    functions run interpreted and inline their argument subtree into the
    lambda, so a ``split(text)`` subtree here would be re-evaluated per
    element per gram position — O(words² · k) splits per document (measured
    ~4 s -> ~0.4 s on 5k sf0.1 documents when tokenized in a prior
    projection). Same pitfall as ``shingle_hashes``.
    """
    return F.when(
        F.size(t) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(k)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(col: Column, k: int = 3) -> Column:
    """Distinct word-k-gram shingles of a TEXT column; empty array when
    < k words. Matches the DuckDB comprehension
    ``list_distinct([t[i]||' '||...   for i in range(1, len(t)-k+2)])``.

    NOTE: prefer tokenizing in a separate projection and calling
    :func:`shingles_from_tokens` — this convenience form inlines the
    ``split`` into the interpreted lambda (see there for the cost).
    """
    return shingles_from_tokens(tokens(col), k)


def duck_shingles_cte(table: str = "documents", k: int = 3) -> str:
    """DuckDB CTE producing (doc_id, ts := distinct shingle list)."""
    parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {table}),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {k}
              THEN list_distinct([{parts} for i in range(1, len(t) - {k - 2})])
              ELSE [] END AS ts
  FROM toks
)"""


def _seeded_xxhash(i: int):
    # closure, not a lambda default arg: pyspark's higher-order-function
    # bridge introspects lambda arity and binds a Column to every parameter
    return lambda s: F.xxhash64(F.lit(i), s)


def _bit_test(j: int):
    return lambda h: (F.shiftright(h, j) % 2) == 1


def shingle_hashes(shingle_col: Column) -> Column:
    """One xxhash64 per shingle (``array<bigint>``).

    Materialize this in its OWN projection before calling
    :func:`minhash_signature` on it: higher-order functions run
    interpreted (outside whole-stage codegen) and inline their argument
    subtree, so hashing the strings once and min-reducing cheap
    long-rehashes is ~13x faster than 36 independent string-hash passes
    (measured 51s -> 3.8s on sf0.1 documents).
    """
    return F.transform(shingle_col, lambda s: F.xxhash64(s))


def minhash_signature(hash_col: Column, n_hashes: int) -> Column:
    """Array of ``n_hashes`` MinHash values over pre-hashed shingles
    (:func:`shingle_hashes`); hash ``i`` is ``min(xxhash64(i, h))`` — a
    seeded re-hash of the 8-byte shingle hash, not of the string.

    NULL (not LONG_MAX) per hash when the shingle set is empty, so empty
    docs never collide into one LSH bucket.
    """
    return F.when(
        F.size(hash_col) > 0,
        F.array(
            *[
                F.array_min(
                    F.transform(hash_col, _seeded_xxhash(i))
                )
                for i in range(n_hashes)
            ]
        ),
    )


def feature_hashes32(feature_col: Column) -> Column:
    """Per-feature 32-bit hash array (60-bit md5 prefix mod 2^32).

    Materialize this in its OWN projection before
    :func:`simhash32_from_hashes`: the 32 bit-count filters each inline
    their argument subtree when evaluated interpreted, so an unmaterialized
    transform here would md5-hash every feature 32 times (measured ~6 s ->
    ~2 s on the sf0.1 simhash query)."""
    return F.transform(feature_col, lambda s: md5_hash60(s) % F.lit(4294967296))


def simhash32_from_hashes(hs: Column, n: Column) -> Column:
    """32-bit SimHash from a MATERIALIZED hash-array column ``hs`` (from
    :func:`feature_hashes32`) and the feature count ``n``: bit j of the
    signature is set when strictly more features have bit j set than clear.
    Reproduced verbatim by :func:`duck_simhash32_sql` on the oracle side."""
    bits = []
    for j in range(32):
        ones = F.size(F.filter(hs, _bit_test(j)))
        bits.append(
            F.when(ones * 2 > n, F.lit(1 << j)).otherwise(F.lit(0))
        )
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total.cast("bigint")


def duck_simhash32_sql(hashes_expr: str, size_expr: str) -> str:
    """DuckDB expression mirroring :func:`simhash32_from_hashes` given a
    list-of-hashes SQL expression (already reduced mod 2^32) and its length
    expression."""
    terms = []
    for j in range(32):
        ones = (
            f"len(list_filter({hashes_expr}, "
            f"h -> ((h // {1 << j}) % 2) = 1))"
        )
        terms.append(f"(CASE WHEN {ones} * 2 > {size_expr} THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"
