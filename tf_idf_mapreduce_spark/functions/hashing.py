"""Portable content-hashing primitives for dedup (MinHash, SimHash).

Everything here is built on ``md5`` — the one hash both Spark (JVM) and any
SQL oracle compute bit-identically on UTF-8 strings — composed with pure
Column expressions that stay inside whole-stage codegen. The one Python
UDF is ``minhash_signature_udf``, k-permutation MinHash as one numpy pass
per Arrow batch: the streaming arrival screen
(``streaming.queries.q_stream_incremental_dedup``) signs each micro-batch
with it, because a per-doc signature there must be stateless. Its
column-form reference (k interpreted ``transform`` + ``array_min`` folds)
lives in ``tests/test_dedup.py`` as the oracle it is pinned against.

Scale notes: signatures are fixed-size arrays per document (k strings /
one int64), so memory is O(docs), not O(tokens); band keys are re-hashed
to fixed 32-hex strings so shuffle keys stay small regardless of r.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: MinHash configuration: k hash functions in b bands of r rows each.
MINHASH_K = 12
MINHASH_R = 2
MINHASH_B = MINHASH_K // MINHASH_R

#: Universal-hash modulus: smallest prime > 2^32.
MINHASH_P = 4_294_967_311

#: k deterministic affine permutations (a, b): h_i(x) = (a_i*x + b_i) mod P.
#: Multipliers are odd and < 2^30, so a*x < 2^62 — no int64 overflow in any
#: engine (DuckDB BIGINT overflow is a hard error, not a wrap).
MINHASH_PERMS: list[tuple[int, int]] = [
    (((0x9E3779B1 * (i + 1)) & 0x3FFFFFFF) | 1, (0x85EBCA77 * (i + 1)) % MINHASH_P)
    for i in range(MINHASH_K)
]

_WS = "[ \t\n\r\f]+"


def norm_words(text: Column) -> Column:
    """Dedup-normalization: lowercase, whitespace-split, drop empties.

    (Deliberately simpler than the reference tokenizer — dedup wants raw
    content identity, not search-normalized terms.)
    """
    return F.filter(F.split(F.lower(text), _WS), lambda w: w != "")


def shingles(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles; a doc shorter than n words is one shingle.

    ``slice`` clamps at the array end, and the index sequence stops at
    size-n+1, so every shingle has exactly n words (or the whole short doc).
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))


def shingle_rows(
    df: DataFrame,
    keys: list[str],
    text: Column | None = None,
    n: int = 3,
) -> DataFrame:
    """One row per word-n-gram shingle: the row-level, codegen-only twin of
    ``explode(shingles(norm_words(text)))``.

    The array formulation runs the shingle ``transform`` lambda
    interpreted (~3µs/element — measured 12× slower at sf0.1, 3.0s vs
    0.25s); this one builds ``arrays_zip`` of n shifted ``slice`` views and
    ``posexplode``s it, so the whole pass stays inside whole-stage codegen.
    Output and edge semantics are bit-identical to ``shingles``: a doc
    shorter than n words yields exactly one (possibly truncated) shingle,
    and a zero-word doc yields one empty-string shingle (the '' pad below —
    ``posexplode`` of an empty zip would otherwise drop the doc).

    Returns ``df.select(*keys, "shingle")``-shaped rows.
    """
    text = F.col("text") if text is None else text
    w0 = norm_words(text)
    padded = F.when(F.size(w0) == 0, F.array(F.lit(""))).otherwise(w0)
    base = df.select(*keys, padded.alias("__w")).select(
        *keys, "__w", F.size("__w").alias("__L")
    )
    zipped = F.arrays_zip(
        F.col("__w"),
        *[
            F.slice("__w", i + 1, F.greatest(F.col("__L"), F.lit(1))).alias(f"__s{i}")
            for i in range(1, n)
        ],
    )
    parts = [F.col("__t.__w")] + [F.col(f"__t.__s{i}") for i in range(1, n)]
    return (
        base.select(*keys, "__L", F.posexplode(zipped).alias("__pos", "__t"))
        .where(F.col("__pos") <= F.greatest(F.col("__L") - n, F.lit(0)))
        .select(*keys, F.concat_ws(" ", *parts).alias("shingle"))
    )


def shingle_hashes(shingle_arr: Column) -> Column:
    """array<long>: one 32-bit content hash per shingle (first 8 hex chars
    of md5). Materialize this ONCE per doc — it is the only expensive hash;
    the k MinHash permutations below are integer multiply-adds over it."""
    return F.transform(
        shingle_arr, lambda s: hex32_to_long(F.substring(F.md5(s), 1, 8))
    )


def minhash_signature_udf(k: int = MINHASH_K):
    """k-permutation MinHash over pre-hashed shingles (``shingle_hashes``):
    sig[i] = ``min over shingles of (a_i*h + b_i) mod P`` — the classic
    universal-hash family — in one numpy pass per Arrow batch. One md5
    per shingle total (not per seed), so a signature costs O(S) hashes +
    O(k·S) integer ops per doc. Pure int64 arithmetic (multipliers <
    2^30, hashes < 2^33, so a*h+b < 2^63 — the same no-overflow bound
    the SQL oracle rides), so it is bit-identical to the column form BY
    CONSTRUCTION, and pinned against it by
    ``test_minhash_signature_udf_matches_column_form``. Empty/NULL hash
    arrays take the sentinel [P]*k."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    av = np.array([a for a, _ in MINHASH_PERMS[:k]], dtype="int64")
    bv = np.array([b for _, b in MINHASH_PERMS[:k]], dtype="int64")
    sentinel = [MINHASH_P] * k

    @pandas_udf(ArrayType(LongType()))
    def sig(hash_arr):
        out = []
        for h in hash_arr.to_numpy():
            if h is None or len(h) == 0:
                out.append(sentinel)
                continue
            hv = np.asarray(h, dtype="int64")
            out.append(
                ((hv[None, :] * av[:, None] + bv[:, None]) % MINHASH_P)
                .min(axis=1)
                .tolist()
            )
        return pd.Series(out)

    return sig


def band_keys(signature: Column, r: int = MINHASH_R, b: int = MINHASH_B) -> Column:
    """LSH banding: b keys, each md5 over r consecutive signature entries
    (rendered as '|'-joined decimal strings — engine-portable).

    Docs sharing any band key are candidate near-duplicates
    (P[match] = 1-(1-J^r)^b). Returns array<struct<band:int, key:string>>.
    """
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.transform(
                            F.slice(signature, i * r + 1, r),
                            lambda x: x.cast("string"),
                        ),
                    )
                ).alias("key"),
            )
            for i in range(b)
        ]
    )


def hex32_to_long(hex8: Column) -> Column:
    """First-8-hex-chars → uint32 as int64 (portable: conv is JVM-side;
    the oracle recomputes with explicit per-digit arithmetic)."""
    return F.conv(hex8, 16, 10).cast("long")


def word_hash32(word: Column) -> Column:
    """32-bit content hash of a word: first 8 hex chars of md5."""
    return hex32_to_long(F.substring(F.md5(word), 1, 8))


def simhash32(word_hashes: Column) -> Column:
    """32-bit SimHash over an array of 32-bit word hashes (``word_hash32``).

    For each bit b: sum +/-1 over words by bit b of the word's hash;
    simhash bit b = 1 iff the sum > 0 (ties → 0, integer-deterministic).
    The bit loop is unrolled in Python (shift amounts must be literals), so
    the whole thing is one JVM expression: O(32·words) per doc, no UDF.
    Pass a materialized hash-array column, not a fresh ``transform``, so the
    32 folds share one array.
    """
    def bit_contrib(b: int) -> Column:
        # seed bound via closure, not a lambda default: aggregate's merge
        # lambda must stay 2-parameter
        return F.aggregate(
            word_hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    total = F.lit(0).cast("long")
    for b in range(32):
        total = total + F.when(
            bit_contrib(b) > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return total
