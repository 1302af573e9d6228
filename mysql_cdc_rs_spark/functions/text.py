"""Text/tokenization column expressions + the PORTABLE hash.

``portable_hash60`` is the cross-engine deterministic hash used by dedup,
simhash, minhash and fingerprinting: md5 hex -> first 15 nibbles -> 60-bit
int.  Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`('0x'||substr(md5(x),1,15))::BIGINT`) produce identical values, so every
sketch built on it has an exact SQL oracle.  (Spark's xxhash64 / DuckDB's
hash() are engine-private and would make results unverifiable.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash60(col: Column) -> Column:
    """60-bit md5-derived hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


MERSENNE_P = (1 << 31) - 1  # 2^31-1, the universal-hash modulus


def minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th universal hash h_i = (a*h + b) % p.

    ONE md5 per shingle (the base hash) + k integer derivations replaces k
    seeded md5 calls — same exactness, ~k× less hashing on the hot path.
    a ∈ [1, p-1], b ∈ [0, p-1]; constants are inlined as literals in both
    the Spark expression and the DuckDB oracle.
    """
    import hashlib

    ha = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:15], 16)
    hb = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:15], 16)
    return ha % (MERSENNE_P - 1) + 1, hb % MERSENNE_P


#: words per shingle: every dedup operator, the quality gate's floor and
#: the DuckDB twins in ``queries`` use this one length
SHINGLE_WORDS = 3


def norm_ws(col: Column) -> Column:
    """Whitespace-canonicalized text (matches kernel textextract collapse)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def words_of(col: Column) -> Column:
    return F.split(norm_ws(col), " ")


def word_shingles(words_col: str) -> Column:
    """Word ``SHINGLE_WORDS``-gram shingles from an array<string> column (by
    NAME).

    1-based element_at keeps the Spark expression textually parallel to the
    DuckDB oracle's 1-based list indexing.
    """
    n = SHINGLE_WORDS
    elems = ", ".join(f"element_at({words_col}, i + {j})" for j in range(n))
    # Guard the upper bound: for docs with < n words Spark's
    # sequence(1, 0) yields DESCENDING [1, 0] and element_at(col, 0)
    # throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT.  Short docs must produce
    # ZERO shingles, exactly like the DuckDB twin's range().
    return F.expr(
        f"CASE WHEN size({words_col}) >= {n} THEN "
        f"transform(sequence(1, size({words_col}) - {n - 1}), "
        f"i -> concat_ws(' ', {elems})) "
        f"ELSE CAST(array() AS array<string>) END"
    )
