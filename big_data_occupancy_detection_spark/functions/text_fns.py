"""Text column helpers — pure Catalyst expressions (no Python UDFs).

Shared by the extension operators (ext.text, ext.dedup): normalization,
whitespace tokenization, word/char shingling, and the portable 60-bit
hash family built from md5 (``md5_hash64``, ``seeded_hash64``) so the
same value is computable in ANSI SQL engines (the DuckDB oracle) —
Spark's ``hash``/``xxhash64`` are Spark-specific and would never
hash-match an oracle.

Everything here is an expression over columns: it runs inside whole-stage
codegen, scales linearly with partitions, and never touches the driver.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def norm_text(col: Column | str) -> Column:
    """Canonical form for dedup/fingerprinting: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>, no empties)."""
    return F.split(norm_text(col), " ")


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles ('w1 w2 w3'), the unit for Jaccard/MinHash.

    Built with ``transform`` over token indexes — stays JVM-side. Documents
    shorter than ``n`` tokens yield the whole document as one shingle.
    """
    toks = tokens(col)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n_sh - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + F.lit(1), n)),
    )


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Array of character n-grams of the normalized text."""
    s = norm_text(col)
    n_sh = F.greatest(F.length(s) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n_sh - F.lit(1)),
        lambda i: F.substr(s, i + F.lit(1), F.lit(n)),
    )


def md5_hash64(col: Column) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of md5 → bigint.

    Portable across engines: DuckDB can compute the identical value with
    ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``. 15 hex chars keep
    the value < 2^60, safely inside a signed 64-bit integer in any engine.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def seeded_hash64(col: Column, seed: int) -> Column:
    """Family of independent portable hashes h_seed(x) = md5_hash64(seed || x)."""
    return md5_hash64(F.concat(F.lit(f"{seed}|"), col))
