"""Portable hashing: identical values in Spark and in the DuckDB oracle.

Spark's xxhash64/murmur and DuckDB's hash() disagree, so every hash that
feeds a correctness-gated operator (exact dedup keys, minhash
signatures, simhash, fingerprints) is defined as **md5-prefix-to-int64**,
which both engines compute bit-identically:

  Spark :  conv(substr(md5(x), 1, 15), 16, 10)  -> string -> cast long
  DuckDB:  CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)

15 hex chars = 60 bits, always non-negative, no overflow ambiguity.
Seeded variants prepend the seed: md5(concat(seed, ':', x)).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed to resolve pandas_udf type hints
from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_long(col, seed: int | None = None) -> Column:
    """Deterministic 60-bit hash of a string column, DuckDB-portable."""
    c = col if isinstance(col, Column) else F.col(col)
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of md5_long."""
    inner = f"('{seed}:' || {expr})" if seed is not None else f"({expr})"
    return f"CAST(('0x' || substr(md5({inner}), 1, 15)) AS BIGINT)"


def hamming64(a, b) -> Column:
    """bit_count(a XOR b) — phash Hamming distance; reference analog is
    the block-coverage Hamming in shortest_path.go:60-69."""
    ca = a if isinstance(a, Column) else F.col(a)
    cb = b if isinstance(b, Column) else F.col(b)
    return F.bit_count(ca.cast("long").bitwiseXOR(cb.cast("long")))


def shingles(text_col, n: int = 3) -> Column:
    """Word n-gram shingles of a text column (JVM-side: split + transform).

    Lowercased, whitespace-tokenized; returns array<string> of
    space-joined n-grams (distinct).  Matches shingles_sql exactly.
    """
    toks = F.split(F.trim(F.lower(text_col if isinstance(text_col, Column) else F.col(text_col))), r"\s+")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def shingles_sql(expr: str, n: int = 3) -> str:
    """DuckDB twin of shingles(): list of distinct word n-grams."""
    toks = f"regexp_split_to_array(trim(lower({expr})), '\\s+')"
    return (
        f"list_distinct([array_to_string(({toks})[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({toks}) - {n - 1}, 0) + 1)])"
    )


def shingles_pandas():
    """Arrow-vectorized twin of shingles(): python tokenization is ~10x
    faster than the JVM slice pipeline per batch (measured) and
    element-identical — str.split() == trim + split on \\s+ (both drop
    leading/trailing/repeated whitespace; empty text -> []).  Returned
    as a fresh udf per call site (pandas_udf objects are not shareable
    across sessions)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def sh(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            toks = (t or "").lower().split()
            # dict preserves first-seen order == array_distinct semantics
            seen = dict.fromkeys(
                " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
            )
            out.append(list(seen))
        return pd.Series(out)

    return sh
