"""Cross-engine deterministic hashing primitives.

All hash-based LLM operators (minhash, simhash, fingerprints, LSH bands) use
md5-derived integer hashes: ``int(hex(md5(s))[:8], 16)``. Both Spark
(``conv(substr(md5(s),1,8),16,10)``) and DuckDB
(``('0x' || substr(md5(s),1,8))::BIGINT``) compute this identically, which is
what makes the DuckDB oracle checks possible for these operators. Spark
evaluates it fully JVM-side (codegen'd), no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps a*h+b within int64 for a,b < 2^32.
MERSENNE = 2_147_483_647


def md5_int(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_int_sql(expr: str) -> str:
    """DuckDB rendering of md5_int."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def tokens_expr(text: Column) -> Column:
    """Normalized word tokens: lowercase, strip non-alphanumerics, split on
    whitespace. Empty text → empty array."""
    cleaned = F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " "))
    return F.when(cleaned == "", F.array().cast("array<string>")).otherwise(
        F.split(cleaned, r"\s+")
    )


TOKENS_SQL = (
    "CASE WHEN trim(regexp_replace(lower({t}), '[^a-z0-9\\s]', ' ', 'g')) = '' "
    "THEN [] ELSE regexp_split_to_array(trim(regexp_replace(lower({t}), '[^a-z0-9\\s]', ' ', 'g')), '\\s+') END"
)


def shingles_expr(tokens: Column, k: int) -> Column:
    """Distinct k-gram shingles joined with spaces; if fewer than k tokens,
    the whole token list is one shingle."""
    ngrams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, F.lit(k))),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= k, ngrams).otherwise(
            F.when(F.size(tokens) > 0, F.array(F.concat_ws(" ", tokens))).otherwise(
                F.array().cast("array<string>")
            )
        )
    )


def shingles_spark_sql(toks: str, k: int) -> str:
    """Spark-SQL twin of shingles_expr over a token-array expression."""
    ngrams = (
        f"transform(sequence(1, size({toks}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({toks}, i, {k})))"
    )
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {k} THEN {ngrams} "
        f"WHEN size({toks}) > 0 THEN array(concat_ws(' ', {toks})) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END)"
    )


def norm_fp(text: Column) -> Column:
    """Normalized-content fingerprint: md5 of the lowercased text with
    non-alphanumerics blanked and whitespace collapsed. The exact-dedup
    key of ``fingerprint``, ``dedup_against(method='exact')`` and the
    Bloom screens, so all of them agree row for row."""
    return F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " "), r"\s+", " "
            )
        )
    )
