"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the public MOSS
algorithm).

Pipeline per document: ordered token k-grams → md5-derived 32-bit hash per
gram → sliding windows of ``w`` consecutive hashes → the MINIMUM hash of
each window is selected → the distinct selected hashes are the document's
fingerprint set. Robust winnowing guarantees every shared substring of at
least ``k + w - 1`` tokens contributes a shared fingerprint, while keeping
the set size ~2/(w+1) of the gram count.

Everything is row-local JVM array expressions (no Python, no shuffle for
fingerprinting); overlap detection runs the near-dup pipeline stages of
``dedup.py`` (candidate join, verify attach, filter step). All hashes are md5-derived (functions/_hash.py), so
the DuckDB oracles replicate every stage bit-for-bit.

STAGING NOTE (the repo's HOF rule, see minhash_signatures): the token and
hash arrays are bound to real columns before any lambda references them —
a captured expression re-evaluates PER ARRAY ELEMENT inside Spark
higher-order functions, which turns the window-min pass quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators._util import resolve_col, spread
from ..registry import renderer, spark_transform
from ._cache import scoped_persist
from ._filter import check_mode, finish, reread_input
from .dedup import _attach, _candidate_pairs
from ._hash import md5_int_sql, tokens_expr


def _gram_hashes(tokens: Column, k: int) -> Column:
    """md5-derived hash per POSITIONAL k-gram (order kept, duplicates kept —
    winnowing needs the gram sequence, not the distinct shingle set).
    ``tokens`` must be a STAGED column reference."""
    n = F.size(tokens)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda j: F.concat_ws(" ", F.slice(tokens, j, k)),
        ),
    ).otherwise(
        F.when(n > 0, F.array(F.concat_ws(" ", tokens))).otherwise(
            F.array().cast("array<string>")
        )
    )
    return F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint"),
    )


def _window_mins(hashes: Column, window: int) -> Column:
    """Sorted distinct window-minimum selection. ``hashes`` must be a STAGED
    column reference — it is captured inside the per-window lambda."""
    n = F.size(hashes)
    mins = F.when(
        n > window,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(window - 1)),
            lambda p: F.array_min(F.slice(hashes, p, window)),
        ),
    ).otherwise(F.when(n > 0, F.array(F.array_min(hashes))).otherwise(hashes))
    return F.array_sort(F.array_distinct(mins))


def _with_winnow(df: DataFrame, text_col: str, k: int, window: int, name: str) -> DataFrame:
    """Append the fingerprint column via two staged projections."""
    staged = df.withColumn("__wt", tokens_expr(F.col(text_col))).withColumn(
        "__wh", _gram_hashes(F.col("__wt"), k)
    )
    return (
        staged.withColumn(name, _window_mins(F.col("__wh"), window))
        .drop("__wt", "__wh")
    )


@spark_transform("winnow_fingerprint", category="text", streaming_ok=True)
def winnow_fingerprint(
    df: DataFrame,
    text: str,
    k: int = 3,
    window: int = 4,
    name: str = "WINNOW_FP",
) -> DataFrame:
    """Append the winnowed fingerprint set (``name``, sorted bigint array)
    and its size (``N_FP``). Row-local — shuffle-free at any scale; the
    fingerprint set is the compact sketch used for plagiarism/overlap
    detection (MOSS) and local-substring dedup."""
    from ..errors import ParameterException

    if k < 1 or window < 1:
        raise ParameterException("k and window must be >= 1")
    t = resolve_col(df, text)
    out = _with_winnow(df, t, k, window, name)
    return out.withColumn("N_FP", F.size(F.col(name)).cast("bigint"))


def _winnow_sql_duck(text_expr: str, k: int, window: int) -> str:
    """DuckDB replica of the winnow pipeline (1-based list slicing like
    Spark; scalar subqueries stage __t/__h so nothing re-evaluates)."""
    from ._hash import TOKENS_SQL

    toks = TOKENS_SQL.format(t=text_expr)
    grams = (
        f"(SELECT CASE WHEN len(__t) >= {k} THEN "
        f"list_transform(range(1, len(__t) - {k - 2}), "
        f"j -> array_to_string(list_slice(__t, j, j + {k - 1}), ' ')) "
        f"WHEN len(__t) > 0 THEN [array_to_string(__t, ' ')] "
        f"ELSE CAST([] AS VARCHAR[]) END FROM (SELECT {toks} AS __t))"
    )
    hashes = f"list_transform({grams}, g -> {md5_int_sql('g')})"
    mins = (
        f"(SELECT CASE WHEN len(__h) > {window} THEN "
        f"list_transform(range(1, len(__h) - {window - 2}), "
        f"p -> list_min(list_slice(__h, p, p + {window - 1}))) "
        f"WHEN len(__h) > 0 THEN [list_min(__h)] ELSE __h END "
        f"FROM (SELECT {hashes} AS __h))"
    )
    return f"list_sort(list_distinct({mins}))"


@renderer("winnow_fingerprint")
def _r_winnow_fingerprint(source, text, k=3, window=4, name="WINNOW_FP", _input_columns=()) -> str:
    """Layered-subselect rendering: __wt and __wh are staged columns, so the
    SQL path has the same non-quadratic cost shape as the DataFrame path."""
    toks = (
        f"CASE WHEN trim(regexp_replace(lower({text}), '[^a-z0-9\\\\s]', ' ')) = '' "
        f"THEN CAST(array() AS ARRAY<STRING>) "
        f"ELSE split(trim(regexp_replace(lower({text}), '[^a-z0-9\\\\s]', ' ')), '\\\\s+') END"
    )
    grams = (
        f"CASE WHEN size(__wt) >= {k} THEN transform(sequence(1, size(__wt) - {k - 1}), "
        f"j -> concat_ws(' ', slice(__wt, j, {k}))) "
        f"WHEN size(__wt) > 0 THEN array(concat_ws(' ', __wt)) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    hashes = f"transform({grams}, g -> CAST(conv(substring(md5(g), 1, 8), 16, 10) AS BIGINT))"
    mins = (
        f"CASE WHEN size(__wh) > {window} THEN transform(sequence(1, size(__wh) - {window - 1}), "
        f"p -> array_min(slice(__wh, p, {window}))) "
        f"WHEN size(__wh) > 0 THEN array(array_min(__wh)) ELSE __wh END"
    )
    return (
        f"SELECT * EXCEPT (__wfp), __wfp AS {name}, "
        f"CAST(size(__wfp) AS BIGINT) AS N_FP FROM "
        f"(SELECT * EXCEPT (__wt, __wh), array_sort(array_distinct({mins})) AS __wfp FROM "
        f"(SELECT *, {hashes} AS __wh FROM "
        f"(SELECT *, {toks} AS __wt FROM {source})))"
    )


@spark_transform("dedup_winnow", category="dedup", streaming_ok=False)
def dedup_winnow(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    window: int = 4,
    threshold: float = 0.5,
    mode: str = "pairs",
) -> DataFrame:
    """Local-substring near-dup detection on winnowed fingerprints: pairs
    whose fingerprint CONTAINMENT (|A∩B| / min(|A|,|B|)) clears
    ``threshold``. Winnowing guarantees any shared run of ≥ k+window-1
    tokens shares a fingerprint, so partially-overlapping documents (quoted
    passages, templated pages with long shared spans) surface even when
    whole-document Jaccard is low — the complement of ``dedup_minhash``.

    Scale: fingerprinting is row-local; the rest is the near-dup
    pipeline of :mod:`.dedup` with the fingerprint hash as the candidate
    key (a slim ``(id, fp_hash)`` inverted-index self-join, never all
    pairs) and only candidate pairs paying the exact intersection. Output
    (ID_A, ID_B, CONTAINMENT); mode='filter' drops the higher id of each
    qualifying pair from the input.
    """
    from ..errors import ParameterException

    check_mode(mode, ("pairs", "filter"))
    if k < 1 or window < 1:
        raise ParameterException("k and window must be >= 1")
    df, inp = reread_input(df, mode)
    t, i = resolve_col(df, text), resolve_col(df, id_col)
    base = scoped_persist(
        _with_winnow(
            spread(df).select(F.col(i).alias("__id"), F.col(t)), t, k, window, "__fp"
        )
        .select("__id", "__fp")
    )
    inv = base.select("__id", F.explode("__fp").alias("__h"))
    cand = _attach(_candidate_pairs(inv, "__h"), ("__fp",), base)
    inter = F.size(F.array_intersect("__fp_a", "__fp_b")).cast("double")
    mn = F.least(F.size("__fp_a"), F.size("__fp_b")).cast("double")
    containment = F.round(F.when(mn > 0, inter / mn).otherwise(F.lit(0.0)), 6)
    pairs = (
        cand.withColumn("CONTAINMENT", containment)
        .filter(F.col("CONTAINMENT") >= threshold)
        .select(
            F.col("__id_a").alias("ID_A"),
            F.col("__id_b").alias("ID_B"),
            "CONTAINMENT",
        )
    )
    return finish(df, id_col, mode, pairs, base, *inp)


# NOTE (round 8): a dedup_winnow renderer was prototyped and produced
# row-identical SQL, but 45x slower than the DataFrame path at sf0.001 —
# without a persist barrier, SQL text cannot stop Catalyst re-inlining the
# O(tokens*window) fingerprint pipeline into every candidate-join consumer.
# The operator stays execution-only by design (same class as the other
# multi-stage self-joins); winnow_fingerprint itself renders fine.
