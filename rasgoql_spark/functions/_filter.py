"""The filter step shared by every operator with a mode='filter'.

A filter-mode operator scores rows, collects the ids to drop and returns
its input minus those ids. The near-duplicate family (``dedup.py``), the
reference screens (``dedup_against``, ``dedup_against_bloom``,
``dedup_against_substring``, ``dedup_against_embedding``), the
decontamination filters (``curation.py``) and ``semantic_dedup`` all run
the same four pieces:

- ``check_mode`` rejects an unknown mode before anything persists or runs.
- ``reread_input`` decides whether the input is cached. Filter mode reads
  the input twice (the scoring pipeline and the anti-join's left side),
  often with eager jobs in between, so a mid-chain input is persisted
  once across both reads. A scan-rooted input is not: re-scanning costs
  less than the cache write (``cheap_to_recompute``).
- ``finish`` drops the distinct ids with one ``left_anti`` join, keeps
  the input's columns and releases the operator's caches with the result.
- ``drop_sql`` is ``finish``'s SQL twin for the renderers.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import resolve_col
from ._cache import cheap_to_recompute, release_now, release_with, scoped_persist


def check_mode(mode: str, modes=("pairs", "filter", "edges")) -> None:
    """Reject an unknown ``mode`` before the operator persists or runs
    anything."""
    if mode not in modes:
        q = [f"'{m}'" for m in modes]
        listed = " or ".join(q) if len(q) == 2 else ", ".join(q[:-1]) + ", or " + q[-1]
        raise ParameterException(f"mode must be {listed}")


def reread_input(df: DataFrame, mode: str = "filter") -> tuple[DataFrame, tuple]:
    """Persist an input the operator reads twice with eager jobs in
    between (the collapse guard, an index build, the min-label loop):
    without a cache a mid-chain input's upstream lineage executes once per
    read (a curation chain would re-run every upstream operator). Only
    mode='filter' reads the input twice; any other mode, and a
    scan-rooted input, skip the persist (``cheap_to_recompute``). Call
    after every parameter check, or inside ``released_on_error``. Returns
    ``(df, caches)``; pass ``caches`` to ``finish`` (or ``release_with``)."""
    if mode != "filter" or cheap_to_recompute(df):
        return df, ()
    df = scoped_persist(df)
    return df, (df,)


@contextmanager
def released_on_error(*caches: DataFrame):
    """Release ``caches``, and every frame the block appends to the
    yielded list, if the block raises; then re-raise. For an operator
    whose checks or eager jobs can still fail after ``reread_input``
    pinned its input or an inline index build pinned its frame."""
    held = list(caches)
    try:
        yield held
    except BaseException:
        release_now(*held)
        raise


def finish(
    df: DataFrame, id_col: str, mode: str, out: DataFrame, *caches: DataFrame,
    key: str = "ID_B",
) -> DataFrame:
    """The filter step's end: mode='filter' returns ``df``'s rows minus
    every ``key`` id of ``out`` (for a near-dup pair the larger id), any
    other mode ``out`` itself; either way ``caches`` are released with the
    result."""
    if mode != "filter":
        return release_with(out, *caches)
    i = resolve_col(df, id_col)
    dupes = out.select(F.col(key).alias(i)).distinct()
    return release_with(
        df.join(dupes, on=i, how="left_anti").select(*df.columns), *caches
    )


def drop_sql(source, id_col, pairs: str, key: str = "ID_B") -> str:
    """SQL twin of ``finish``'s filter mode: ``source`` rows minus every
    ``key`` id of ``pairs``."""
    return (
        f"SELECT s.* FROM {source} s LEFT ANTI JOIN "
        f"(SELECT DISTINCT {key} FROM ({pairs})) d ON s.{id_col} = d.{key}"
    )
