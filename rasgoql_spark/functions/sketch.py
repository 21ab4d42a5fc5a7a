"""Mergeable cardinality sketches (Apache DataSketches HLL, public API:
``pyspark.sql.functions.hll_sketch_agg`` family, Spark 3.5+).

``approx_distinct`` (operators/aggregates.py:322) answers "how many
distinct" in one pass; at 100 TB the harder question is INCREMENTAL and
CROSS-DATASET cardinality: count distinct users per shard today, merge the
per-shard sketches tomorrow without rescanning, estimate the overlap of two
corpora without shuffling raw values between them. An HLL sketch is a small
mergeable binary (~2^lg_k bytes) with a proven error bound
(~1.04/√2^lg_k relative standard deviation), so:

- per-partition/per-day sketch tables replace raw-id rollups (bytes
  shipped: KBs per group instead of the id domain);
- union is associative: merge at any granularity later (``hll_merge``);
- |A ∩ B| ≈ |A| + |B| − |A ∪ B| by inclusion-exclusion (``hll_overlap``)
  — the approximate sibling of ``source_overlap``'s exact join.

Determinism: DataSketches HLL is deterministic for a given input SET (the
sketch bytes can vary with aggregation order, but the ESTIMATE of a sketch
built from the same set is stable in sparse mode and the driver-facing
entries verify estimates against exact counts within the error bound, the
``approx_distinct`` oracle pattern — DuckDB cannot replay sketch bytes).

No SQL renderers: sketch bytes are engine-specific binaries; the rendering
contract (COVERAGE.md renderer-exclusion list) documents this the same way
as the multimodal Arrow parsers. Execution-only, like transform_pandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..naming import cleanse_name
from ..operators._util import as_list, resolve_col, resolve_cols
from ..registry import spark_transform
from ._index import (
    PersistedIndex,
    loaded,
    materialize,
    read_frames,
    read_params,
    save_artifact,
)

LG_K_MIN, LG_K_MAX = 4, 21  # DataSketches HLL bounds


def _check_lg_k(lg_k: int) -> None:
    if not LG_K_MIN <= lg_k <= LG_K_MAX:
        raise ParameterException(f"lg_k must be in [{LG_K_MIN}, {LG_K_MAX}]")


@spark_transform("hll_sketch", category="sketch", streaming_ok=False)
def hll_sketch(df: DataFrame, columns, group_by=None, lg_k: int = 12) -> DataFrame:
    """Per-group HLL sketches of ``columns``: one ``{COL}_SKETCH`` binary
    per column. The mergeable building block — persist the output as a
    slim sketch table (parquet binary column) and roll it up later with
    :func:`hll_merge` instead of rescanning raw data.

    Scale: one hash aggregate; sketches combine map-side (each partial is
    ~2^lg_k bytes), so shuffle volume is |groups|·KBs regardless of rows."""
    _check_lg_k(lg_k)
    cols = resolve_cols(df, as_list(columns))
    if not cols:
        raise ParameterException("hll_sketch requires at least one column")
    keys = resolve_cols(df, as_list(group_by))
    aggs = [
        F.hll_sketch_agg(c, F.lit(int(lg_k))).alias(f"{cleanse_name(c)}_SKETCH")
        for c in cols
    ]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


@spark_transform("hll_estimate", category="sketch", streaming_ok=False)
def hll_estimate(df: DataFrame, sketch_cols) -> DataFrame:
    """Distinct-count estimates from sketch columns: appends
    ``{COL}_ESTIMATE`` (bigint) per sketch. Row-local, shuffle-free."""
    cols = resolve_cols(df, as_list(sketch_cols))
    if not cols:
        raise ParameterException("hll_estimate requires at least one sketch column")
    return df.withColumns({
        f"{cleanse_name(c)}_ESTIMATE": F.hll_sketch_estimate(c).cast("bigint")
        for c in cols
    })


@spark_transform("hll_merge", category="sketch", streaming_ok=False)
def hll_merge(
    df: DataFrame,
    sketch_col: str,
    group_by=None,
    estimate: bool = True,
) -> DataFrame:
    """Union sketches to a coarser grouping (per-shard → per-day → global):
    ``{COL}`` merged with ``hll_union_agg``, plus ``{COL}_ESTIMATE`` when
    ``estimate``. The rollup never touches raw data — the 100 TB move.

    Scale: one hash aggregate over |input groups| sketch rows (KBs each)."""
    c = resolve_col(df, sketch_col)
    keys = resolve_cols(df, as_list(group_by))
    agg = F.hll_union_agg(c).alias(c)
    out = df.groupBy(*keys).agg(agg) if keys else df.agg(agg)
    if estimate:
        out = out.withColumn(
            f"{cleanse_name(c)}_ESTIMATE", F.hll_sketch_estimate(c).cast("bigint")
        )
    return out


@spark_transform("hll_overlap", category="sketch", streaming_ok=False)
def hll_overlap(
    df: DataFrame,
    other: DataFrame,
    column: str,
    other_column: str | None = None,
    lg_k: int = 14,
    round_to: int = 6,
) -> DataFrame:
    """Approximate overlap of two datasets' id sets WITHOUT shuffling raw
    values between them: one sketch per side, then inclusion-exclusion
    ``|A ∩ B| ≈ |A| + |B| − |A ∪ B|`` (clamped at 0) plus the Jaccard
    estimate. One row out: ``N_A, N_B, N_UNION, N_OVERLAP, JACCARD``.

    The approximate sibling of ``source_overlap`` (functions/dedup.py) —
    use this when A and B are different tables/clusters/days and an exact
    id join is the bottleneck. Inclusion-exclusion compounds the HLL error
    (~3× the single-sketch rsd on the overlap when the sets are mostly
    disjoint), so size ``lg_k`` to the precision you need.

    Scale: each side is one sketch aggregate (map-side combinable); the
    final arithmetic is a one-row broadcast crossJoin."""
    _check_lg_k(lg_k)
    ca = resolve_col(df, column)
    cb = resolve_col(other, other_column or column)
    a = df.agg(F.hll_sketch_agg(ca, F.lit(int(lg_k))).alias("__sa"))
    b = other.agg(F.hll_sketch_agg(cb, F.lit(int(lg_k))).alias("__sb"))
    j = a.crossJoin(F.broadcast(b))
    na = F.hll_sketch_estimate("__sa").cast("bigint")
    nb = F.hll_sketch_estimate("__sb").cast("bigint")
    nu = F.hll_sketch_estimate(F.hll_union("__sa", "__sb")).cast("bigint")
    overlap = F.greatest(na + nb - nu, F.lit(0).cast("bigint"))
    return j.select(
        na.alias("N_A"),
        nb.alias("N_B"),
        nu.alias("N_UNION"),
        overlap.alias("N_OVERLAP"),
        F.when(nu > 0, F.round(overlap / nu, round_to)).otherwise(
            F.lit(0.0)
        ).alias("JACCARD"),
    )


class HLLIndex(PersistedIndex):
    """Persisted per-group cardinality index: one HLL sketch row per group,
    the mergeable cross-job form of :func:`hll_sketch`. Build on the
    corpus-refresh cadence, :func:`update_hll_index` per ingest batch —
    update cost is the NEW batch's aggregate plus a |groups|-row union;
    the raw history is never rescanned. Sketch union is a register-max,
    so an incrementally-maintained index is BIT-IDENTICAL in estimate to a
    full rebuild (pinned in tests). Release and artifacts: see
    :mod:`._index`."""

    _PARAMS = "lg_k int, column string, group_by string"
    _DEFAULTS: dict = {}

    def __init__(self, sketches: DataFrame, lg_k: int, column: str, group_by):
        super().__init__(owned=(sketches,))
        self.sketches = sketches
        self.lg_k = int(lg_k)
        self.column = column
        self.group_by = list(group_by or [])

    @property
    def sketch_col(self) -> str:
        return f"{cleanse_name(self.column)}_SKETCH"


def hll_index(df: DataFrame, column: str, group_by=None, lg_k: int = 12) -> HLLIndex:
    """Build a :class:`HLLIndex` (one aggregate; frame persisted for
    multi-probe reuse)."""
    _check_lg_k(lg_k)
    sk, _ = materialize(hll_sketch(df, [column], group_by=group_by, lg_k=lg_k))
    return HLLIndex(sk, lg_k, column, as_list(group_by))


def update_hll_index(index: HLLIndex, new_rows: DataFrame) -> HLLIndex:
    """Fold an ingest batch into an existing :class:`HLLIndex`: sketch the
    batch at the index's lg_k, union per group (register-max — exactly a
    full rebuild's state for the combined data). Returns a NEW index; the
    old one remains usable."""
    batch = hll_sketch(new_rows, [index.column], group_by=index.group_by,
                       lg_k=index.lg_k)
    keys = index.group_by
    merged = (
        index.sketches.unionByName(batch)
        .groupBy(*keys)
        .agg(F.hll_union_agg(index.sketch_col).alias(index.sketch_col))
    )
    merged, _ = materialize(merged)
    return HLLIndex(merged, index.lg_k, index.column, keys)


def save_hll_index(index: HLLIndex, path: str) -> str:
    """Persist as parquet (``{path}/sketches`` + one-row params)."""
    return save_artifact(index, path, {"sketches": index.sketches},
                         group_by=",".join(index.group_by))


def load_hll_index(spark, path: str, persist: bool = True) -> HLLIndex:
    """Load a :func:`save_hll_index` artifact."""
    prm = read_params(spark, path, HLLIndex)
    (sk,) = read_frames(spark, path, ("sketches",), persist)
    gb = [g for g in prm["group_by"].split(",") if g]
    return loaded(HLLIndex(sk, prm["lg_k"], prm["column"], gb), path)
