"""Corpus snapshot diff (public pattern: hash-compare change-data-capture,
the standard warehouse reconciliation shape).

A long-running training-data pipeline re-materializes its corpus every
cycle; the operational questions — what did this release add, drop, or
rewrite relative to the last accepted snapshot — reduce to a keyed diff.
Computing it by shipping full rows would shuffle the corpus twice; instead
both sides reduce to slim ``(key, 16-byte md5)`` rows before the one
full-outer join, so the shuffle is key-plus-hash regardless of document
width. Each column value is md5-hashed individually before the row-level
concat+md5, so values containing separator bytes cannot make distinct rows
collide. That row-hash trick is exactly what the DuckDB oracle replays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..operators._util import as_list, null_safe_on, resolve_col
from ..registry import renderer, spark_transform

def _row_hash(cols: list[str]) -> Column:
    """Order-stable null-safe hash of ``cols``: each value is md5-hashed
    INDIVIDUALLY (fixed 32-hex-char tokens) before the row-level concat, so
    a value containing the separator — or any crafted byte sequence — can
    never shift column boundaries and make distinct rows collide. NULL maps
    to the literal token ``NULL``, which no md5 hex digest can equal."""
    return F.md5(
        F.concat_ws(
            "|",
            *[F.coalesce(F.md5(F.col(c).cast("string")), F.lit("NULL")) for c in cols],
        )
    )


@spark_transform("diff_datasets", category="snapshot", streaming_ok=False)
def diff_datasets(
    df: DataFrame,
    other: DataFrame,
    keys,
    compare_cols=None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Diff the NEW snapshot ``df`` against the OLD snapshot ``other``.

    Returns one row per key with ``STATUS`` in ``ADDED`` (new only),
    ``REMOVED`` (old only), ``CHANGED`` (both, compared columns differ) and
    — only with ``include_unchanged=True`` — ``UNCHANGED``.

    ``compare_cols`` defaults to every shared non-key column. Keys must be
    unique per side (enforce upstream with ``remove_duplicates``); duplicate
    keys would turn the outer join into a fan-out.
    """
    keys = [resolve_col(df, k) for k in as_list(keys)]
    if not keys:
        raise ParameterException("diff_datasets requires at least one key column")
    for k in keys:
        resolve_col(other, k)  # must exist on both sides
    if compare_cols is None:
        shared = [c for c in df.columns if c in set(other.columns)]
        compare_cols = [c for c in shared if c not in keys]
    else:
        compare_cols = [resolve_col(df, c) for c in as_list(compare_cols)]
        for c in compare_cols:
            resolve_col(other, c)
    new = df.select(*keys, _row_hash(compare_cols).alias("__h_new"))
    old = other.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        _row_hash(compare_cols).alias("__h_old"),
    )
    joined = new.join(
        old, on=null_safe_on(keys, [f"__k_{k}" for k in keys]), how="full_outer"
    )
    status = (
        F.when(F.col("__h_old").isNull(), F.lit("ADDED"))
        .when(F.col("__h_new").isNull(), F.lit("REMOVED"))
        .when(F.col("__h_new") != F.col("__h_old"), F.lit("CHANGED"))
        .otherwise(F.lit("UNCHANGED"))
    )
    out = joined.select(
        *[F.coalesce(F.col(k), F.col(f"__k_{k}")).alias(k) for k in keys],
        status.alias("STATUS"),
    )
    if not include_unchanged:
        out = out.filter(F.col("STATUS") != "UNCHANGED")
    return out


def diff_oracle_sql(
    new_sql: str,
    old_sql: str,
    keys: list[str],
    compare_cols: list[str],
    include_unchanged: bool = False,
) -> str:
    """DuckDB replay of :func:`diff_datasets` over two subqueries."""
    def h(alias: str) -> str:
        parts = ", ".join(
            f"COALESCE(md5(CAST({alias}.{c} AS VARCHAR)), 'NULL')"
            for c in compare_cols
        )
        return f"md5(concat_ws('|', {parts}))"

    on = " AND ".join(f"n.{k} IS NOT DISTINCT FROM o.{k}" for k in keys)
    key_sel = ", ".join(f"COALESCE(n.{k}, o.{k}) AS {k}" for k in keys)
    status = (
        f"CASE WHEN o.__h IS NULL THEN 'ADDED' WHEN n.__h IS NULL THEN 'REMOVED' "
        f"WHEN n.__h <> o.__h THEN 'CHANGED' ELSE 'UNCHANGED' END"
    )
    filt = "" if include_unchanged else " WHERE STATUS <> 'UNCHANGED'"
    keys_csv = ", ".join(keys)
    return (
        f"WITH n AS (SELECT {keys_csv}, {h('s')} AS __h FROM ({new_sql}) s), "
        f"o AS (SELECT {keys_csv}, {h('s')} AS __h FROM ({old_sql}) s) "
        f"SELECT * FROM (SELECT {key_sel}, {status} AS STATUS "
        f"FROM n FULL OUTER JOIN o ON {on}){filt}"
    )


def _render_hash(cols, alias: str) -> str:
    parts = ", ".join(
        f"COALESCE(md5(CAST({alias}.{c} AS STRING)), 'NULL')"
        for c in cols
    )
    return f"md5(concat_ws('|', {parts}))"


@renderer("diff_datasets")
def _r_diff_datasets(source, other, keys, compare_cols=None,
                     include_unchanged=False, _input_columns=(),
                     _table_columns=None) -> str:
    from ..errors import TransformRenderingException

    rcols = (_table_columns or {}).get("other")
    if not rcols:
        raise TransformRenderingException(
            "rendered diff_datasets needs the other table's schema — pass "
            "it by name/chain"
        )
    keys = as_list(keys)
    if compare_cols is None:
        shared = [c for c in _input_columns if c in set(rcols)]
        compare_cols = [c for c in shared if c not in keys]
    else:
        compare_cols = as_list(compare_cols)
    on = " AND ".join(f"n.{k} <=> o.{k}" for k in keys)
    key_sel = ", ".join(f"COALESCE(n.{k}, o.{k}) AS {k}" for k in keys)
    status = (
        "CASE WHEN o.__h IS NULL THEN 'ADDED' WHEN n.__h IS NULL THEN "
        "'REMOVED' WHEN n.__h != o.__h THEN 'CHANGED' ELSE 'UNCHANGED' END"
    )
    keys_csv = ", ".join(keys)
    filt = "" if include_unchanged else " WHERE STATUS != 'UNCHANGED'"
    return (
        f"SELECT * FROM (SELECT {key_sel}, {status} AS STATUS FROM "
        f"(SELECT {keys_csv}, {_render_hash(compare_cols, 's')} AS __h FROM {source} s) n "
        f"FULL OUTER JOIN "
        f"(SELECT {keys_csv}, {_render_hash(compare_cols, 's')} AS __h FROM {other} s) o "
        f"ON {on}){filt}"
    )



def _psi_score_counts(j: DataFrame, lead_cols, epsilon: float) -> DataFrame:
    """The shared counts→PSI tail (one implementation — psi_drift and
    psi_drift_categorical both feed it a zero-filled
    ``(key..., ACTUAL_N, EXPECTED_N)`` frame): window totals with the
    empty-side guard (0/0 is NaN and ``greatest(NaN, eps)`` is NaN in
    Spark, so an empty frame must floor to epsilon explicitly), the
    epsilon floor, the 6-dp contribution, and the repeated PSI_TOTAL."""
    tot_a = F.sum("ACTUAL_N").over(Window.partitionBy())
    tot_e = F.sum("EXPECTED_N").over(Window.partitionBy())
    pct_a = F.when(tot_a > 0, F.col("ACTUAL_N") / tot_a).otherwise(F.lit(0.0))
    pct_e = F.when(tot_e > 0, F.col("EXPECTED_N") / tot_e).otherwise(F.lit(0.0))
    p = F.greatest(pct_a, F.lit(float(epsilon)))
    q = F.greatest(pct_e, F.lit(float(epsilon)))
    contrib = F.round((p - q) * F.log(p / q), 6)
    out = j.select(
        *lead_cols,
        F.col("ACTUAL_N").cast("bigint").alias("ACTUAL_N"),
        F.col("EXPECTED_N").cast("bigint").alias("EXPECTED_N"),
        F.round(pct_a, 6).alias("ACTUAL_PCT"),
        F.round(pct_e, 6).alias("EXPECTED_PCT"),
        contrib.alias("PSI_CONTRIB"),
    )
    return out.withColumn(
        "PSI_TOTAL", F.round(F.sum("PSI_CONTRIB").over(Window.partitionBy()), 6)
    )


@spark_transform("psi_drift", category="snapshot", streaming_ok=False)
def psi_drift(
    df: DataFrame,
    other: DataFrame,
    column: str,
    breakpoints,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between this dataset (ACTUAL — the new
    corpus/release) and ``other`` (EXPECTED — the accepted baseline) over one
    numeric column (the standard scorecard drift metric; PSI < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 action).

    ``breakpoints`` is an EXPLICIT ascending bin-edge list (deterministic and
    engine-portable, unlike approximate quantiles): bin 1 is
    ``(-inf, b1)``, bin i is ``[b(i-1), b(i))``, bin n+1 is ``[bn, inf)``;
    NULLs land in bin 0. Proportions are floored at ``epsilon`` before the
    log so one-sided-empty bins stay finite.

    Returns one row per occupied bin: ``BIN, LO, HI, ACTUAL_N, EXPECTED_N,
    ACTUAL_PCT, EXPECTED_PCT, PSI_CONTRIB, PSI_TOTAL`` (pcts/PSI rounded to
    6 dp; PSI_TOTAL repeated on every row).

    Scale: each side reduces with ONE hash aggregate on the bin id
    (map-side combine — the shuffle carries ≤ |bins| rows per partition);
    the join and the PSI_TOTAL window run on a ≤ |bins|+1-row frame, so the
    unpartitioned window is a constant-size reduction, never a fact-table
    funnel."""
    bps = [float(b) for b in as_list(breakpoints)]
    if not bps or sorted(bps) != bps:
        raise ParameterException("breakpoints must be a non-empty ascending list")
    if epsilon <= 0:
        raise ParameterException("epsilon must be > 0")

    def binned(d: DataFrame, col: str, n_alias: str) -> DataFrame:
        return d.select(_psi_bin_col(d, col, bps).alias("BIN")).groupBy("BIN").agg(
            F.count(F.lit(1)).alias(n_alias)
        )

    a = binned(df, column, "ACTUAL_N")
    e = binned(other, column, "EXPECTED_N")
    j = (
        a.join(e, "BIN", "full_outer")
        .select(
            "BIN",
            F.coalesce("ACTUAL_N", F.lit(0)).alias("ACTUAL_N"),
            F.coalesce("EXPECTED_N", F.lit(0)).alias("EXPECTED_N"),
        )
    )
    lo_map = {i + 1: bps[i - 1] if i >= 1 else None for i in range(len(bps) + 1)}
    hi_map = {i + 1: bps[i] if i < len(bps) else None for i in range(len(bps) + 1)}
    lo = F.lit(None).cast("double")
    hi = F.lit(None).cast("double")
    for i in range(1, len(bps) + 2):
        if lo_map[i] is not None:
            lo = F.when(F.col("BIN") == i, F.lit(lo_map[i])).otherwise(lo)
        if hi_map[i] is not None:
            hi = F.when(F.col("BIN") == i, F.lit(hi_map[i])).otherwise(hi)
    return _psi_score_counts(
        j, [F.col("BIN"), lo.alias("LO"), hi.alias("HI")], epsilon
    )


def _psi_bin_sql(col: str, bps: list[float]) -> str:
    add = " + ".join(f"(CASE WHEN {col} >= {b!r} THEN 1 ELSE 0 END)" for b in bps)
    return f"CASE WHEN {col} IS NULL THEN 0 ELSE 1 + {add} END"


@renderer("psi_drift")
def _r_psi_drift(source, other, column, breakpoints, epsilon=1e-6) -> str:
    bps = [float(b) for b in as_list(breakpoints)]
    eps = float(epsilon)
    lo = "CASE " + " ".join(
        f"WHEN BIN = {i + 1} THEN CAST({bps[i - 1]!r} AS DOUBLE)"
        for i in range(1, len(bps) + 1)
    ) + " ELSE CAST(NULL AS DOUBLE) END"
    hi = "CASE " + " ".join(
        f"WHEN BIN = {i + 1} THEN CAST({bps[i]!r} AS DOUBLE)"
        for i in range(0, len(bps))
    ) + " ELSE CAST(NULL AS DOUBLE) END"
    return (
        f"SELECT * FROM ("
        f"WITH __a AS (SELECT {_psi_bin_sql(column, bps)} AS BIN, COUNT(*) AS ACTUAL_N "
        f"FROM {source} GROUP BY 1), "
        f"__e AS (SELECT {_psi_bin_sql(column, bps)} AS BIN, COUNT(*) AS EXPECTED_N "
        f"FROM {other} GROUP BY 1), "
        f"__j AS (SELECT COALESCE(__a.BIN, __e.BIN) AS BIN, "
        f"COALESCE(ACTUAL_N, 0) AS ACTUAL_N, COALESCE(EXPECTED_N, 0) AS EXPECTED_N "
        f"FROM __a FULL OUTER JOIN __e ON __a.BIN = __e.BIN), "
        f"__t AS (SELECT *, SUM(ACTUAL_N) OVER () AS __ta, SUM(EXPECTED_N) OVER () AS __te, "
        f"GREATEST(CASE WHEN SUM(ACTUAL_N) OVER () > 0 "
        f"THEN ACTUAL_N / (SUM(ACTUAL_N) OVER () * 1.0) ELSE 0.0 END, {eps!r}) AS __p, "
        f"GREATEST(CASE WHEN SUM(EXPECTED_N) OVER () > 0 "
        f"THEN EXPECTED_N / (SUM(EXPECTED_N) OVER () * 1.0) ELSE 0.0 END, {eps!r}) AS __q FROM __j) "
        f"SELECT BIN, {lo} AS LO, {hi} AS HI, "
        f"CAST(ACTUAL_N AS BIGINT) AS ACTUAL_N, CAST(EXPECTED_N AS BIGINT) AS EXPECTED_N, "
        f"ROUND(CASE WHEN __ta > 0 THEN ACTUAL_N / (__ta * 1.0) ELSE 0.0 END, 6) AS ACTUAL_PCT, "
        f"ROUND(CASE WHEN __te > 0 THEN EXPECTED_N / (__te * 1.0) ELSE 0.0 END, 6) AS EXPECTED_PCT, "
        f"ROUND((__p - __q) * LN(__p / __q), 6) AS PSI_CONTRIB, "
        f"ROUND(SUM(ROUND((__p - __q) * LN(__p / __q), 6)) OVER (), 6) AS PSI_TOTAL "
        f"FROM __t)"
    )


@spark_transform("scd2", category="snapshot", streaming_ok=False)
def scd2(
    df: DataFrame,
    keys,
    snapshot_col: str,
    compare_cols=None,
) -> DataFrame:
    """Collapse a stack of keyed snapshots into a type-2 slowly-changing
    dimension (the standard Kimball SCD2 shape): one row per (key,
    change-run) with ``VALID_FROM`` (the snapshot that introduced the
    values), ``VALID_TO`` (the snapshot that replaced them; NULL while
    current) and ``IS_CURRENT`` (1/0).

    Input rows must be unique per (key, snapshot) — enforce upstream with
    ``remove_duplicates``. Change detection uses the same per-column-md5
    row hash as ``diff_datasets`` (separator-proof). A key absent from an
    intermediate snapshot is treated as unchanged-through (presence-based
    semantics); model deletions by diffing snapshots with ``diff_datasets``
    first.

    Scale: one window shuffle on the key (lag for change detection, lead
    for interval close) — the classic two-pass windowed formulation;
    nothing collects and nothing funnels to one task."""
    keys = [resolve_col(df, k) for k in as_list(keys)]
    if not keys:
        raise ParameterException("scd2 requires at least one key column")
    snap = resolve_col(df, snapshot_col)
    if compare_cols is None:
        compare_cols = [c for c in df.columns if c not in keys and c != snap]
    else:
        compare_cols = [resolve_col(df, c) for c in as_list(compare_cols)]
    if not compare_cols:
        raise ParameterException("scd2 requires at least one compared column")
    w = Window.partitionBy(*keys).orderBy(snap)
    h = _row_hash(compare_cols)
    changed = F.col("__h").eqNullSafe(F.lag("__h").over(w)) == False  # noqa: E712
    staged = (
        df.select(*keys, F.col(snap), *compare_cols, h.alias("__h"))
        .withColumn("__first", F.lag("__h").over(w).isNull())
        .withColumn("__chg", changed)
        .filter(F.col("__first") | F.col("__chg"))
    )
    w2 = Window.partitionBy(*keys).orderBy(snap)
    out = staged.select(
        *keys,
        *compare_cols,
        F.col(snap).alias("VALID_FROM"),
        F.lead(snap).over(w2).alias("VALID_TO"),
    )
    return out.withColumn(
        "IS_CURRENT", F.when(F.col("VALID_TO").isNull(), 1).otherwise(0)
    )


@renderer("scd2")
def _r_scd2(source, keys, snapshot_col, compare_cols=None, _input_columns=()) -> str:
    from ..errors import TransformRenderingException

    keys = as_list(keys)
    if compare_cols is None:
        if not _input_columns:
            raise TransformRenderingException(
                "rendered scd2 needs compare_cols or the input schema"
            )
        compare_cols = [
            c for c in _input_columns if c not in keys and c != snapshot_col
        ]
    else:
        compare_cols = as_list(compare_cols)
    keys_csv = ", ".join(keys)
    cmp_csv = ", ".join(compare_cols)
    return (
        f"SELECT * FROM ("
        f"WITH __h AS (SELECT {keys_csv}, {snapshot_col}, {cmp_csv}, "
        f"{_render_hash(compare_cols, source)} AS __rh FROM {source}), "
        f"__c AS (SELECT *, LAG(__rh) OVER (PARTITION BY {keys_csv} "
        f"ORDER BY {snapshot_col}) AS __prev FROM __h) "
        f"SELECT {keys_csv}, {cmp_csv}, {snapshot_col} AS VALID_FROM, "
        f"LEAD({snapshot_col}) OVER (PARTITION BY {keys_csv} ORDER BY {snapshot_col}) "
        f"AS VALID_TO, CASE WHEN LEAD({snapshot_col}) OVER (PARTITION BY {keys_csv} "
        f"ORDER BY {snapshot_col}) IS NULL THEN 1 ELSE 0 END AS IS_CURRENT "
        f"FROM __c WHERE __prev IS NULL OR __prev != __rh)"
    )


def _psi_bin_col(d: DataFrame, column: str, bps: list[float]):
    """Bin-id Column for :func:`psi_drift`'s binning contract (bin 0 =
    NULL, bin 1 = below the first edge, bin len(bps)+1 = at/above the
    last)."""
    c = F.col(resolve_col(d, column))
    b = F.lit(1)
    for bp in bps:
        b = b + F.when(c >= F.lit(bp), 1).otherwise(0)
    return F.when(c.isNull(), F.lit(0)).otherwise(b)


def psi_bin_stats(df: DataFrame, column: str, breakpoints) -> dict[int, float]:
    """The EXPECTED side of PSI monitoring, frozen: per-bin proportions of
    the accepted baseline as a plain dict — a bounded collect of at most
    ``len(breakpoints) + 2`` rows. Compute once per corpus release and
    reuse across every micro-batch / incremental check (the amortized
    regime ``stream_psi`` runs in)."""
    bps = [float(b) for b in as_list(breakpoints)]
    if not bps or sorted(bps) != bps:
        raise ParameterException("breakpoints must be a non-empty ascending list")
    rows = (
        df.select(_psi_bin_col(df, column, bps).alias("BIN"))
        .groupBy("BIN")
        .agg(F.count(F.lit(1)).alias("N"))
        .collect()
    )
    total = sum(r["N"] for r in rows)
    if total == 0:
        raise ParameterException("baseline is empty")
    return {int(r["BIN"]): r["N"] / total for r in rows}


def psi_against_stats(
    df: DataFrame,
    column: str,
    breakpoints,
    expected: dict[int, float],
    epsilon: float = 1e-6,
) -> DataFrame:
    """PSI of ``df`` against FROZEN baseline proportions (from
    :func:`psi_bin_stats`) — the per-micro-batch body of ``stream_psi``
    and the incremental-release check. Output matches ``psi_drift`` minus
    the EXPECTED_N count (the baseline is a proportion vector here):
    ``BIN, ACTUAL_N, ACTUAL_PCT, EXPECTED_PCT, PSI_CONTRIB, PSI_TOTAL``.

    Scale: ONE hash aggregate on the bin id; the expected side is a
    ≤ |bins|+1-row literal frame, so everything after the aggregate is
    constant-size."""
    bps = [float(b) for b in as_list(breakpoints)]
    if not bps or sorted(bps) != bps:
        raise ParameterException("breakpoints must be a non-empty ascending list")
    if epsilon <= 0:
        raise ParameterException("epsilon must be > 0")
    if not expected:
        raise ParameterException("expected bin stats are empty")
    spark = df.sparkSession
    exp = spark.createDataFrame(
        [(int(b), float(p)) for b, p in sorted(expected.items())],
        "BIN int, __EXP double",
    )
    a = (
        df.select(_psi_bin_col(df, column, bps).alias("BIN"))
        .groupBy("BIN")
        .agg(F.count(F.lit(1)).alias("ACTUAL_N"))
    )
    j = (
        a.join(exp, "BIN", "full_outer")
        .select(
            "BIN",
            F.coalesce("ACTUAL_N", F.lit(0)).alias("ACTUAL_N"),
            F.coalesce("__EXP", F.lit(0.0)).alias("__EXP"),
        )
    )
    tot_a = F.sum("ACTUAL_N").over(Window.partitionBy())
    pct_a = F.when(tot_a > 0, F.col("ACTUAL_N") / tot_a).otherwise(F.lit(0.0))
    p = F.greatest(pct_a, F.lit(float(epsilon)))
    q = F.greatest(F.col("__EXP"), F.lit(float(epsilon)))
    contrib = F.round((p - q) * F.log(p / q), 6)
    out = j.select(
        "BIN",
        F.col("ACTUAL_N").cast("bigint").alias("ACTUAL_N"),
        F.round(pct_a, 6).alias("ACTUAL_PCT"),
        F.round(F.col("__EXP"), 6).alias("EXPECTED_PCT"),
        contrib.alias("PSI_CONTRIB"),
    )
    return out.withColumn(
        "PSI_TOTAL", F.round(F.sum("PSI_CONTRIB").over(Window.partitionBy()), 6)
    )


@spark_transform("psi_drift_categorical", category="snapshot", streaming_ok=False)
def psi_drift_categorical(
    df: DataFrame,
    other: DataFrame,
    column: str,
    epsilon: float = 1e-6,
) -> DataFrame:
    """:func:`psi_drift` for CATEGORICAL columns — the bin is the value
    itself (language, source, event type, …), the metric and guards are
    identical. NULL becomes the literal category ``<NULL>`` (it is a real
    population segment). Returns one row per category present on either
    side: ``CATEGORY, ACTUAL_N, EXPECTED_N, ACTUAL_PCT, EXPECTED_PCT,
    PSI_CONTRIB, PSI_TOTAL`` (6 dp; total repeated per row).

    Scale: one hash aggregate per side on the category (map-side combine);
    everything after runs on the |categories|-row frame. High-cardinality
    columns are legal but the report is per-category — bucket first (e.g.
    ``bin`` or a hash) if the domain is unbounded."""
    if epsilon <= 0:
        raise ParameterException("epsilon must be > 0")

    def cat(d: DataFrame):  # per-frame resolution: casing may differ
        return F.coalesce(
            F.col(resolve_col(d, column)).cast("string"), F.lit("<NULL>")
        )

    a = (
        df.select(cat(df).alias("CATEGORY"))
        .groupBy("CATEGORY").agg(F.count(F.lit(1)).alias("ACTUAL_N"))
    )
    e = (
        other.select(cat(other).alias("CATEGORY"))
        .groupBy("CATEGORY").agg(F.count(F.lit(1)).alias("EXPECTED_N"))
    )
    j = (
        a.join(e, "CATEGORY", "full_outer")
        .select(
            "CATEGORY",
            F.coalesce("ACTUAL_N", F.lit(0)).alias("ACTUAL_N"),
            F.coalesce("EXPECTED_N", F.lit(0)).alias("EXPECTED_N"),
        )
    )
    return _psi_score_counts(j, [F.col("CATEGORY")], epsilon)


@renderer("psi_drift_categorical")
def _r_psi_drift_categorical(source, other, column, epsilon=1e-6) -> str:
    eps = float(epsilon)
    cat = f"COALESCE(CAST({column} AS STRING), '<NULL>')"
    return (
        f"SELECT * FROM ("
        f"WITH __a AS (SELECT {cat} AS CATEGORY, COUNT(*) AS ACTUAL_N "
        f"FROM {source} GROUP BY 1), "
        f"__e AS (SELECT {cat} AS CATEGORY, COUNT(*) AS EXPECTED_N "
        f"FROM {other} GROUP BY 1), "
        f"__j AS (SELECT COALESCE(__a.CATEGORY, __e.CATEGORY) AS CATEGORY, "
        f"COALESCE(ACTUAL_N, 0) AS ACTUAL_N, COALESCE(EXPECTED_N, 0) AS EXPECTED_N "
        f"FROM __a FULL OUTER JOIN __e ON __a.CATEGORY = __e.CATEGORY), "
        f"__t AS (SELECT *, SUM(ACTUAL_N) OVER () AS __ta, SUM(EXPECTED_N) OVER () AS __te, "
        f"GREATEST(CASE WHEN SUM(ACTUAL_N) OVER () > 0 "
        f"THEN ACTUAL_N / (SUM(ACTUAL_N) OVER () * 1.0) ELSE 0.0 END, {eps!r}) AS __p, "
        f"GREATEST(CASE WHEN SUM(EXPECTED_N) OVER () > 0 "
        f"THEN EXPECTED_N / (SUM(EXPECTED_N) OVER () * 1.0) ELSE 0.0 END, {eps!r}) AS __q "
        f"FROM __j) "
        f"SELECT CATEGORY, CAST(ACTUAL_N AS BIGINT) AS ACTUAL_N, "
        f"CAST(EXPECTED_N AS BIGINT) AS EXPECTED_N, "
        f"ROUND(CASE WHEN __ta > 0 THEN ACTUAL_N / (__ta * 1.0) ELSE 0.0 END, 6) AS ACTUAL_PCT, "
        f"ROUND(CASE WHEN __te > 0 THEN EXPECTED_N / (__te * 1.0) ELSE 0.0 END, 6) AS EXPECTED_PCT, "
        f"ROUND((__p - __q) * LN(__p / __q), 6) AS PSI_CONTRIB, "
        f"ROUND(SUM(ROUND((__p - __q) * LN(__p / __q), 6)) OVER (), 6) AS PSI_TOTAL "
        f"FROM __t)"
    )


@spark_transform("scd2_merge", category="snapshot", streaming_ok=False)
def scd2_merge(
    df: DataFrame,
    snapshot: DataFrame,
    keys,
    snapshot_value,
    compare_cols=None,
) -> DataFrame:
    """Incrementally fold ONE new snapshot into an existing type-2 history
    (the production form of :func:`scd2` — a 100 TB dimension is
    maintained per release, never recomputed from every snapshot ever
    taken). ``df`` is an SCD2 history (``VALID_FROM/VALID_TO/IS_CURRENT``,
    as :func:`scd2` emits); ``snapshot`` is the new keyed snapshot;
    ``snapshot_value`` stamps it and must sort AFTER every VALID_FROM it
    touches (monotone release ids — the same contract a warehouse MERGE
    assumes).

    Semantics (presence-based, exactly :func:`scd2`'s): a key whose
    compared values changed gets its current row closed
    (``VALID_TO = snapshot_value``) and a new current row; an unchanged or
    absent key passes through; a brand-new key inserts as current. The
    invariant ``scd2_merge(scd2(s1..sN), sN+1) == scd2(s1..sN+1)`` is
    pytest-pinned and IS the driver oracle.

    Scale: closed rows pass through untouched (no join); only the
    |keys|-sized current slice joins the snapshot on the key — one hash
    shuffle (AQE broadcasts the smaller side), then a union. Change
    detection uses the same per-column-md5 row hash as ``diff_datasets``."""
    keys = [resolve_col(df, k) for k in as_list(keys)]
    if not keys:
        raise ParameterException("scd2_merge requires at least one key column")
    for c in ("VALID_FROM", "VALID_TO", "IS_CURRENT"):
        if c not in df.columns:
            raise ParameterException(
                f"df is not an SCD2 history (missing {c}); build one with scd2"
            )
    if compare_cols is None:
        compare_cols = [
            c for c in df.columns
            if c not in keys and c not in ("VALID_FROM", "VALID_TO", "IS_CURRENT")
        ]
    else:
        compare_cols = [resolve_col(df, c) for c in as_list(compare_cols)]
    if not compare_cols:
        raise ParameterException("scd2_merge requires at least one compared column")
    for c in keys + compare_cols:
        resolve_col(snapshot, c)
    sv = F.lit(snapshot_value)
    hist_cols = [*keys, *compare_cols, "VALID_FROM", "VALID_TO", "IS_CURRENT"]
    closed = df.filter(F.col("IS_CURRENT") == 0).select(*hist_cols)
    cur = df.filter(F.col("IS_CURRENT") == 1).select(
        *keys, *compare_cols, "VALID_FROM", _row_hash(compare_cols).alias("__h")
    )
    new = snapshot.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__v_{c}") for c in compare_cols],
        _row_hash(compare_cols).alias("__nh"),
    )
    j = cur.join(
        new, on=null_safe_on(keys, [f"__k_{k}" for k in keys]), how="full_outer"
    )
    matched = F.col("__h").isNotNull() & F.col("__nh").isNotNull()
    changed = matched & (F.col("__h") != F.col("__nh"))
    # surviving current rows: untouched keys + unchanged matches
    keep_cur = j.filter(F.col("__nh").isNull() | (matched & ~changed)).select(
        *keys, *compare_cols,
        F.col("VALID_FROM"),
        F.lit(None).cast(df.schema["VALID_TO"].dataType).alias("VALID_TO"),
        F.lit(1).alias("IS_CURRENT"),
    )
    # closed-out versions of changed keys
    close_out = j.filter(changed).select(
        *keys, *compare_cols,
        F.col("VALID_FROM"),
        sv.alias("VALID_TO"),
        F.lit(0).alias("IS_CURRENT"),
    )
    # fresh current rows: changed keys (new values) + brand-new keys
    fresh = j.filter(changed | F.col("__h").isNull()).select(
        *[F.col(f"__k_{k}").alias(k) for k in keys],
        *[F.col(f"__v_{c}").alias(c) for c in compare_cols],
        sv.alias("VALID_FROM"),
        F.lit(None).cast(df.schema["VALID_TO"].dataType).alias("VALID_TO"),
        F.lit(1).alias("IS_CURRENT"),
    )
    return closed.unionByName(keep_cur).unionByName(close_out).unionByName(fresh)


@renderer("scd2_merge")
def _r_scd2_merge(source, snapshot, keys, snapshot_value, compare_cols=None,
                  _input_columns=()) -> str:
    keys = as_list(keys)
    if compare_cols is None:
        compare_cols = [
            c for c in _input_columns
            if c not in keys and c not in ("VALID_FROM", "VALID_TO", "IS_CURRENT")
        ]
    else:
        compare_cols = as_list(compare_cols)
    keys_csv = ", ".join(keys)
    cmp_csv = ", ".join(compare_cols)
    h = _render_hash(compare_cols, "s")
    sv = repr(snapshot_value)
    cur = (
        f"(SELECT {keys_csv}, {cmp_csv}, VALID_FROM, {h} AS __h "
        f"FROM {source} s WHERE IS_CURRENT = 1)"
    )
    new = (
        "(SELECT "
        + ", ".join(f"{k} AS __k_{k}" for k in keys) + ", "
        + ", ".join(f"{c} AS __v_{c}" for c in compare_cols)
        + f", {h} AS __nh FROM {snapshot} s)"
    )
    on = " AND ".join(f"c.{k} <=> n.__k_{k}" for k in keys)
    # every __j column name is unique, so the branches reference them
    # UNQUALIFIED (a per-branch alias could not see the other side)
    matched = "__h IS NOT NULL AND __nh IS NOT NULL"
    nkeys = ", ".join(f"__k_{k} AS {k}" for k in keys)
    ncmp = ", ".join(f"__v_{c} AS {c}" for c in compare_cols)
    return (
        f"SELECT * FROM ("
        f"WITH __j AS (SELECT c.*, "
        + ", ".join(f"n.__k_{k}" for k in keys) + ", "
        + ", ".join(f"n.__v_{c}" for c in compare_cols)
        + f", n.__nh FROM {cur} c FULL OUTER JOIN {new} n ON {on}) "
        f"SELECT {keys_csv}, {cmp_csv}, VALID_FROM, VALID_TO, IS_CURRENT "
        f"FROM {source} WHERE IS_CURRENT = 0 "
        f"UNION ALL "
        f"SELECT {keys_csv}, {cmp_csv}, VALID_FROM, NULL AS VALID_TO, "
        f"1 AS IS_CURRENT FROM __j "
        f"WHERE __nh IS NULL OR ({matched} AND __h = __nh) "
        f"UNION ALL "
        f"SELECT {keys_csv}, {cmp_csv}, VALID_FROM, {sv} AS VALID_TO, "
        f"0 AS IS_CURRENT FROM __j WHERE {matched} AND __h != __nh "
        f"UNION ALL "
        f"SELECT {nkeys}, {ncmp}, {sv} AS VALID_FROM, NULL AS VALID_TO, "
        f"1 AS IS_CURRENT FROM __j "
        f"WHERE (__h IS NULL AND __nh IS NOT NULL) "
        f"OR ({matched} AND __h != __nh))"
    )


@spark_transform("merge_upsert", category="snapshot", streaming_ok=False)
def merge_upsert(
    df: DataFrame,
    snapshot: DataFrame,
    keys,
    delete_missing: bool = False,
) -> DataFrame:
    """Type-1 keyed merge (the warehouse ``MERGE INTO ... WHEN MATCHED
    UPDATE WHEN NOT MATCHED INSERT``): ``snapshot`` rows win on key
    collision, ``df`` rows without a snapshot match pass through (or drop
    when ``delete_missing`` — full-sync semantics). Column sets must match;
    the output keeps ``df``'s column order. The SCD1 sibling of
    :func:`scd2_merge` — use it for mutable dimensions where history
    doesn't matter.

    PRECONDITION: keys should be unique within each side, as warehouse
    ``MERGE INTO`` requires (it errors on duplicate matches). This
    operator does not error; with duplicates it keeps exactly one row per
    key, chosen by (priority, md5-of-row) — deterministic across runs and
    engines, but which duplicate survives is arbitrary. De-duplicate
    first (``remove_duplicates``) if the choice matters.

    Scale: ONE union + one key-window top-1 (priority to the snapshot) —
    a single hash shuffle on the keys; with ``delete_missing`` the pass-
    through side becomes a left-anti join, same shuffle profile. No
    collects.
    """
    from pyspark.sql import Window

    ks = [resolve_col(df, k) for k in as_list(keys)]
    if not ks:
        raise ParameterException("merge_upsert requires at least one key")
    missing = [c for c in df.columns if c not in snapshot.columns]
    if missing:
        raise ParameterException(
            f"snapshot is missing columns {missing} — column sets must match"
        )
    snap = snapshot.select(*df.columns)
    if delete_missing:
        return snap
    tagged = (
        df.withColumn("__pri", F.lit(1))
        .unionByName(snap.withColumn("__pri", F.lit(0)))
    )
    # deterministic tie-break among same-priority duplicate keys: md5 of
    # the null-sentineled string-cast row (same expression the renderer
    # emits), so the survivor is stable across runs and engines instead of
    # whatever row_number happens to see first.
    tb = F.md5(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns],
        )
    )
    w = Window.partitionBy(*ks).orderBy(F.col("__pri").asc(), tb.asc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__pri", "__rn")
    )


@renderer("merge_upsert")
def _r_merge_upsert(source, snapshot, keys, delete_missing=False,
                    _input_columns=()) -> str:
    ks = as_list(keys)
    if not ks:
        raise ParameterException("merge_upsert requires at least one key")
    cols = ", ".join(_input_columns)
    if delete_missing:
        return f"SELECT {cols} FROM {snapshot} s"
    part = ", ".join(ks)
    tb = "md5(concat_ws(chr(31), " + ", ".join(
        f"coalesce(CAST({c} AS STRING), chr(0))" for c in _input_columns
    ) + "))"
    return (
        f"SELECT {cols} FROM ("
        f"SELECT *, ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY __pri, {tb}) AS __rn "
        f"FROM (SELECT {cols}, 1 AS __pri FROM {source} "
        f"UNION ALL SELECT {cols}, 0 AS __pri FROM {snapshot} s)"
        f") WHERE __rn = 1"
    )
