"""Shared helpers for operator implementations."""

from __future__ import annotations

from functools import reduce
from typing import Iterable

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..naming import agg_name

# Bounded-action cap for data-dependent transforms (pivot/encoder value
# discovery). Mirrors the reference's RUN_QUERY_LIMIT precedent
# (reference rasgoql/rasgoql/primitives/rendering.py:24) scaled up for
# real cardinalities; a transform that would collect more than this many
# distinct values errors out instead of melting the driver at 100 TB.
DISCOVERY_LIMIT = 10_000


def resolve_col(df: DataFrame, name: str) -> str:
    """Case-insensitive column resolution → actual column name."""
    if name in df.columns:
        return name
    lowered = {c.lower(): c for c in df.columns}
    actual = lowered.get(name.lower())
    if actual is None:
        raise ParameterException(
            f"column {name!r} not found; available: {', '.join(df.columns)}"
        )
    return actual


def resolve_cols(df: DataFrame, names: Iterable[str]) -> list[str]:
    return [resolve_col(df, n) for n in names]


def order_spec(df: DataFrame, order_by) -> list[Column]:
    """Build ORDER BY columns from a list of names or {name: 'ASC'|'DESC'}."""
    if order_by is None:
        raise ParameterException("order_by is required")
    if isinstance(order_by, dict):
        out = []
        for c, direction in order_by.items():
            col = F.col(resolve_col(df, c))
            d = str(direction).upper()
            if d.startswith("DESC"):
                out.append(col.desc())
            elif d.startswith("ASC"):
                out.append(col.asc())
            else:
                raise ParameterException(f"bad sort direction {direction!r} for {c!r}")
        return out
    if isinstance(order_by, str):
        order_by = [order_by]
    return [F.col(resolve_col(df, c)).asc() for c in order_by]


def order_sql(order_by) -> str:
    """Render an order_by arg as SQL text."""
    if isinstance(order_by, dict):
        return ", ".join(f"{c} {str(d).upper()}" for c, d in order_by.items())
    if isinstance(order_by, str):
        return order_by
    return ", ".join(order_by)


def window_spec(df: DataFrame, partition, order_by) -> WindowSpec:
    """The ordered window of the window and time-series families: partitioned
    by ``partition`` (one global partition when empty), ordered by
    ``order_by``."""
    keys = resolve_cols(df, as_list(partition))
    w = Window.partitionBy(*keys) if keys else Window.partitionBy()
    return w.orderBy(*order_spec(df, order_by))


def over_sql(partition, order_by) -> str:
    """SQL text of :func:`window_spec`'s ``OVER (...)`` body."""
    part = f"PARTITION BY {', '.join(as_list(partition))} " if as_list(partition) else ""
    return f"{part}ORDER BY {order_sql(order_by)}"


# Aggregate name → column-expression builder. COUNT DISTINCT follows the
# reference's space-separated spelling (SURVEY §2.2 aggregate row).
_AGGS = {
    "SUM": F.sum,
    "MIN": F.min,
    "MAX": F.max,
    "AVG": F.avg,
    "MEAN": F.avg,
    "COUNT": F.count,
    "COUNT DISTINCT": lambda c: F.count_distinct(F.col(c) if isinstance(c, str) else c),
    "COUNT_DISTINCT": lambda c: F.count_distinct(F.col(c) if isinstance(c, str) else c),
    "STDDEV": F.stddev_samp,
    "STDDEV_POP": F.stddev_pop,
    "VARIANCE": F.var_samp,
    "MEDIAN": F.median,
}


def agg_expr(agg: str, col) -> Column:
    fn = _AGGS.get(agg.upper())
    if fn is None:
        raise ParameterException(
            f"unsupported aggregation {agg!r}; supported: {', '.join(sorted(_AGGS))}"
        )
    return fn(col)


def agg_sql(agg: str, col: str) -> str:
    a = agg.upper()
    if a in ("COUNT DISTINCT", "COUNT_DISTINCT"):
        return f"COUNT(DISTINCT {col})"
    if a == "MEAN":
        return f"AVG({col})"
    if a == "STDDEV":
        return f"STDDEV_SAMP({col})"
    if a == "VARIANCE":
        return f"VAR_SAMP({col})"
    return f"{a}({col})"


def agg_columns(df: DataFrame, aggregations: dict) -> list:
    """``{col: [aggs]}`` → aggregate columns named ``{COL}_{AGG}``."""
    out = []
    for col, aggs in aggregations.items():
        col = resolve_col(df, col)
        for agg in as_list(aggs):
            out.append(agg_expr(agg, col).alias(agg_name(col, agg)))
    return out


def agg_sql_cols(aggregations: dict) -> str:
    """SQL text of :func:`agg_columns`."""
    return ", ".join(
        f"{agg_sql(agg, col)} AS {agg_name(col, agg)}"
        for col, aggs in aggregations.items()
        for agg in as_list(aggs)
    )


def null_safe_on(keys, right_keys) -> Column:
    """``k1 <=> r1 AND k2 <=> r2 ...``: a NULL key matches a NULL key, so a
    NULL group is a real group (the renderers' ``<=>`` convention)."""
    return reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(r)) for k, r in zip(keys, right_keys)],
    )


def null_safe_join(left: DataFrame, right: DataFrame, keys) -> DataFrame:
    """Left-join ``right``'s per-group columns onto ``left``, null-safely on
    the ``keys`` both sides carry. The right side's keys are staged under
    aliases and dropped after the join, so the output holds ``left``'s
    columns and ``right``'s non-key columns once. With no keys it is a
    cross join against a broadcast ``right`` (one row: a global aggregate).
    A hint on ``right`` (``F.broadcast``) carries through."""
    if not keys:
        return left.crossJoin(F.broadcast(right))
    staged = [f"__nsk_{i}" for i in range(len(keys))]
    right = right.select(
        *[F.col(k).alias(s) for k, s in zip(keys, staged)],
        *[c for c in right.columns if c not in keys],
    )
    return left.join(right, null_safe_on(keys, staged), "left").drop(*staged)


_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def order_names_dirs(df: DataFrame, order_by) -> list[tuple[str, bool]]:
    """order_by arg → [(column, is_desc)]."""
    if isinstance(order_by, dict):
        return [
            (resolve_col(df, c), str(d).upper().startswith("DESC"))
            for c, d in order_by.items()
        ]
    return [(resolve_col(df, c), False) for c in as_list(order_by)]


def _order_proxy(df: DataFrame, first: str):
    """Monotone numeric proxy of a column (None if the type has no cheap
    order-preserving numeric mapping). Equal keys map to equal proxies, so
    range-bucketing on the proxy never splits ties."""
    dtype = dict(df.dtypes)[first]
    if dtype.startswith(_NUMERIC_PREFIXES):
        return F.col(first).cast("double")
    if dtype == "timestamp":
        return F.unix_micros(F.col(first)).cast("double")
    if dtype == "timestamp_ntz":
        # wall-clock decomposition — tz-free and monotone for NTZ (sub-second
        # collisions just share a bucket; in-bucket sort uses the real key)
        c = F.col(first)
        return (
            F.unix_date(c.cast("date")).cast("double") * 86400.0
            + F.hour(c) * 3600.0
            + F.minute(c) * 60.0
            + F.second(c)
        )
    if dtype == "date":
        return F.unix_date(F.col(first)).cast("double")
    return None


def bucketed_global_rank(df: DataFrame, order_by, method: str = "rank"):
    """Global rank WITHOUT a single-partition window, or None when the
    windowed form is the right plan (small input / no orderable proxy).

    Returns ``(df + '__grank' (1-based int), n_rows)``. Range buckets come
    from approxQuantile boundaries on the leading key's monotone proxy
    (equal keys share a bucket → ties never straddle buckets); per-bucket
    counts (rank/row_number) or distinct-key counts (dense_rank) give each
    bucket's exclusive offset; global rank = offset + in-bucket window
    function over the full order spec. Three parallel jobs, no single-task
    Exchange — survives 100 TB. ``method ∈ {rank, dense_rank, row_number}``.
    """
    pairs = order_names_dirs(df, order_by)
    first, first_desc = pairs[0]
    proxy = _order_proxy(df, first)
    if proxy is None or df.rdd.getNumPartitions() <= 4:
        return None
    sc = df.sparkSession.sparkContext
    nbuckets = min(max(sc.defaultParallelism, 1), 200)
    probs = [i / nbuckets for i in range(1, nbuckets)]
    keyed = df.withColumn("__gr_key", proxy)
    # coarse eps: boundaries only balance buckets, never affect correctness
    bounds = sorted(set(keyed.stat.approxQuantile("__gr_key", probs, 0.01))) if probs else []
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        # bucket id = #boundaries strictly below the key → equal keys share a
        # bucket; NULL keys → bucket 0 (asc NULLS FIRST / desc NULLS LAST
        # both resolve via the in-bucket sort)
        bucket = F.size(F.filter(barr, lambda b: b < F.col("__gr_key")))
    else:
        bucket = F.lit(0)
    bdf = keyed.withColumn("__gr_bucket", bucket).drop("__gr_key")
    ordkeys = [p[0] for p in pairs]
    aggs = [F.count(F.lit(1)).alias("__c")]
    if method == "dense_rank":
        aggs.append(F.count_distinct(F.struct(*ordkeys)).alias("__d"))
    stats = bdf.groupBy("__gr_bucket").agg(*aggs).collect()
    if not stats:  # empty input — the windowed form is trivially correct
        return None
    counts = {r["__gr_bucket"]: r["__c"] for r in stats}
    sizes = (
        {r["__gr_bucket"]: r["__d"] for r in stats}
        if method == "dense_rank"
        else counts
    )
    n = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(sizes, reverse=first_desc):
        offsets[b] = acc
        acc += sizes[b]
    offmap = F.create_map(*[F.lit(x) for b, off in offsets.items() for x in (b, off)])
    fns = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number}
    w = Window.partitionBy("__gr_bucket").orderBy(*order_spec(df, order_by))
    # int, matching Spark's own window-function range (rank is int-bounded)
    grank = (fns[method]().over(w) + offmap[F.col("__gr_bucket")]).cast("int")
    return bdf.withColumn("__grank", grank).drop("__gr_bucket"), n


def ntile_from_rownumber(r0: Column, n: int, buckets: int) -> Column:
    """NTILE(buckets) from a 0-based global row_number and known row count —
    Spark's exact semantics: the first n % buckets tiles get one extra row."""
    base, rem = divmod(n, buckets)
    if base == 0:
        return (r0 + 1).cast("int")  # fewer rows than tiles: one row each
    big = rem * (base + 1)
    return (
        F.when(r0 < big, F.floor(r0 / (base + 1))).otherwise(
            rem + F.floor((r0 - big) / base)
        )
        + 1
    ).cast("int")


def spread(df: DataFrame) -> DataFrame:
    """Ensure enough partitions to engage every core before a CPU-heavy
    row-local pipeline (hash signatures, vector math): small inputs often
    arrive as 1-2 parquet splits (or AQE-coalesced post-shuffle reads),
    which would serialize the whole pipeline on one task. Repartitioning a
    small input is cheap; big inputs pass through untouched (at 100 TB the
    branch never triggers — scans come pre-split and shuffles stay wide).

    The decision runs no Spark job. It reads Catalyst's size ESTIMATE of
    the optimized plan, which py4j hands back as a Python ``int`` (the
    ``str`` round trip also accepts a JVM ``BigInt``). It never asks
    ``.rdd`` for the partition count: under AQE, ``.rdd`` on a mid-chain
    frame EXECUTES every upstream shuffle stage just to learn that count,
    and those stages then re-execute in the final query (a separate
    QueryExecution — no exchange reuse across the two). The
    threshold — parallelism x 32 MB — is scale-adaptive: row-local
    hash/vector work wants every core well below the ~64 MB-per-partition
    layout that byte-oriented AQE sizing targets, while anything estimated
    beyond it already has the parallelism. An unreadable estimate is
    treated as small: one repartition is cheap, a job is not.
    Overestimates (post-filter stats) only skip a repartition AQE sizing
    then handles; underestimates only add one small shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:
        est = 0
    if est <= target * 32 * 1024 * 1024:
        return df.repartition(target)
    return df


def with_columns_sql(source: str, exprs: dict, input_columns) -> str:
    """SQL mirror of ``df.withColumns(exprs)``: a column whose name matches an
    existing input column (case-insensitively) is REPLACED in place under the
    new name; genuinely new columns append in order. Falls back to
    ``SELECT *, ...`` when the input schema is unknown."""
    if not input_columns:
        appended = ", ".join(f"{e} AS {k}" for k, e in exprs.items())
        return f"SELECT *, {appended} FROM {source}"
    lower_new = {k.lower(): k for k in exprs}
    cols, used = [], set()
    for c in input_columns:
        k = lower_new.get(c.lower())
        if k is not None:
            cols.append(f"{exprs[k]} AS {k}")
            used.add(k)
        else:
            cols.append(c)
    for k, e in exprs.items():
        if k not in used:
            cols.append(f"{e} AS {k}")
    return f"SELECT {', '.join(cols)} FROM {source}"


def as_list(x) -> list:
    if x is None:
        return []
    if isinstance(x, (list, tuple)):
        return list(x)
    return [x]
