"""Aggregation transforms.

Reference inventory (SURVEY §2.2 "Aggregation"): aggregate (reference
README.md:109-112, tutorial.ipynb:3822 — output naming ``{COL}_{AGG}``),
describe (tutorial.ipynb:3833), timeseries_agg, correlation, entropy,
ratio_with_shrinkage, plus the free Spark capability gains rollup/cube and
approximate distinct (SURVEY §2.3).

Scale notes: every groupBy here is a single hash shuffle with map-side
partial aggregation (Catalyst HashAggregate partial→final); global statistics
are attached via broadcast cross-join of a 1-row aggregate, never via an
unpartitioned window or driver collect.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..naming import cleanse_name, datetrunc_name
from ..registry import renderer, spark_transform
from ._util import agg_columns, agg_sql_cols, as_list, resolve_col, resolve_cols


@spark_transform("aggregate", category="aggregate", streaming_ok=False)
def aggregate(df: DataFrame, group_by, aggregations: dict) -> DataFrame:
    """Hash aggregation, multiple aggs per column, output ``{COL}_{AGG}``
    (reference README.md:109-112; naming tutorial.ipynb:3822)."""
    keys = resolve_cols(df, as_list(group_by))
    cols = agg_columns(df, aggregations)
    if not cols:
        raise ParameterException("aggregations must be a non-empty {col: [aggs]} dict")
    if keys:
        return df.groupBy(*keys).agg(*cols)
    return df.agg(*cols)


@renderer("aggregate")
def _r_aggregate(source, group_by, aggregations: dict) -> str:
    keys = ", ".join(as_list(group_by))
    cols = agg_sql_cols(aggregations)
    if keys:
        return f"SELECT {keys}, {cols} FROM {source} GROUP BY {keys}"
    return f"SELECT {cols} FROM {source}"


@spark_transform("timeseries_agg", category="aggregate", streaming_ok=False)
def timeseries_agg(df: DataFrame, date: str, grain: str, aggregations: dict, group_by=None) -> DataFrame:
    """date_trunc + aggregate fused (SURVEY §2.2 [B]); time column named
    ``{COL}_{GRAIN}``."""
    col = resolve_col(df, date)
    tname = datetrunc_name(col, grain)
    keys = [tname] + resolve_cols(df, as_list(group_by))
    return (
        df.withColumn(tname, F.date_trunc(grain.lower(), F.col(col)))
        .groupBy(*keys)
        .agg(*agg_columns(df, aggregations))
    )


@renderer("timeseries_agg")
def _r_timeseries_agg(source, date, grain, aggregations, group_by=None) -> str:
    tname = datetrunc_name(date, grain)
    keys = ", ".join([tname] + as_list(group_by))
    return (
        f"SELECT DATE_TRUNC('{grain.lower()}', {date}) AS {tname}"
        + ("," + ", ".join(as_list(group_by)) if group_by else "")
        + f", {agg_sql_cols(aggregations)} FROM {source} GROUP BY "
        + (", ".join([f"DATE_TRUNC('{grain.lower()}', {date})"] + as_list(group_by)))
    )


@spark_transform("describe", category="aggregate", streaming_ok=False)
def describe(df: DataFrame, columns=None) -> DataFrame:
    """Per-column summary stats as rows (reference tutorial.ipynb:3833).

    One aggregate pass computes every statistic for every column, then a
    stack() reshapes to one row per column — a single job regardless of
    column count.
    """
    numeric = {c for c, t in df.dtypes if t in ("int", "bigint", "double", "float", "decimal", "smallint", "tinyint") or t.startswith("decimal")}
    cols = resolve_cols(df, as_list(columns)) if columns else [c for c in df.columns if c in numeric]
    if not cols:
        raise ParameterException("no numeric columns to describe")
    aggs = []
    for c in cols:
        cc = F.col(c)
        aggs += [
            F.count(cc).alias(f"{c}__count"),
            F.sum(F.when(cc.isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.min(cc).cast("double").alias(f"{c}__min"),
            F.max(cc).cast("double").alias(f"{c}__max"),
            F.avg(cc).alias(f"{c}__mean"),
            F.stddev_samp(cc).alias(f"{c}__stddev"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__count`, `{c}__nulls`, `{c}__min`, `{c}__max`, `{c}__mean`, `{c}__stddev`"
        for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(COLUMN_NAME, ROW_COUNT, NULL_COUNT, MIN_VALUE, MAX_VALUE, MEAN_VALUE, STDDEV_VALUE)"
        )
    )


@renderer("describe")
def _r_describe(source, columns=None) -> str:
    cols = as_list(columns)
    selects = [
        (
            f"SELECT '{c}' AS COLUMN_NAME, COUNT({c}) AS ROW_COUNT, "
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS NULL_COUNT, "
            f"CAST(MIN({c}) AS DOUBLE) AS MIN_VALUE, CAST(MAX({c}) AS DOUBLE) AS MAX_VALUE, "
            f"AVG({c}) AS MEAN_VALUE, STDDEV_SAMP({c}) AS STDDEV_VALUE FROM {source}"
        )
        for c in cols
    ]
    return " UNION ALL ".join(selects)


@spark_transform("correlation", category="aggregate", streaming_ok=False)
def correlation(df: DataFrame, columns) -> DataFrame:
    """Pairwise Pearson correlations in one aggregate row (SURVEY §2.2 [B]);
    pairs via itertools.combinations mirroring the reference's template env
    (rendering.py:351-355). Output ``{A}_{B}_CORR``."""
    cols = resolve_cols(df, as_list(columns))
    if len(cols) < 2:
        raise ParameterException("correlation needs at least two columns")
    aggs = [
        F.corr(a, b).alias(cleanse_name(f"{a}_{b}_CORR"))
        for a, b in itertools.combinations(cols, 2)
    ]
    return df.agg(*aggs)


@renderer("correlation")
def _r_correlation(source, columns) -> str:
    cols = as_list(columns)
    aggs = ", ".join(
        f"CORR({a}, {b}) AS {cleanse_name(f'{a}_{b}_CORR')}"
        for a, b in itertools.combinations(cols, 2)
    )
    return f"SELECT {aggs} FROM {source}"


@spark_transform("entropy", category="aggregate", streaming_ok=False)
def entropy(df: DataFrame, group_by, column: str) -> DataFrame:
    """Shannon entropy (log2) of ``column``'s distribution per group
    (SURVEY §2.2 [B]). Two chained hash aggregations."""
    keys = resolve_cols(df, as_list(group_by))
    col = resolve_col(df, column)
    counts = df.groupBy(*keys, col).agg(F.count(F.lit(1)).alias("__n"))
    totals = counts.groupBy(*keys).agg(F.sum("__n").alias("__total"))
    p = F.col("__n") / F.col("__total")
    return (
        counts.join(totals, keys)
        .groupBy(*keys)
        .agg((-F.sum(p * F.log2(p))).alias("ENTROPY"))
    )


@renderer("entropy")
def _r_entropy(source, group_by, column) -> str:
    keys = ", ".join(as_list(group_by))
    return (
        f"SELECT {keys}, -SUM(p * LOG2(p)) AS ENTROPY FROM ("
        f"SELECT {keys}, COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY {keys}) AS p "
        f"FROM {source} GROUP BY {keys}, {column}) GROUP BY {keys}"
    )


@spark_transform("mutual_information", category="aggregate", streaming_ok=False)
def mutual_information(df: DataFrame, x: str, y: str) -> DataFrame:
    """Mutual information I(X;Y) in nats between two categorical columns —
    the standard feature-relevance / redundancy screen (Cover & Thomas
    formulation): ``sum_xy p(x,y) * ln(p(x,y) / (p(x) p(y)))``. NULL is a
    regular category (it carries dependence information). Returns one row
    ``(MUTUAL_INFORMATION,)`` rounded to 6 dp.

    Scale: one hash aggregate on (x, y) builds the contingency table; the
    marginals are window sums OVER the contingency frame (|X|·|Y| rows,
    not the fact table), so the facts shuffle exactly once."""
    from pyspark.sql import Window

    cx, cy = resolve_col(df, x), resolve_col(df, y)
    cells = df.groupBy(cx, cy).agg(F.count(F.lit(1)).alias("__n"))
    n_tot = F.sum("__n").over(Window.partitionBy())
    # probabilities as double divisions BEFORE any multiply — bigint
    # products n*N would overflow at extreme row counts
    p_xy = F.col("__n") / n_tot
    p_x = F.sum("__n").over(Window.partitionBy(cx)) / n_tot
    p_y = F.sum("__n").over(Window.partitionBy(cy)) / n_tot
    term = p_xy * F.log(p_xy / (p_x * p_y))
    return (
        cells.select(term.alias("__t"))
        .agg(F.round(F.sum("__t"), 6).alias("MUTUAL_INFORMATION"))
    )


@renderer("mutual_information")
def _r_mutual_information(source, x, y) -> str:
    p_xy = "(__n / (SUM(__n) OVER ()))"
    p_x = f"((SUM(__n) OVER (PARTITION BY {x})) / (SUM(__n) OVER ()))"
    p_y = f"((SUM(__n) OVER (PARTITION BY {y})) / (SUM(__n) OVER ()))"
    return (
        f"SELECT ROUND(SUM(__t), 6) AS MUTUAL_INFORMATION FROM ("
        f"SELECT {p_xy} * LN({p_xy} / ({p_x} * {p_y})) AS __t FROM ("
        f"SELECT {x}, {y}, COUNT(*) AS __n FROM {source} GROUP BY {x}, {y}))"
    )


@spark_transform("ratio_with_shrinkage", category="aggregate", streaming_ok=False)
def ratio_with_shrinkage(
    df: DataFrame, group_by, value: str, k: float = 100.0
) -> DataFrame:
    """Bayesian-smoothed group mean (SURVEY §2.2 [B]):
    ``(sum + k * global_mean) / (count + k)``. Global mean joins in via
    broadcast — no second shuffle of the grouped data."""
    keys = resolve_cols(df, as_list(group_by))
    col = resolve_col(df, value)
    grouped = df.groupBy(*keys).agg(
        F.sum(col).alias("__sum"), F.count(col).alias("__cnt")
    )
    overall = df.agg(F.avg(col).alias("__gmean"))
    name = cleanse_name(f"{col}_SHRUNK_AVG")
    return (
        grouped.crossJoin(F.broadcast(overall))
        .withColumn(name, (F.col("__sum") + k * F.col("__gmean")) / (F.col("__cnt") + k))
        .drop("__sum", "__cnt", "__gmean")
    )


@renderer("ratio_with_shrinkage")
def _r_ratio_with_shrinkage(source, group_by, value, k=100.0) -> str:
    keys = ", ".join(as_list(group_by))
    name = cleanse_name(f"{value}_SHRUNK_AVG")
    return (
        f"SELECT {keys}, (SUM({value}) + {k} * ANY_VALUE(g.__gmean)) / (COUNT({value}) + {k}) AS {name} "
        f"FROM {source} CROSS JOIN (SELECT AVG({value}) AS __gmean FROM {source}) g "
        f"GROUP BY {keys}"
    )


@spark_transform("rollup_agg", category="aggregate", streaming_ok=False)
def rollup_agg(df: DataFrame, group_by, aggregations: dict, mode: str = "rollup") -> DataFrame:
    """ROLLUP / CUBE aggregation with a ``GROUPING_ID`` bitmask column —
    a free Spark capability gain over the reference (SURVEY §2.3)."""
    keys = resolve_cols(df, as_list(group_by))
    cols = agg_columns(df, aggregations)
    grouped = df.rollup(*keys) if mode.lower() == "rollup" else df.cube(*keys)
    return grouped.agg(F.grouping_id().alias("GROUPING_ID"), *cols)


@renderer("rollup_agg")
def _r_rollup_agg(source, group_by, aggregations, mode="rollup") -> str:
    keys = ", ".join(as_list(group_by))
    kw = "ROLLUP" if mode.lower() == "rollup" else "CUBE"
    return (
        f"SELECT {keys}, GROUPING_ID({keys}) AS GROUPING_ID, {agg_sql_cols(aggregations)} "
        f"FROM {source} GROUP BY {kw}({keys})"
    )


@spark_transform("grouping_sets", category="aggregate", streaming_ok=False)
def grouping_sets_agg(df: DataFrame, sets, aggregations: dict) -> DataFrame:
    """Arbitrary GROUPING SETS aggregation with a ``GROUPING_ID`` bitmask
    (SURVEY §2.2 — free Spark capability beyond rollup/cube; arbitrary sets
    were previously unexposed). ``sets`` is a list of key-lists; keys absent
    from a set come back NULL for that grouping. One shuffle — Spark expands
    the sets with a single Expand + HashAggregate, not one scan per set."""
    sets = [resolve_cols(df, as_list(s)) for s in as_list(sets)]
    all_keys: list[str] = []
    for s in sets:
        for k in s:
            if k not in all_keys:
                all_keys.append(k)
    grouped = df.groupingSets(
        [[F.col(c) for c in s] for s in sets], *[F.col(k) for k in all_keys]
    )
    return grouped.agg(F.grouping_id().alias("GROUPING_ID"), *agg_columns(df, aggregations))


@renderer("grouping_sets")
def _r_grouping_sets(source, sets, aggregations) -> str:
    all_keys: list[str] = []
    for s in sets:
        for k in as_list(s):
            if k not in all_keys:
                all_keys.append(k)
    keys = ", ".join(all_keys)
    rendered_sets = ", ".join("(" + ", ".join(as_list(s)) + ")" for s in sets)
    return (
        f"SELECT {keys}, GROUPING_ID({keys}) AS GROUPING_ID, {agg_sql_cols(aggregations)} "
        f"FROM {source} GROUP BY GROUPING SETS ({rendered_sets})"
    )


@spark_transform("approx_distinct", category="aggregate")
def approx_distinct(df: DataFrame, columns, group_by=None, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ approximate distinct counts (SURVEY §2.3 capability
    gain) — the 100 TB substitute for exact COUNT DISTINCT."""
    keys = resolve_cols(df, as_list(group_by))
    aggs = [
        F.approx_count_distinct(resolve_col(df, c), rsd).alias(
            cleanse_name(f"{c}_APPROX_DISTINCT")
        )
        for c in as_list(columns)
    ]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


@renderer("approx_distinct")
def _r_approx_distinct(source, columns, group_by=None, rsd=0.05) -> str:
    keys = as_list(group_by)
    aggs = ", ".join(
        f"APPROX_COUNT_DISTINCT({c}, {rsd}) AS {cleanse_name(f'{c}_APPROX_DISTINCT')}"
        for c in as_list(columns)
    )
    if keys:
        k = ", ".join(keys)
        return f"SELECT {k}, {aggs} FROM {source} GROUP BY {k}"
    return f"SELECT {aggs} FROM {source}"


@spark_transform("skew_report", category="aggregate", streaming_ok=False)
def skew_report(df: DataFrame, keys, top_k: int = 3, round_to: int = 6) -> DataFrame:
    """Key-distribution skew diagnostic — the pre-flight check before any
    big groupBy/join on ``keys`` at scale: one summary row with ``N_ROWS``,
    ``N_KEYS``, ``MAX_COUNT``, ``AVG_COUNT``, ``SKEW_RATIO`` (max/avg — 1.0
    is perfectly uniform; hundreds means salt the key or expect a straggler
    task), and ``TOP_KEYS`` (the ``top_k`` heaviest keys as 'key:count',
    count desc, key asc — the candidates for salting or broadcast
    isolation).

    Scale: one hash aggregation on the key (partial+final), then bounded
    single-row aggregates and a TakeOrdered top-k over the (already
    key-cardinality-sized) count table. Nothing collects to the driver.
    """
    key_cols = resolve_cols(df, as_list(keys))
    kexpr = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in key_cols])
    counts = df.groupBy(kexpr.alias("__k")).agg(F.count(F.lit(1)).alias("__c"))
    stats = counts.agg(
        F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("N_ROWS"),
        F.count(F.lit(1)).cast("bigint").alias("N_KEYS"),
        F.coalesce(F.max("__c"), F.lit(0)).cast("bigint").alias("MAX_COUNT"),
        F.round(F.coalesce(F.avg("__c"), F.lit(0.0)), round_to).alias("AVG_COUNT"),
        F.round(
            F.coalesce(F.max("__c") / F.avg("__c"), F.lit(0.0)), round_to
        ).alias("SKEW_RATIO"),
    )
    item = F.struct(
        (-F.col("__c")).alias("nc"), F.col("__k").alias("k"), F.col("__c").alias("c")
    )
    # array_sort of (-count, key) structs = count desc, key asc — the order
    # is enforced AFTER collect_list, so it never depends on partitioning
    tops = (
        counts.orderBy(F.col("__c").desc(), F.col("__k").asc())
        .limit(top_k)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(item)),
                    lambda st: F.concat_ws(":", st["k"], st["c"].cast("string")),
                ),
                ",",
            ).alias("TOP_KEYS")
        )
    )
    return stats.crossJoin(F.broadcast(tops))


@renderer("skew_report")
def _r_skew_report(source, keys, top_k=3, round_to=6) -> str:
    ks = as_list(keys)
    kexpr = "concat_ws('\\u001f', " + ", ".join(f"CAST({k} AS STRING)" for k in ks) + ")"
    counts = f"SELECT {kexpr} AS __k, count(1) AS __c FROM {source} GROUP BY {kexpr}"
    stats = (
        f"SELECT CAST(sum(__c) AS BIGINT) AS N_ROWS, "
        f"CAST(count(1) AS BIGINT) AS N_KEYS, "
        f"CAST(max(__c) AS BIGINT) AS MAX_COUNT, "
        f"ROUND(avg(__c), {round_to}) AS AVG_COUNT, "
        f"ROUND(max(__c) / avg(__c), {round_to}) AS SKEW_RATIO FROM ({counts})"
    )
    tops = (
        f"SELECT array_join(transform(array_sort(collect_list("
        f"named_struct('nc', -__c, 'k', __k, 'c', __c))), "
        f"s -> concat_ws(':', s.k, CAST(s.c AS STRING))), ',') "
        f"AS TOP_KEYS FROM (SELECT * FROM ({counts}) ORDER BY __c DESC, __k ASC LIMIT {top_k})"
    )
    return f"SELECT * FROM ({stats}) CROSS JOIN ({tops})"
