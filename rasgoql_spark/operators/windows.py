"""Window transforms.

Reference inventory (SURVEY §2.2 "Window functions"): lag/lead (reference
tutorial.ipynb:4235,4754 — negative amounts are leads), moving_avg
(tutorial.ipynb:4630, names ``MEAN_{COL}_{W}``), rolling_agg (README.md:
148-153, ``offsets`` frame bounds), order (tutorial.ipynb:1667), rank,
cumulative_agg, rsi, sliding_slope.

Scale notes: a partitioned window is one hash shuffle on the partition keys
plus an in-partition sort. Unpartitioned windows (global order) funnel all
rows through ONE task — faithful to the reference's semantics but flagged in
each docstring; callers at scale should pass partition keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..naming import cleanse_name, lag_name, moving_avg_name
from ..registry import renderer, spark_transform
from ._util import (
    agg_expr,
    agg_sql,
    as_list,
    bucketed_global_rank,
    ntile_from_rownumber,
    order_spec,
    order_sql,
    over_sql,
    resolve_col,
    resolve_cols,
    window_spec,
)


@spark_transform("lag", category="window", streaming_ok=False)
def lag(df: DataFrame, columns, amounts, order_by, partition=None) -> DataFrame:
    """LAG/LEAD columns, one per (column, amount); negative amounts are leads
    (reference tutorial.ipynb:4235; amounts=[-1] used as a forecasting target
    at tutorial.ipynb:4754). Names ``LAG_{COL}_{N}`` / ``LEAD_{COL}_{N}``."""
    w = window_spec(df, partition, order_by)
    out = {}
    for col in resolve_cols(df, as_list(columns)):
        for n in as_list(amounts):
            fn = F.lag(col, n) if n >= 0 else F.lead(col, -n)
            out[lag_name(col, n)] = fn.over(w)
    return df.withColumns(out)


@renderer("lag")
def _r_lag(source, columns, amounts, order_by, partition=None) -> str:
    over = over_sql(partition, order_by)
    cols = ", ".join(
        (
            f"LAG({c}, {n}) OVER ({over}) AS {lag_name(c, n)}"
            if n >= 0
            else f"LEAD({c}, {-n}) OVER ({over}) AS {lag_name(c, n)}"
        )
        for c in as_list(columns)
        for n in as_list(amounts)
    )
    return f"SELECT *, {cols} FROM {source}"


@spark_transform("moving_avg", category="window", streaming_ok=False)
def moving_avg(df: DataFrame, input_columns, window_sizes, order_by, partition=None) -> DataFrame:
    """Trailing mean over W rows, named ``MEAN_{COL}_{W}`` (reference
    tutorial.ipynb:4630). Frame = ROWS BETWEEN W-1 PRECEDING AND CURRENT."""
    w = window_spec(df, partition, order_by)
    out = {}
    for col in resolve_cols(df, as_list(input_columns)):
        for size in as_list(window_sizes):
            frame = w.rowsBetween(-(size - 1), Window.currentRow)
            out[moving_avg_name(col, size)] = F.avg(col).over(frame)
    return df.withColumns(out)


@renderer("moving_avg")
def _r_moving_avg(source, input_columns, window_sizes, order_by, partition=None) -> str:
    over = over_sql(partition, order_by)
    cols = ", ".join(
        f"AVG({c}) OVER ({over} ROWS BETWEEN {s - 1} PRECEDING AND CURRENT ROW) "
        f"AS {moving_avg_name(c, s)}"
        for c in as_list(input_columns)
        for s in as_list(window_sizes)
    )
    return f"SELECT *, {cols} FROM {source}"


def _frame_name(col: str, agg: str, lo: int, hi: int) -> str:
    return cleanse_name(f"{col}_{agg}_{lo}_{hi}")


def _bound_sql(n: int) -> str:
    if n < 0:
        return f"{-n} PRECEDING"
    if n == 0:
        return "CURRENT ROW"
    return f"{n} FOLLOWING"


@spark_transform("rolling_agg", category="window", streaming_ok=False)
def rolling_agg(
    df: DataFrame, aggregations: dict, order_by, offsets, group_by=None,
    frame: str = "rows",
) -> DataFrame:
    """Aggregates over a ±offset frame around the current row (reference
    README.md:148-153: ``offsets=[-7, 7]``). ``frame='rows'`` counts rows;
    ``frame='range'`` uses value offsets over a single numeric order column
    (SURVEY §2.2 frame-specs row). Output ``{COL}_{AGG}_{LO}_{HI}``."""
    offsets = as_list(offsets)
    if len(offsets) != 2:
        raise ParameterException("offsets must be [lower, upper]")
    lo, hi = int(offsets[0]), int(offsets[1])
    w = window_spec(df, group_by, order_by)
    if frame == "rows":
        w = w.rowsBetween(lo, hi)
    elif frame == "range":
        if isinstance(order_by, (list, tuple)) and len(order_by) != 1:
            raise ParameterException("frame='range' needs exactly one numeric order column")
        w = w.rangeBetween(lo, hi)
    else:
        raise ParameterException("frame must be 'rows' or 'range'")
    out = {}
    for col, aggs in aggregations.items():
        col = resolve_col(df, col)
        for agg in as_list(aggs):
            out[_frame_name(col, agg, lo, hi)] = agg_expr(agg, col).over(w)
    return df.withColumns(out)


@renderer("rolling_agg")
def _r_rolling_agg(source, aggregations, order_by, offsets, group_by=None,
                   frame: str = "rows") -> str:
    lo, hi = int(offsets[0]), int(offsets[1])
    over = over_sql(group_by, order_by)
    kind = "ROWS" if frame == "rows" else "RANGE"
    frame_sql = f"{kind} BETWEEN {_bound_sql(lo)} AND {_bound_sql(hi)}"
    cols = ", ".join(
        f"{agg_sql(a, c)} OVER ({over} {frame_sql}) AS {_frame_name(c, a, lo, hi)}"
        for c, aggs in aggregations.items()
        for a in as_list(aggs)
    )
    return f"SELECT *, {cols} FROM {source}"


@spark_transform("cumulative_agg", category="window", streaming_ok=False)
def cumulative_agg(df: DataFrame, aggregations: dict, order_by, group_by=None) -> DataFrame:
    """Running aggregates (SURVEY §2.2 [B]): frame = UNBOUNDED PRECEDING →
    CURRENT ROW. Output ``{COL}_CUMULATIVE_{AGG}``."""
    w = window_spec(df, group_by, order_by).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = {}
    for col, aggs in aggregations.items():
        col = resolve_col(df, col)
        for agg in as_list(aggs):
            out[cleanse_name(f"{col}_CUMULATIVE_{agg}")] = agg_expr(agg, col).over(w)
    return df.withColumns(out)


@renderer("cumulative_agg")
def _r_cumulative_agg(source, aggregations, order_by, group_by=None) -> str:
    over = over_sql(group_by, order_by)
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    cols = ", ".join(
        f"{agg_sql(a, c)} OVER ({over} {frame}) AS {cleanse_name(f'{c}_CUMULATIVE_{a}')}"
        for c, aggs in aggregations.items()
        for a in as_list(aggs)
    )
    return f"SELECT *, {cols} FROM {source}"


@spark_transform("order", category="window", streaming_ok=False)
def order(df: DataFrame, order_by) -> DataFrame:
    """Global ORDER BY (reference tutorial.ipynb:1667). Spark plans this as a
    RANGE exchange + per-partition sort — fully parallel (not a single-task
    funnel; only rank-style windows have that problem). For top-N prefer
    ``top`` (TakeOrderedAndProject — skips sorting the tail entirely)."""
    return df.orderBy(*order_spec(df, order_by))


@renderer("order")
def _r_order(source, order_by) -> str:
    return f"SELECT * FROM {source} ORDER BY {order_sql(order_by)}"


_RANKS = {
    "rank": F.rank,
    "dense_rank": F.dense_rank,
    "row_number": F.row_number,
    "percent_rank": F.percent_rank,
}


def _global_rank_variant(df: DataFrame, order_by, m: str, name: str) -> DataFrame | None:
    """Unpartitioned ranks via the bucketed scale path (operators/_util.py) —
    None when the windowed plan is the right one (small input / no proxy)."""
    if m.startswith("ntile"):
        nt = int(m.split("_")[-1]) if "_" in m else 4
        res = bucketed_global_rank(df, order_by, "row_number")
        if res is None:
            return None
        ranked, n = res
        tile = ntile_from_rownumber(F.col("__grank") - 1, n, nt)
        return ranked.withColumn(name, tile).drop("__grank")
    if m == "percent_rank":
        res = bucketed_global_rank(df, order_by, "rank")
        if res is None:
            return None
        ranked, n = res
        pr = (
            (F.col("__grank") - 1).cast("double") / F.lit(float(n - 1))
            if n > 1
            else F.lit(0.0)
        )
        return ranked.withColumn(name, pr).drop("__grank")
    if m in ("rank", "dense_rank", "row_number"):
        res = bucketed_global_rank(df, order_by, m)
        if res is None:
            return None
        return res[0].withColumnRenamed("__grank", name)
    return None


@spark_transform("rank", category="window", streaming_ok=False)
def rank(
    df: DataFrame, order_by, partition=None, method: str = "rank", name: str | None = None
) -> DataFrame:
    """rank / dense_rank / row_number / percent_rank / ntile-N (SURVEY §2.2 [B]).

    Unpartitioned ranks on multi-partition inputs route through the bucketed
    global-rank path (no single-task window — see operators/_util.py)."""
    m = method.lower()
    name = name or cleanse_name(m)
    if m not in _RANKS and not m.startswith("ntile"):
        raise ParameterException(f"method must be one of {sorted(_RANKS)} or 'ntile_N'")
    if not as_list(partition):
        out = _global_rank_variant(df, order_by, m, name)
        if out is not None:
            return out
    w = window_spec(df, partition, order_by)
    if m.startswith("ntile"):
        n = int(m.split("_")[-1]) if "_" in m else 4
        return df.withColumn(name, F.ntile(n).over(w))
    return df.withColumn(name, _RANKS[m]().over(w))


@renderer("rank")
def _r_rank(source, order_by, partition=None, method="rank", name=None) -> str:
    m = method.lower()
    name = name or cleanse_name(m)
    over = over_sql(partition, order_by)
    if m.startswith("ntile"):
        n = int(m.split("_")[-1]) if "_" in m else 4
        fn = f"NTILE({n})"
    else:
        fn = f"{m.upper()}()"
    return f"SELECT *, {fn} OVER ({over}) AS {name} FROM {source}"


@spark_transform("rsi", category="window", streaming_ok=False)
def rsi(df: DataFrame, column: str, order_by, periods: int = 14, partition=None) -> DataFrame:
    """Relative Strength Index over a trailing simple-average window
    (SURVEY §2.2 [B]; SMA variant, not Wilder smoothing — documented).
    Output ``RSI_{COL}_{N}``."""
    col = resolve_col(df, column)
    w = window_spec(df, partition, order_by)
    frame = w.rowsBetween(-(periods - 1), Window.currentRow)
    delta = F.col(col) - F.lag(col, 1).over(w)
    name = cleanse_name(f"RSI_{col}_{periods}")
    df = df.withColumn("__gain", F.greatest(delta, F.lit(0.0))).withColumn(
        "__loss", F.greatest(-delta, F.lit(0.0))
    )
    avg_gain, avg_loss = F.avg("__gain").over(frame), F.avg("__loss").over(frame)
    out = (
        F.when(avg_loss == 0, F.lit(100.0))
        .otherwise(100.0 - 100.0 / (1.0 + avg_gain / avg_loss))
    )
    return df.withColumn(name, out).drop("__gain", "__loss")


@renderer("rsi")
def _r_rsi(source, column, order_by, periods=14, partition=None) -> str:
    name = cleanse_name(f"RSI_{column}_{periods}")
    over = over_sql(partition, order_by)
    frame = f"{over} ROWS BETWEEN {periods - 1} PRECEDING AND CURRENT ROW"
    delta = f"({column} - LAG({column}, 1) OVER ({over}))"
    ag, al = f"AVG(__gain) OVER ({frame})", f"AVG(__loss) OVER ({frame})"
    return (
        f"SELECT * EXCEPT (__gain, __loss), CASE WHEN {al} = 0 THEN 100.0 "
        f"ELSE 100.0 - 100.0 / (1.0 + {ag} / {al}) END AS {name} FROM "
        f"(SELECT *, GREATEST({delta}, 0.0) AS __gain, "
        f"GREATEST(-{delta}, 0.0) AS __loss FROM {source})"
    )


@spark_transform("sliding_slope", category="window", streaming_ok=False)
def sliding_slope(
    df: DataFrame, x: str, y: str, window_size: int, order_by, partition=None
) -> DataFrame:
    """Rolling OLS slope of y on x over a trailing W-row frame (SURVEY §2.2
    [B]): ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` from windowed sums — pure
    JVM arithmetic, no UDF. Output ``SLOPE_{Y}_{W}``."""
    xc, yc = resolve_col(df, x), resolve_col(df, y)
    frame = window_spec(df, partition, order_by).rowsBetween(-(window_size - 1), Window.currentRow)
    xd = F.col(xc).cast("double")
    yd = F.col(yc).cast("double")
    n = F.count(F.lit(1)).over(frame).cast("double")
    sx = F.sum(xd).over(frame)
    sy = F.sum(yd).over(frame)
    sxy = F.sum(xd * yd).over(frame)
    sxx = F.sum(xd * xd).over(frame)
    denom = n * sxx - sx * sx
    name = cleanse_name(f"SLOPE_{yc}_{window_size}")
    return df.withColumn(name, F.when(denom != 0, (n * sxy - sx * sy) / denom))


@renderer("sliding_slope")
def _r_sliding_slope(source, x, y, window_size, order_by, partition=None) -> str:
    name = cleanse_name(f"SLOPE_{y}_{window_size}")
    frame = (
        f"{over_sql(partition, order_by)} "
        f"ROWS BETWEEN {window_size - 1} PRECEDING AND CURRENT ROW"
    )
    xd, yd = f"CAST({x} AS DOUBLE)", f"CAST({y} AS DOUBLE)"
    n = f"CAST(COUNT(1) OVER ({frame}) AS DOUBLE)"
    sx = f"SUM({xd}) OVER ({frame})"
    sy = f"SUM({yd}) OVER ({frame})"
    sxy = f"SUM({xd} * {yd}) OVER ({frame})"
    sxx = f"SUM({xd} * {xd}) OVER ({frame})"
    denom = f"({n} * {sxx} - {sx} * {sx})"
    return (
        f"SELECT *, CASE WHEN {denom} != 0 THEN "
        f"({n} * {sxy} - {sx} * {sy}) / {denom} END AS {name} FROM {source}"
    )
