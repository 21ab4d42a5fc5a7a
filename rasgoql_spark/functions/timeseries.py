"""Time-series analytics over ordered event streams.

The reference's window family (SURVEY §2.2: moving_avg, rolling_agg, rsi,
sliding_slope — reference README.md:148-153, tutorial.ipynb:4630) stops at
frame aggregates; production telemetry and training-data pipelines also need
the classical time-series quartet: exponential smoothing, rolling-z anomaly
flags, changepoint location, and seasonal decomposition. All four are pure
window/aggregate compositions — no UDFs, no driver loops — so Catalyst sees
one hash-shuffle on the partition keys plus an in-partition sort, exactly the
moving_avg plan shape, and every operator replays as ANSI SQL for the oracle.

Determinism contract (same idea as graph.pagerank): intermediates that feed
comparisons or further arithmetic are rounded to ``round_to`` decimals, so
running-sum association order can never flip a downstream result between
engines.

100 TB design: every operator here is a windowed projection — the only
shuffle is the partition-key hash (skew = one user's events, handled by AQE);
no collects, no Python on data, whole-stage-codegen throughout. Unpartitioned
calls funnel one task (flagged per docstring), matching the window family's
existing contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..errors import ParameterException
from ..naming import cleanse_name
from ..operators._util import (
    as_list,
    null_safe_join,
    order_spec,
    order_sql,
    over_sql,
    resolve_col,
    resolve_cols,
    window_spec,
)
from ..registry import renderer, spark_transform

EWMA_MAX_SPAN = 64


# --------------------------------------------------------------------------
# EWMA
# --------------------------------------------------------------------------

@spark_transform("ewma", category="timeseries", streaming_ok=False)
def ewma(
    df: DataFrame,
    value_col: str,
    order_by,
    alpha: float,
    partition=None,
    span: int = 16,
    round_to: int = 6,
) -> DataFrame:
    """Truncated exponentially weighted moving average.

    ``EWMA_{COL}`` at row t is the weight-normalized mean of the current and
    previous ``span-1`` rows with weights ``w_i = (1-alpha)^i`` (i = distance
    back; pandas ``ewm(adjust=True)`` semantics truncated at ``span``).
    Truncation makes the recursion a FIXED linear combination of lags, so the
    whole operator is one window projection — exactly replayable as SQL and
    free of the overflow the closed-form ``(1-alpha)^-t`` cumsum trick hits on
    long partitions. With the default span=16 the dropped tail weight is
    ``(1-alpha)^16`` (< 0.4% of total at alpha=0.3). Null values and
    rows before the partition start are excluded from both numerator and the
    weight normalizer, matching pandas' ``ignore_na`` start-up behavior.

    Scale: one shuffle on ``partition``; the lag fan-out is row-local
    projection inside whole-stage codegen (span columns, zero extra passes).
    """
    if not 0.0 < alpha < 1.0:
        raise ParameterException("alpha must be in (0, 1)")
    if not 1 <= span <= EWMA_MAX_SPAN:
        raise ParameterException(f"span must be in [1, {EWMA_MAX_SPAN}]")
    v = resolve_col(df, value_col)
    w = window_spec(df, partition, order_by)
    num: Column = F.lit(0.0)
    den: Column = F.lit(0.0)
    for i in range(span):
        wt = (1.0 - alpha) ** i
        xi = F.col(v).cast("double") if i == 0 else F.lag(v, i).over(w).cast("double")
        num = num + F.coalesce(xi * F.lit(wt), F.lit(0.0))
        den = den + F.when(xi.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    out = F.when(den > 0, F.round(num / den, round_to))
    return df.withColumn(f"EWMA_{cleanse_name(value_col)}", out)


@renderer("ewma")
def _r_ewma(source, value_col, order_by, alpha, partition=None, span=16,
            round_to=6) -> str:
    over = over_sql(partition, order_by)
    num_terms, den_terms = [], []
    for i in range(span):
        wt = repr((1.0 - alpha) ** i)
        xi = (f"CAST({value_col} AS DOUBLE)" if i == 0
              else f"CAST(LAG({value_col}, {i}) OVER ({over}) AS DOUBLE)")
        num_terms.append(f"COALESCE({xi} * {wt}, 0.0)")
        den_terms.append(f"CASE WHEN {xi} IS NOT NULL THEN {wt} ELSE 0.0 END")
    num, den = " + ".join(num_terms), " + ".join(den_terms)
    name = f"EWMA_{cleanse_name(value_col)}"
    return (
        f"SELECT *, CASE WHEN {den} > 0 THEN ROUND(({num}) / ({den}), {round_to}) "
        f"END AS {name} FROM {source}"
    )


# --------------------------------------------------------------------------
# rolling z-score anomaly flag
# --------------------------------------------------------------------------

@spark_transform("anomaly_zscore", category="timeseries", streaming_ok=False)
def anomaly_zscore(
    df: DataFrame,
    value_col: str,
    order_by,
    window: int = 20,
    partition=None,
    threshold: float = 3.0,
    min_periods: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Rolling z-score anomaly flag.

    ``ZSCORE_{COL}`` = (x − trailing mean) / trailing sample stddev over the
    last ``window`` rows (current row included); null when fewer than
    ``min_periods`` non-null values are in frame or the frame is constant
    (stddev 0). ``IS_ANOMALY`` = |z| > threshold (false where z is null).
    The trailing-window form keeps the statistic causal — usable as a
    streaming feature — and bounds state per key at ``window`` rows.

    Scale: one shuffle on ``partition``, one window pass; stddev/avg/count
    share the same frame buffer.
    """
    if window < 2:
        raise ParameterException("window must be >= 2")
    if min_periods < 2:
        raise ParameterException("min_periods must be >= 2 (stddev needs 2 rows)")
    if threshold <= 0:
        raise ParameterException("threshold must be > 0")
    v = resolve_col(df, value_col)
    frame = window_spec(df, partition, order_by).rowsBetween(-(window - 1), Window.currentRow)
    x = F.col(v).cast("double")
    mean = F.avg(v).over(frame)
    sd = F.stddev_samp(v).over(frame)
    cnt = F.count(v).over(frame)
    z = F.when(
        (cnt >= min_periods) & (sd > 0), F.round((x - mean) / sd, round_to)
    )
    zname = f"ZSCORE_{cleanse_name(value_col)}"
    return df.withColumns({
        zname: z,
        "IS_ANOMALY": F.coalesce(F.abs(z) > threshold, F.lit(False)),
    })


@renderer("anomaly_zscore")
def _r_anomaly_zscore(source, value_col, order_by, window=20, partition=None,
                      threshold=3.0, min_periods=5, round_to=6) -> str:
    over = f"{over_sql(partition, order_by)} ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW"
    z = (
        f"CASE WHEN COUNT({value_col}) OVER ({over}) >= {min_periods} "
        f"AND STDDEV_SAMP({value_col}) OVER ({over}) > 0 "
        f"THEN ROUND((CAST({value_col} AS DOUBLE) - AVG({value_col}) OVER ({over})) "
        f"/ STDDEV_SAMP({value_col}) OVER ({over}), {round_to}) END"
    )
    zname = f"ZSCORE_{cleanse_name(value_col)}"
    return (
        f"SELECT *, {z} AS {zname}, COALESCE(ABS({z}) > {threshold}, FALSE) AS IS_ANOMALY "
        f"FROM {source}"
    )


# --------------------------------------------------------------------------
# CUSUM changepoint
# --------------------------------------------------------------------------

@spark_transform("changepoint_detect", category="timeseries", streaming_ok=False)
def changepoint_detect(
    df: DataFrame,
    value_col: str,
    order_by,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Single most-likely mean-shift changepoint per group (CUSUM argmax).

    Classic cumulative-sum chart (Page 1954): ``S_t = Σ_{i<=t} (x_i − x̄)``
    against the group mean; the estimated changepoint is the row maximizing
    ``|S_t|`` (ties → earliest in ``order_by``). Returns ONE row per group:
    the group keys, the ``order_by`` columns at the changepoint, and
    ``CUSUM_STAT`` (the signed rounded S there). The running sum is rounded
    to ``round_to`` BEFORE the argmax so association order can never flip the
    winner between engines.

    Scale: two window passes over one partition shuffle (group mean, running
    sum) plus a per-group top-1 — no second shuffle, the argmax reuses the
    same partitioning.
    """
    v = resolve_col(df, value_col)
    keys = resolve_cols(df, as_list(group_by))
    ords = as_list(order_by) if not isinstance(order_by, dict) else list(order_by)
    ord_cols = resolve_cols(df, ords)
    wg = Window.partitionBy(*keys) if keys else Window.partitionBy()
    # stage the group mean first: SUM(x - AVG(x) OVER ...) OVER ... would be
    # an (illegal) nested window expression in both engines
    staged = df.withColumn("__gmean", F.avg(v).over(wg))
    wcum = window_spec(staged, keys, order_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.round(
        F.sum(F.col(v).cast("double") - F.col("__gmean")).over(wcum), round_to
    )
    staged = staged.withColumn("__cusum", cum)
    wtop = Window.partitionBy(*keys).orderBy(
        F.abs(F.col("__cusum")).desc(), *order_spec(staged, order_by)
    ) if keys else Window.partitionBy().orderBy(
        F.abs(F.col("__cusum")).desc(), *order_spec(staged, order_by)
    )
    picked = staged.withColumn("__rn", F.row_number().over(wtop)).filter(F.col("__rn") == 1)
    return picked.select(
        *keys, *ord_cols, F.col("__cusum").alias("CUSUM_STAT")
    )


@renderer("changepoint_detect")
def _r_changepoint_detect(source, value_col, order_by, group_by=None,
                          round_to=6) -> str:
    keys = as_list(group_by)
    ords = list(order_by) if isinstance(order_by, dict) else as_list(order_by)
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    gpart = part.strip() or "PARTITION BY 1"
    cum = (
        f"ROUND(SUM(CAST({value_col} AS DOUBLE) - __gmean) "
        f"OVER ({part}ORDER BY {order_sql(order_by)} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {round_to})"
    )
    sel = ", ".join([*keys, *ords])
    return (
        f"SELECT {sel}, __cusum AS CUSUM_STAT FROM ("
        f"SELECT *, ROW_NUMBER() OVER ({part}ORDER BY ABS(__cusum) DESC, "
        f"{order_sql(order_by)}) AS __rn FROM "
        f"(SELECT *, {cum} AS __cusum FROM "
        f"(SELECT *, AVG({value_col}) OVER ({gpart}) AS __gmean FROM {source}))"
        f") WHERE __rn = 1"
    )


# --------------------------------------------------------------------------
# additive seasonal decomposition
# --------------------------------------------------------------------------

@spark_transform("seasonal_decompose", category="timeseries", streaming_ok=False)
def seasonal_decompose(
    df: DataFrame,
    value_col: str,
    order_by,
    period: int,
    partition=None,
    round_to: int = 6,
) -> DataFrame:
    """Additive seasonal decomposition: x = TREND + SEASONAL + RESIDUAL.

    Classical moving-average method: TREND is a centered ``period``-row mean
    (null at the edges where the frame is incomplete — the classical
    convention); SEASONAL is the per-season-position mean of the detrended
    series, centered by subtracting the grand detrended mean so seasonal
    effects sum to ~0 over a cycle; RESIDUAL is the remainder. Season
    position is row index modulo ``period`` within the partition. Each stage
    is rounded before feeding the next so both engines replay identically;
    the seasonal means additionally run over UNORDERED partitions, where
    float summation order is engine-dependent, so the detrended values are
    quantized to ``round_to`` decimals and summed as exact BIGINTs (order-
    free; magnitudes stay far under 2^53 at any realistic group size).

    Scale: one shuffle on ``partition``; positions/trend/seasonal are three
    window projections over the same partitioning (Catalyst collapses the
    sort), no joins and no second shuffle.
    """
    if period < 2:
        raise ParameterException("period must be >= 2")
    v = resolve_col(df, value_col)
    keys = resolve_cols(df, as_list(partition))
    w = window_spec(df, partition, order_by)
    lo, hi = -((period - 1) // 2), period // 2
    frame = w.rowsBetween(lo, hi)
    x = F.col(v).cast("double")
    trend = F.when(
        F.count(v).over(frame) == period, F.round(F.avg(v).over(frame), round_to)
    )
    pos = ((F.row_number().over(w) - 1) % period).cast("int")
    staged = df.withColumns({"__trend": trend, "__pos": pos})
    scale = float(10 ** round_to)
    staged = staged.withColumn(
        "__detri",
        F.round((F.col(v).cast("double") - F.col("__trend")) * scale, 0).cast("bigint"),
    )
    wpos = Window.partitionBy(*keys, "__pos")
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy()

    def _mean(win):
        return F.sum("__detri").over(win).cast("double") / F.count("__detri").over(win)

    seasonal = F.round((_mean(wpos) - _mean(wall)) / scale, round_to)
    staged = staged.withColumn("__seasonal", seasonal)
    resid = F.round(
        F.col(v).cast("double") - F.col("__trend") - F.col("__seasonal"), round_to
    )
    return (
        staged.withColumns({
            "SEASON_POS": F.col("__pos"),
            "TREND": F.col("__trend"),
            "SEASONAL": F.col("__seasonal"),
            "RESIDUAL": resid,
        }).drop("__trend", "__pos", "__detri", "__seasonal")
    )


@renderer("seasonal_decompose")
def _r_seasonal_decompose(source, value_col, order_by, period, partition=None,
                          round_to=6) -> str:
    keys = as_list(partition)
    over = over_sql(partition, order_by)
    lo, hi = (period - 1) // 2, period // 2
    frame = f"{over} ROWS BETWEEN {lo} PRECEDING AND {hi} FOLLOWING"
    part_pos = "PARTITION BY " + ", ".join([*keys, "__pos"])
    part_all = f"PARTITION BY {', '.join(keys)}" if keys else "PARTITION BY 1"
    trend = (
        f"CASE WHEN COUNT({value_col}) OVER ({frame}) = {period} "
        f"THEN ROUND(AVG({value_col}) OVER ({frame}), {round_to}) END"
    )
    # seasonal is ROUNDED in its own layer before the residual subtracts it,
    # mirroring the DataFrame side's round-before-reuse contract; the
    # detrended values are BIGINT-quantized so the unordered-partition means
    # are summation-order-free (see the transform docstring)
    scale = float(10 ** round_to)
    mpos = (
        f"CAST(SUM(__detri) OVER ({part_pos}) AS DOUBLE) / COUNT(__detri) OVER ({part_pos})"
    )
    mall = (
        f"CAST(SUM(__detri) OVER ({part_all}) AS DOUBLE) / COUNT(__detri) OVER ({part_all})"
    )
    return (
        f"SELECT * EXCEPT (__pos, __trend, __detri, __seasonal), "
        f"__pos AS SEASON_POS, __trend AS TREND, __seasonal AS SEASONAL, "
        f"ROUND(CAST({value_col} AS DOUBLE) - __trend - __seasonal, {round_to}) AS RESIDUAL "
        f"FROM (SELECT *, ROUND(({mpos} - {mall}) / {scale}, {round_to}) AS __seasonal "
        f"FROM (SELECT *, CAST(ROUND((CAST({value_col} AS DOUBLE) - __trend) * {scale}, 0) AS BIGINT) AS __detri, "
        f"CAST((ROW_NUMBER() OVER ({over}) - 1) % {period} AS INT) AS __pos "
        f"FROM (SELECT *, {trend} AS __trend FROM {source})))"
    )


# --------------------------------------------------------------------------
# frozen-baseline z-score monitoring (the batch body of stream_anomaly)
# --------------------------------------------------------------------------

ZQ_SCALE = 1_000_000  # 6-dp quantization for order-free integer moments
# per-value round(x²·10⁶) must fit a BIGINT (9.22e18) — that is the
# quantization contract the SQL replay mirrors (DuckDB casts each value to
# BIGINT and would error past it; a non-ANSI engine would saturate
# silently). Beyond |x| ≈ 3.037e6, reject loudly at the boundary. The
# ACCUMULATORS are DECIMAL(38,0), so sums never overflow within the bound.
ZQ_SAFE_MAX = 3.0e6


def zscore_stats(df: DataFrame, column: str, group_by=None) -> dict:
    """The FROZEN side of z-score monitoring: ``{group_key_tuple: (mean,
    std)}`` from the accepted baseline — one bounded collect of
    :func:`zscore_stats_frame`, one row per group (compute once per
    release, reuse across micro-batches, the same amortized regime as
    ``snapshot.psi_bin_stats``).

    Moments derive from EXACT integer sums of 6-dp-quantized values
    (Σ round(x·10⁶), Σ round(x²·10⁶) as BIGINTs), so the frozen numbers are
    independent of float summation order and replay identically in any
    engine. The integer-moment contract supports |x| ≤ 3·10⁶ (beyond that
    round(x²·10⁶) overflows BIGINT — Spark would saturate silently, DuckDB
    would error); values outside the bound, and NaN, raise
    ``ParameterException``. All-null groups are skipped; a single-value
    group freezes std = 0.0.
    """
    keys = resolve_cols(df, as_list(group_by))
    return _collect_stats(zscore_stats_frame(df, column, keys), keys,
                          ("BASELINE_MEAN", "BASELINE_STD"))


def zscore_against_stats(
    df: DataFrame,
    column: str,
    stats,
    group_by=None,
    threshold: float = 3.0,
    round_to: int = 6,
) -> DataFrame:
    """Per-group anomaly report of ``df`` against FROZEN baseline moments
    (from :func:`zscore_stats`) — the per-micro-batch body of
    ``stream_anomaly``. Output per group: ``N``, ``N_ANOMALIES`` (rows with
    |x − mean| > threshold·std), ``ANOMALY_RATE``, ``BATCH_MEAN``,
    ``BASELINE_MEAN``, ``MEAN_Z`` (the batch-mean shift in standard errors —
    the drift alarm). Groups absent from the baseline report N with null
    statistics (unknown population — alert upstream, don't guess).

    ``stats`` is the :func:`zscore_stats` dict (≤|groups|-row broadcast
    literal — monitor-grade group counts) or the
    :func:`zscore_stats_frame` DataFrame (null-safe join, no forced
    broadcast — the millions-of-groups path, AQE-sized). NULL group keys
    present in the baseline score normally (null-safe join, the mad-twin
    convention — round 12 also fixed the dict path here, which previously
    both missed NULL groups in the join and crashed sorting mixed-type
    keys).

    Scale: ONE hash aggregate on the group keys. Batch moments use the
    same order-free integer-sum contract as the frozen side (supported
    range |x| ≤ 3·10⁶ — see :data:`ZQ_SAFE_MAX`; this lazy path documents
    rather than scans, the eager :func:`zscore_stats` enforces), so the
    report replays bit-for-bit as SQL.
    """
    if threshold <= 0:
        raise ParameterException("threshold must be > 0")
    keys = resolve_cols(df, as_list(group_by))
    v = resolve_col(df, column)
    x = F.col(v).cast("double")
    # groups missing from the baseline: keep them (left join) with null stats
    staged = _stage_baseline(df, keys, stats, ("__bm", "__bs"),
                             ("BASELINE_MEAN", "BASELINE_STD"))
    anom = (
        F.when(F.col("__bm").isNull(), F.lit(None).cast("int"))
        .when(
            (F.col("__bs") > 0)
            & (F.abs(x - F.col("__bm")) > threshold * F.col("__bs")),
            1,
        )
        .otherwise(0)
    )
    agg = staged.groupBy(*keys).agg(
        F.count(v).alias("N"),
        F.sum(anom).cast("bigint").alias("N_ANOMALIES"),
        # DECIMAL(38,0) accumulator — same overflow-proofing as zscore_stats
        F.sum(F.round(x * ZQ_SCALE, 0).cast("decimal(38,0)")).alias("__s1"),
        F.max("__bm").alias("__m"),
        F.max("__bs").alias("__s"),
    )
    # double-first division (decimal/bigint would be decimal arithmetic —
    # different rounding than the SQL replay's CAST(s1 AS DOUBLE)/n)
    bmean = F.col("__s1").cast("double") / F.col("N") / ZQ_SCALE
    return agg.select(
        *keys,
        "N",
        "N_ANOMALIES",
        F.when(
            F.col("__m").isNotNull() & (F.col("N") > 0),
            F.round(F.col("N_ANOMALIES") / F.col("N"), round_to),
        ).alias("ANOMALY_RATE"),
        F.when(F.col("N") > 0, F.round(bmean, round_to)).alias("BATCH_MEAN"),
        F.round(F.col("__m"), round_to).alias("BASELINE_MEAN"),
        F.when(
            (F.col("__s") > 0) & (F.col("N") > 0),
            F.round(
                (bmean - F.col("__m")) / (F.col("__s") / F.sqrt(F.col("N"))),
                round_to,
            ),
        ).alias("MEAN_Z"),
    )


# --------------------------------------------------------------------------
# pct_change
# --------------------------------------------------------------------------

@spark_transform("pct_change", category="timeseries", streaming_ok=False)
def pct_change(
    df: DataFrame,
    value_col: str,
    order_by,
    periods: int = 1,
    partition=None,
    round_to: int = 6,
) -> DataFrame:
    """Fractional change vs the value ``periods`` rows back (pandas
    ``pct_change``): ``PCT_CHANGE_{COL} = x/x_{t-periods} − 1``; null on the
    warm-up rows and where the base value is 0 (no ±inf rows).

    Rounding is FLOOR-based (``floor(x·10^r + 0.5)/10^r``) rather than
    ROUND: ratios of 2-decimal inputs routinely land EXACTLY on the 6-dp
    tie (e.g. 8.0046875), where Spark half-ups the shortest decimal repr
    while DuckDB rounds the binary double — floor of identical doubles is
    bit-identical in every engine, closing that divergence.

    Scale: one window shuffle on ``partition``, row-local arithmetic."""
    if periods < 1:
        raise ParameterException("periods must be >= 1")
    v = resolve_col(df, value_col)
    w = window_spec(df, partition, order_by)
    scale = float(10 ** round_to)
    prev = F.lag(v, periods).over(w).cast("double")
    ratio = F.col(v).cast("double") / prev - 1.0
    out = F.when(
        prev.isNotNull() & (prev != 0),
        F.floor(ratio * scale + 0.5) / scale,
    )
    return df.withColumn(f"PCT_CHANGE_{cleanse_name(value_col)}", out)


@renderer("pct_change")
def _r_pct_change(source, value_col, order_by, periods=1, partition=None,
                  round_to=6) -> str:
    over = over_sql(partition, order_by)
    prev = f"CAST(LAG({value_col}, {periods}) OVER ({over}) AS DOUBLE)"
    name = f"PCT_CHANGE_{cleanse_name(value_col)}"
    scale = float(10 ** round_to)
    ratio = f"(CAST({value_col} AS DOUBLE) / {prev} - 1.0)"
    return (
        f"SELECT *, CASE WHEN {prev} IS NOT NULL AND {prev} <> 0 "
        f"THEN FLOOR({ratio} * {scale!r} + 0.5) / {scale!r} "
        f"END AS {name} FROM {source}"
    )


# --------------------------------------------------------------------------
# autocorrelation
# --------------------------------------------------------------------------

ACF_MAX_LAG = 32


@spark_transform("autocorrelation", category="timeseries", streaming_ok=False)
def autocorrelation(
    df: DataFrame,
    value_col: str,
    order_by,
    lags=(1, 2, 3),
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group autocorrelation function: Pearson r between the series and
    its lag-k shift, one ``ACF_{k}`` column per requested lag (plus ``N``,
    the series length). The seasonality/memory screen of the feature-
    engineering family — pick rolling-window sizes and AR lags from it.

    Pairs where either side is null are excluded per lag (pandas
    ``Series.autocorr`` semantics). Each correlation derives from EXACT
    integer moments of 6-dp-quantized values — linear sums as BIGINTs,
    cross-products as DECIMAL(38,0) (a quantized product is ~10¹⁶ per row,
    so int64 would overflow within ~900 rows; 38-digit decimals leave 10²²
    rows of headroom and both engines sum them exactly) — the same
    order-free contract as ``zscore_stats``, so the result replays
    bit-for-bit as SQL. A constant or too-short series yields null.

    Scale: ONE window pass (the lag projections) + ONE hash aggregate on
    the group keys. Decimal aggregation is exact (no float order effects)
    and still map-side combinable.
    """
    lag_list = [int(k) for k in as_list(lags)]
    if not lag_list or any(k < 1 or k > ACF_MAX_LAG for k in lag_list):
        raise ParameterException(f"lags must be ints in [1, {ACF_MAX_LAG}]")
    v = resolve_col(df, value_col)
    keys = resolve_cols(df, as_list(group_by))
    w = window_spec(df, keys, order_by)
    x = F.col(v).cast("double")
    xq = F.round(x * ZQ_SCALE, 0).cast("bigint")
    staged = df.withColumn("__xq", xq)
    for k in lag_list:
        staged = staged.withColumn(f"__lq_{k}", F.lag("__xq", k).over(w))
    aggs = [F.count(v).alias("N")]
    for k in lag_list:
        both = F.col("__xq").isNotNull() & F.col(f"__lq_{k}").isNotNull()
        a = F.when(both, F.col("__xq"))
        b = F.when(both, F.col(f"__lq_{k}"))
        ad, bd = a.cast("decimal(19,0)"), b.cast("decimal(19,0)")
        aggs += [
            F.count(a).alias(f"__n_{k}"),
            F.sum(a).alias(f"__sx_{k}"),
            F.sum(b).alias(f"__sy_{k}"),
            F.sum(ad * bd).alias(f"__sxy_{k}"),
            F.sum(ad * ad).alias(f"__sxx_{k}"),
            F.sum(bd * bd).alias(f"__syy_{k}"),
        ]
    g = staged.groupBy(*keys).agg(*aggs)
    sel = [*keys, "N"]
    for k in lag_list:
        n = F.col(f"__n_{k}").cast("double")
        sx, sy = F.col(f"__sx_{k}").cast("double"), F.col(f"__sy_{k}").cast("double")
        sxy = F.col(f"__sxy_{k}").cast("double")
        sxx, syy = F.col(f"__sxx_{k}").cast("double"), F.col(f"__syy_{k}").cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (F.col(f"__n_{k}") >= 2) & (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx * vy), round_to),
        )
        sel.append(r.alias(f"ACF_{k}"))
    return g.select(*sel)


@renderer("autocorrelation")
def _r_autocorrelation(source, value_col, order_by, lags=(1, 2, 3),
                       group_by=None, round_to=6) -> str:
    lag_list = [int(k) for k in as_list(lags)]
    if not lag_list or any(k < 1 or k > ACF_MAX_LAG for k in lag_list):
        raise ParameterException(f"lags must be ints in [1, {ACF_MAX_LAG}]")
    keys = as_list(group_by)
    over = over_sql(keys if keys else None, order_by)
    xq = f"CAST(ROUND(CAST({value_col} AS DOUBLE) * {ZQ_SCALE}, 0) AS BIGINT)"
    lag_cols = ", ".join(
        f"LAG(__xq, {k}) OVER ({over}) AS __lq_{k}" for k in lag_list
    )
    staged = (
        f"(SELECT *, {lag_cols} FROM "
        f"(SELECT *, {xq} AS __xq FROM {source}))"
    )
    agg_parts = [f"COUNT({value_col}) AS N"]
    for k in lag_list:
        both = f"__xq IS NOT NULL AND __lq_{k} IS NOT NULL"
        a, b = f"CASE WHEN {both} THEN __xq END", f"CASE WHEN {both} THEN __lq_{k} END"
        ad = f"CAST({a} AS DECIMAL(19,0))"
        bd = f"CAST({b} AS DECIMAL(19,0))"
        agg_parts += [
            f"COUNT({a}) AS __n_{k}",
            f"CAST(SUM({a}) AS BIGINT) AS __sx_{k}",
            f"CAST(SUM({b}) AS BIGINT) AS __sy_{k}",
            f"SUM({ad} * {bd}) AS __sxy_{k}",
            f"SUM({ad} * {ad}) AS __sxx_{k}",
            f"SUM({bd} * {bd}) AS __syy_{k}",
        ]
    gsel = ", ".join(keys) + ", " if keys else ""
    gby = f" GROUP BY {', '.join(keys)}" if keys else ""
    inner = f"SELECT {gsel}{', '.join(agg_parts)} FROM {staged} t{gby}"
    outer_cols = [*keys, "N"]
    for k in lag_list:
        n = f"CAST(__n_{k} AS DOUBLE)"
        cov = f"({n} * CAST(__sxy_{k} AS DOUBLE) - CAST(__sx_{k} AS DOUBLE) * CAST(__sy_{k} AS DOUBLE))"
        vx = f"({n} * CAST(__sxx_{k} AS DOUBLE) - CAST(__sx_{k} AS DOUBLE) * CAST(__sx_{k} AS DOUBLE))"
        vy = f"({n} * CAST(__syy_{k} AS DOUBLE) - CAST(__sy_{k} AS DOUBLE) * CAST(__sy_{k} AS DOUBLE))"
        outer_cols.append(
            f"CASE WHEN __n_{k} >= 2 AND {vx} > 0 AND {vy} > 0 "
            f"THEN ROUND({cov} / sqrt({vx} * {vy}), {round_to}) END AS ACF_{k}"
        )
    return f"SELECT {', '.join(outer_cols)} FROM ({inner})"


# --------------------------------------------------------------------------
# cross-correlation
# --------------------------------------------------------------------------

def _ccf_name(k: int) -> str:
    return f"CCF_NEG_{-k}" if k < 0 else f"CCF_{k}"


@spark_transform("cross_correlation", category="timeseries", streaming_ok=False)
def cross_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    order_by,
    lags=(0, 1, 2),
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group cross-correlation: Pearson r between ``x_t`` and
    ``y_{t-k}`` for each lag k — the lead/lag relationship screen (does
    yesterday's y predict today's x?). Negative lags test the other
    direction (``y_{t+|k|}``); names are ``CCF_{k}`` / ``CCF_NEG_{k}``.
    Same exact-moment contract as :func:`autocorrelation` (pairs with a
    null side excluded; BIGINT linear sums, DECIMAL(38,0) cross-products;
    constant or too-short series yield null).

    Scale: ONE window pass + ONE hash aggregate on the group keys.
    """
    lag_list = [int(k) for k in as_list(lags)]
    if not lag_list or any(abs(k) > ACF_MAX_LAG for k in lag_list):
        raise ParameterException(f"lags must be ints in [-{ACF_MAX_LAG}, {ACF_MAX_LAG}]")
    xc, yc = resolve_col(df, x_col), resolve_col(df, y_col)
    keys = resolve_cols(df, as_list(group_by))
    w = window_spec(df, keys, order_by)
    xq = F.round(F.col(xc).cast("double") * ZQ_SCALE, 0).cast("bigint")
    yq = F.round(F.col(yc).cast("double") * ZQ_SCALE, 0).cast("bigint")
    staged = df.withColumns({"__xq": xq, "__yq0": yq})
    for k in lag_list:
        shifted = (
            F.col("__yq0") if k == 0
            else F.lag("__yq0", k).over(w) if k > 0
            else F.lead("__yq0", -k).over(w)
        )
        staged = staged.withColumn(f"__yq_{_ccf_name(k)}", shifted)
    aggs = [F.count(xc).alias("N")]
    for k in lag_list:
        nm = _ccf_name(k)
        both = F.col("__xq").isNotNull() & F.col(f"__yq_{nm}").isNotNull()
        a = F.when(both, F.col("__xq"))
        b = F.when(both, F.col(f"__yq_{nm}"))
        ad, bd = a.cast("decimal(19,0)"), b.cast("decimal(19,0)")
        aggs += [
            F.count(a).alias(f"__n_{nm}"),
            F.sum(a).alias(f"__sx_{nm}"),
            F.sum(b).alias(f"__sy_{nm}"),
            F.sum(ad * bd).alias(f"__sxy_{nm}"),
            F.sum(ad * ad).alias(f"__sxx_{nm}"),
            F.sum(bd * bd).alias(f"__syy_{nm}"),
        ]
    g = staged.groupBy(*keys).agg(*aggs)
    sel = [*keys, "N"]
    for k in lag_list:
        nm = _ccf_name(k)
        n = F.col(f"__n_{nm}").cast("double")
        sx, sy = F.col(f"__sx_{nm}").cast("double"), F.col(f"__sy_{nm}").cast("double")
        sxy = F.col(f"__sxy_{nm}").cast("double")
        sxx, syy = F.col(f"__sxx_{nm}").cast("double"), F.col(f"__syy_{nm}").cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (F.col(f"__n_{nm}") >= 2) & (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx * vy), round_to),
        )
        sel.append(r.alias(nm))
    return g.select(*sel)


@renderer("cross_correlation")
def _r_cross_correlation(source, x_col, y_col, order_by, lags=(0, 1, 2),
                         group_by=None, round_to=6) -> str:
    lag_list = [int(k) for k in as_list(lags)]
    if not lag_list or any(abs(k) > ACF_MAX_LAG for k in lag_list):
        raise ParameterException(f"lags must be ints in [-{ACF_MAX_LAG}, {ACF_MAX_LAG}]")
    keys = as_list(group_by)
    over = over_sql(keys if keys else None, order_by)
    xq = f"CAST(ROUND(CAST({x_col} AS DOUBLE) * {ZQ_SCALE}, 0) AS BIGINT)"
    yq = f"CAST(ROUND(CAST({y_col} AS DOUBLE) * {ZQ_SCALE}, 0) AS BIGINT)"
    shift_cols = []
    for k in lag_list:
        nm = _ccf_name(k)
        if k == 0:
            shift_cols.append(f"__yq0 AS __yq_{nm}")
        elif k > 0:
            shift_cols.append(f"LAG(__yq0, {k}) OVER ({over}) AS __yq_{nm}")
        else:
            shift_cols.append(f"LEAD(__yq0, {-k}) OVER ({over}) AS __yq_{nm}")
    staged = (
        f"(SELECT *, {', '.join(shift_cols)} FROM "
        f"(SELECT *, {xq} AS __xq, {yq} AS __yq0 FROM {source}))"
    )
    agg_parts = [f"COUNT({x_col}) AS N"]
    for k in lag_list:
        nm = _ccf_name(k)
        both = f"__xq IS NOT NULL AND __yq_{nm} IS NOT NULL"
        a = f"CASE WHEN {both} THEN __xq END"
        b = f"CASE WHEN {both} THEN __yq_{nm} END"
        ad = f"CAST({a} AS DECIMAL(19,0))"
        bd = f"CAST({b} AS DECIMAL(19,0))"
        agg_parts += [
            f"COUNT({a}) AS __n_{nm}",
            f"CAST(SUM({a}) AS BIGINT) AS __sx_{nm}",
            f"CAST(SUM({b}) AS BIGINT) AS __sy_{nm}",
            f"SUM({ad} * {bd}) AS __sxy_{nm}",
            f"SUM({ad} * {ad}) AS __sxx_{nm}",
            f"SUM({bd} * {bd}) AS __syy_{nm}",
        ]
    gsel = ", ".join(keys) + ", " if keys else ""
    gby = f" GROUP BY {', '.join(keys)}" if keys else ""
    inner = f"SELECT {gsel}{', '.join(agg_parts)} FROM {staged} t{gby}"
    outer_cols = [*keys, "N"]
    for k in lag_list:
        nm = _ccf_name(k)
        n = f"CAST(__n_{nm} AS DOUBLE)"
        cov = f"({n} * CAST(__sxy_{nm} AS DOUBLE) - CAST(__sx_{nm} AS DOUBLE) * CAST(__sy_{nm} AS DOUBLE))"
        vx = f"({n} * CAST(__sxx_{nm} AS DOUBLE) - CAST(__sx_{nm} AS DOUBLE) * CAST(__sx_{nm} AS DOUBLE))"
        vy = f"({n} * CAST(__syy_{nm} AS DOUBLE) - CAST(__sy_{nm} AS DOUBLE) * CAST(__sy_{nm} AS DOUBLE))"
        outer_cols.append(
            f"CASE WHEN __n_{nm} >= 2 AND {vx} > 0 AND {vy} > 0 "
            f"THEN ROUND({cov} / sqrt({vx} * {vy}), {round_to}) END AS {nm}"
        )
    return f"SELECT {', '.join(outer_cols)} FROM ({inner})"


@spark_transform("anomaly_mad", category="timeseries", streaming_ok=False)
def anomaly_mad(
    df: DataFrame,
    value_col: str,
    group_by=None,
    threshold: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Robust per-group outlier flags via the modified z-score (Iglewicz &
    Hoaglin 1993): ``MOD_Z = 0.6745·(x − median) / MAD`` with MAD the
    median absolute deviation; flag ``|MOD_Z| > threshold`` (3.5 is the
    published default). The robust sibling of :func:`anomaly_zscore`:
    median/MAD have a 50% breakdown point, so a burst of extreme rows
    cannot mask itself by inflating the spread the way it inflates a
    mean/std baseline. Appends ``{COL}_MEDIAN``, ``{COL}_MAD``,
    ``MOD_Z_{COL}`` (rounded; NULL when MAD = 0 or x is NULL) and
    ``IS_OUTLIER_MAD`` (when MAD = 0, any x ≠ median flags — a
    zero-spread group makes every deviation an anomaly).

    Exactness: medians use Spark's EXACT ``percentile`` (linear
    interpolation — bit-equal to DuckDB ``quantile_cont``, the contract
    the ``quantiles`` operator already pins), so the whole report replays
    cross-engine. Scale: two percentile aggregates (|groups| rows out) +
    two key joins the optimizer broadcasts when small; the exact
    percentile buffers one group's values per aggregate — fine to
    millions of rows per group, same envelope as ``quantiles``.
    """
    if threshold <= 0:
        raise ParameterException("threshold must be > 0")
    v = resolve_col(df, value_col)
    keys = resolve_cols(df, as_list(group_by))
    nm = cleanse_name(v)
    x = F.col(v).cast("double")
    med_f = df.groupBy(*keys).agg(
        F.percentile(x, F.lit(0.5)).alias(f"{nm}_MEDIAN")
    )
    staged = null_safe_join(df, med_f, keys)
    dev = F.abs(x - F.col(f"{nm}_MEDIAN"))
    mad_f = staged.groupBy(*keys).agg(
        F.percentile(dev, F.lit(0.5)).alias(f"{nm}_MAD")
    )
    full = null_safe_join(staged, mad_f, keys)
    med, mad = F.col(f"{nm}_MEDIAN"), F.col(f"{nm}_MAD")
    z = F.round(F.lit(0.6745) * (x - med) / mad, round_to)
    return full.withColumn(
        f"MOD_Z_{nm}", F.when(mad > 0, z)
    ).withColumn(
        "IS_OUTLIER_MAD",
        F.when(x.isNull() | med.isNull(), F.lit(None).cast("int"))
        .when(mad > 0, (F.abs(z) > threshold).cast("int"))
        .otherwise((x != med).cast("int")),
    )


@renderer("anomaly_mad")
def _r_anomaly_mad(source, value_col, group_by=None, threshold=3.5,
                   round_to=6, _input_columns=()) -> str:
    if threshold <= 0:
        raise ParameterException("threshold must be > 0")
    keys = as_list(group_by)
    nm = cleanse_name(value_col)
    x = f"CAST({value_col} AS DOUBLE)"
    part = ", ".join(keys)
    kcomma = f"{part}, " if keys else ""
    grp = f" GROUP BY {part}" if keys else ""
    on = " AND ".join(f"s.{c} <=> m.{c}" for c in keys) if keys else "TRUE"
    sel0 = ", ".join(f"s.{c}" for c in _input_columns)
    z = f"ROUND(0.6745 * ({x} - s.{nm}_MEDIAN) / m.{nm}_MAD, {int(round_to)})"
    sel = ", ".join(f"s.{c}" for c in _input_columns)
    # CTEs keep each stage defined ONCE (the inlined-subquery form scans
    # the source ~5x; engines do not dedupe identical subquery text)
    return (
        f"SELECT * FROM (WITH __mad_med AS "
        f"(SELECT {kcomma}percentile({x}, 0.5) AS {nm}_MEDIAN "
        f"FROM {source}{grp}), "
        f"__mad_st AS (SELECT {sel0}, m.{nm}_MEDIAN "
        f"FROM {source} s JOIN __mad_med m ON {on}), "
        f"__mad_d AS (SELECT {kcomma}"
        f"percentile(ABS({x} - {nm}_MEDIAN), 0.5) AS {nm}_MAD "
        f"FROM __mad_st{grp}) "
        f"SELECT {sel}, s.{nm}_MEDIAN, m.{nm}_MAD, "
        f"CASE WHEN m.{nm}_MAD > 0 THEN {z} END AS MOD_Z_{nm}, "
        f"CASE WHEN {x} IS NULL OR s.{nm}_MEDIAN IS NULL THEN NULL "
        f"WHEN m.{nm}_MAD > 0 THEN CAST(ABS({z}) > {float(threshold)!r} AS INT) "
        f"ELSE CAST({x} <> s.{nm}_MEDIAN AS INT) END AS IS_OUTLIER_MAD "
        f"FROM __mad_st s JOIN __mad_d m ON {on}) __mad_out"
    )


def _none_safe_sorted(items):
    """Sort (key_tuple, value) pairs deterministically even when a group
    key is None or keys mix types (tuple comparison would raise)."""
    return sorted(
        items, key=lambda kv: tuple((v is None, str(v)) for v in kv[0])
    )


def mad_stats(df: DataFrame, column: str, group_by=None) -> dict:
    """The FROZEN side of robust (median/MAD) monitoring: ``{group_key_tuple:
    (median, mad)}`` from the accepted baseline — the :func:`zscore_stats`
    analog with a 50% breakdown point (outliers in the baseline itself
    cannot distort the frozen center/spread). Exact ``percentile`` medians
    (bit-equal to DuckDB ``quantile_cont``); one bounded one-row-per-group
    collect of :func:`mad_stats_frame`; compute once per release. NaN
    raises ``ParameterException``.
    """
    import math

    keys = resolve_cols(df, as_list(group_by))
    out = _collect_stats(mad_stats_frame(df, column, keys), keys,
                         ("BASELINE_MEDIAN", "BASELINE_MAD"))
    if any(math.isnan(m) for m, _ in out.values()):
        raise ParameterException("mad_stats: frozen median is NaN")
    return out


def _collect_stats(frame: DataFrame, keys, cols) -> dict:
    """The dict form of a ``*_stats_frame`` baseline: ``{key_tuple:
    (cols...)}`` from one collect. The frame's executor-side guards (NaN,
    magnitude) surface as ``ParameterException`` with their own text. A
    row whose statistics are all NULL is a global aggregate over no rows,
    not a group."""
    from pyspark.errors import SparkRuntimeException

    try:
        rows = frame.collect()
    except SparkRuntimeException as e:
        if e.getCondition() != "USER_RAISED_EXCEPTION":
            raise
        raise ParameterException(e.getMessageParameters()["errorMessage"]) from None
    out = {tuple(r[k] for k in keys): tuple(r[c] for c in cols) for r in rows
           if any(r[c] is not None for c in cols)}
    if not out:
        raise ParameterException("baseline is empty")
    return out


def _stage_baseline(df, keys, stats, cols, frame_cols):
    """Left-join FROZEN per-group baseline values onto ``df`` as the
    internal columns ``cols`` (e.g. ``("__bm", "__bd")``), null-safely on
    the group keys (a NULL group key present in the baseline scores
    normally instead of reporting unknown-group null statistics).

    ``stats`` is either the dict an eager ``*_stats`` producer returns —
    expanded to a BROADCAST literal, the monitor-grade path whose group
    count fits a driver collect — or a DataFrame from a
    ``*_stats_frame`` producer carrying ``frame_cols`` (the
    millions-of-groups path: nothing ever collects, NO broadcast hint is
    forced, and AQE picks broadcast vs shuffle join by actual size). With
    no group keys either form is one global row, cross-joined as a
    broadcast.
    """
    if isinstance(stats, DataFrame):
        missing = [c for c in frame_cols if c not in stats.columns]
        if missing:
            raise ParameterException(
                f"baseline frame is missing columns {missing} — pass the "
                "matching *_stats_frame output"
            )
        exp = stats.select(
            *keys,
            *[F.col(fc).cast("double").alias(c)
              for fc, c in zip(frame_cols, cols)],
        )
    else:
        if not stats:
            raise ParameterException("frozen stats are empty")
        from pyspark.sql.types import DoubleType, StructField, StructType

        schema = StructType(
            [df.schema[k] for k in keys] + [StructField(c, DoubleType()) for c in cols]
        )
        exp = F.broadcast(df.sparkSession.createDataFrame(
            [(*k, *(float(x) for x in vals))
             for k, vals in _none_safe_sorted(stats.items())],
            schema,
        ))
    return null_safe_join(df, exp, keys)


def mad_stats_frame(df: DataFrame, column: str, group_by=None) -> DataFrame:
    """Distributed :func:`mad_stats`: the frozen (median, MAD) baseline as
    a DataFrame ``(keys..., BASELINE_MEDIAN, BASELINE_MAD)`` — NOTHING
    collects to the driver, so the baseline may hold millions of groups
    (the documented boundary of the dict producer, whose one-row-per-group
    collect is monitor-grade only). Feed it straight to
    :func:`mad_against_stats` (joined null-safely, AQE-sized — no forced
    broadcast) or persist it as the release artifact with plain
    ``.write.parquet``.

    Same exactness contract as the dict form (exact ``percentile``
    medians); the NaN guard is a per-row executor-side raise at action
    time instead of the eager driver check.
    """
    keys = resolve_cols(df, as_list(group_by))
    v = resolve_col(df, column)
    x = F.col(v).cast("double")
    guarded = F.when(
        F.isnan(x),
        F.raise_error(F.lit(
            f"mad_stats_frame: {column} contains NaN — clean the column "
            "before freezing a baseline"
        )).cast("double"),
    ).otherwise(x)
    src = df.filter(x.isNotNull()).select(*keys, guarded.alias("__x"))
    med = src.groupBy(*keys).agg(
        F.percentile(F.col("__x"), F.lit(0.5)).alias("BASELINE_MEDIAN")
    )
    staged = _stage_baseline(src, keys, med, ("__bm",), ("BASELINE_MEDIAN",))
    return (
        staged.groupBy(*keys)
        .agg(
            F.max("__bm").alias("BASELINE_MEDIAN"),
            F.percentile(F.abs(F.col("__x") - F.col("__bm")), F.lit(0.5))
            .alias("BASELINE_MAD"),
        )
    )


def zscore_stats_frame(df: DataFrame, column: str, group_by=None) -> DataFrame:
    """Distributed :func:`zscore_stats`: the frozen (mean, std) baseline
    as a DataFrame ``(keys..., BASELINE_MEAN, BASELINE_STD)`` — the
    millions-of-groups form (no driver collect). Same order-free
    integer-moment contract (Σ round(x·10⁶) exact BIGINT-quantized sums,
    double-FIRST division); the NaN and |x| ≤ ZQ_SAFE_MAX guards are
    per-row executor-side raises at action time. All-null groups are
    dropped; single-value groups freeze std = 0.0 — dict-producer parity.
    """
    keys = resolve_cols(df, as_list(group_by))
    v = resolve_col(df, column)
    # SQL text: one parse per expression instead of one py4j round trip
    # per operator, a driver-side cost every dict-path call pays
    x = "CAST(`%s` AS DOUBLE)" % v.replace("`", "``")

    def fail(msg):
        lit = msg.replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST(raise_error('{lit}') AS DOUBLE)"

    # the filter that drops NULL rows is the guard: it raises on a bad row
    # before the row reaches the sums
    guarded = (
        f"CASE WHEN isnan({x}) THEN " + fail(
            f"zscore_stats_frame: {column} contains NaN — clean the "
            "column before freezing a baseline")
        + f" WHEN abs({x}) > {ZQ_SAFE_MAX!r}D THEN " + fail(
            f"zscore_stats_frame: |{column}| exceeds the quantization-safe "
            f"bound {ZQ_SAFE_MAX:g} — rescale before freezing a baseline")
        + f" ELSE {x} END IS NOT NULL"
    )
    n = f"count({x})"
    s1 = f"CAST(sum(CAST(round({x} * {ZQ_SCALE}, 0) AS DECIMAL(38,0))) AS DOUBLE)"
    s2 = f"CAST(sum(CAST(round({x} * {x} * {ZQ_SCALE}, 0) AS DECIMAL(38,0))) AS DOUBLE)"
    mean = f"({s1} / {n} / {ZQ_SCALE})"
    var = f"greatest(0.0D, ({s2} / {ZQ_SCALE} - {n} * {mean} * {mean}) / ({n} - 1))"
    out = df.filter(guarded).groupBy(*keys).agg(
        F.expr(f"{mean} AS BASELINE_MEAN"),
        F.expr(f"CASE WHEN {n} > 1 THEN sqrt({var}) ELSE 0.0D END AS BASELINE_STD"),
    )
    # every group the guard passes has n >= 1, but a global aggregate
    # yields one row even over no rows: that row is no group
    return out if keys else out.filter("BASELINE_MEAN IS NOT NULL")


def mad_against_stats(
    df: DataFrame,
    column: str,
    stats,
    group_by=None,
    threshold: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Per-group robust anomaly report of ``df`` against FROZEN
    (median, MAD) baselines (from :func:`mad_stats`) — the per-micro-batch
    body of ``stream_anomaly(method='mad')``. Output per group: ``N``,
    ``N_OUTLIERS`` (rows with |0.6745·(x − median)/MAD| > threshold),
    ``OUTLIER_RATE``, ``BATCH_MEDIAN`` (exact percentile),
    ``BASELINE_MEDIAN``, ``MEDIAN_SHIFT_Z`` (the batch-median shift in
    modified-z units — the robust drift alarm). Groups absent from the
    baseline report N with null statistics. A zero-MAD baseline counts any
    x ≠ median as an outlier and leaves the shift null.

    ``stats`` is the :func:`mad_stats` dict (baseline joins as a
    ≤|groups|-row broadcast literal — monitor-grade group counts) or the
    :func:`mad_stats_frame` DataFrame (baseline joins null-safely with no
    forced broadcast — the millions-of-groups path, AQE-sized).

    Scale: ONE hash aggregate on the group keys (the exact batch-median
    buffers one group's batch values — the micro-batch envelope).
    Exact-percentile arithmetic replays bit-for-bit as SQL.
    """
    if threshold <= 0:
        raise ParameterException("threshold must be > 0")
    keys = resolve_cols(df, as_list(group_by))
    v = resolve_col(df, column)
    staged = _stage_baseline(df, keys, stats, ("__bm", "__bd"),
                             ("BASELINE_MEDIAN", "BASELINE_MAD"))
    x = F.col(v).cast("double")
    z = F.round(F.lit(0.6745) * (x - F.col("__bm")) / F.col("__bd"), round_to)
    outlier = (
        F.when(F.col("__bm").isNull() | x.isNull(), F.lit(None).cast("int"))
        .when((F.col("__bd") > 0) & (F.abs(z) > threshold), 1)
        .when((F.col("__bd") <= 0) & (x != F.col("__bm")), 1)
        .otherwise(0)
    )
    agg = staged.groupBy(*keys).agg(
        F.count(v).alias("N"),
        F.sum(outlier).cast("bigint").alias("N_OUTLIERS"),
        F.percentile(x, F.lit(0.5)).alias("__bmed"),
        F.max("__bm").alias("__m"),
        F.max("__bd").alias("__d"),
    )
    return agg.select(
        *keys,
        "N",
        "N_OUTLIERS",
        F.when(
            F.col("__m").isNotNull() & (F.col("N") > 0),
            F.round(F.col("N_OUTLIERS") / F.col("N"), round_to),
        ).alias("OUTLIER_RATE"),
        F.when(F.col("N") > 0, F.round(F.col("__bmed"), round_to)).alias(
            "BATCH_MEDIAN"
        ),
        F.round(F.col("__m"), round_to).alias("BASELINE_MEDIAN"),
        F.when(
            (F.col("__d") > 0) & (F.col("N") > 0),
            F.round(
                F.lit(0.6745) * (F.col("__bmed") - F.col("__m")) / F.col("__d"),
                round_to,
            ),
        ).alias("MEDIAN_SHIFT_Z"),
    )
