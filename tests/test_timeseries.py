"""Time-series quartet: EWMA, rolling-z anomaly, CUSUM changepoint,
seasonal decomposition. Semantics pinned against pandas / hand-computed
values; renderers pinned by spark.sql round-trip equivalence."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions.timeseries import (
    _r_anomaly_zscore,
    _r_changepoint_detect,
    _r_ewma,
    _r_seasonal_decompose,
    anomaly_zscore,
    changepoint_detect,
    ewma,
    seasonal_decompose,
)

from conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="module")
def series(spark):
    vals = [10.0, 12.0, 11.0, 13.0, 50.0, 12.0, 11.5, 13.5, 12.0, 11.0]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "t INT, x DOUBLE"
    )


# --------------------------------------------------------------------------
# ewma
# --------------------------------------------------------------------------

def test_ewma_matches_pandas_when_span_covers_series(series):
    """With span >= series length the truncation is inactive, so the result
    IS pandas ewm(adjust=True)."""
    out = ewma(series, "x", order_by=["t"], alpha=0.3, span=16, round_to=6)
    got = {r["t"]: r["EWMA_X"] for r in out.collect()}
    exp = pd.Series([10.0, 12.0, 11.0, 13.0, 50.0, 12.0, 11.5, 13.5, 12.0, 11.0]).ewm(
        alpha=0.3, adjust=True
    ).mean()
    for t, e in enumerate(exp):
        assert got[t] == pytest.approx(round(e, 6), abs=2e-6)


def test_ewma_truncation_window(series):
    """span=1 degenerates to the value itself."""
    out = ewma(series, "x", order_by=["t"], alpha=0.5, span=1)
    for r in out.collect():
        assert r["EWMA_X"] == pytest.approx(r["x"], abs=1e-9)


def test_ewma_skips_nulls_in_numerator_and_weights(spark):
    df = spark.createDataFrame(
        [(0, 10.0), (1, None), (2, 20.0)], "t INT, x DOUBLE"
    )
    out = {r["t"]: r["EWMA_X"] for r in ewma(df, "x", ["t"], alpha=0.5, span=4).collect()}
    # t=2: weights 1 (x=20) and 0.25 (x=10); the null at t=1 contributes nothing
    assert out[2] == pytest.approx(round((20.0 + 0.25 * 10.0) / 1.25, 6))
    assert out[1] == pytest.approx(10.0)  # only the lagged value is present


def test_ewma_validation(series):
    with pytest.raises(ParameterException):
        ewma(series, "x", ["t"], alpha=1.5)
    with pytest.raises(ParameterException):
        ewma(series, "x", ["t"], alpha=0.3, span=0)
    with pytest.raises(ParameterException):
        ewma(series, "x", ["t"], alpha=0.3, span=1000)


def test_ewma_renderer_roundtrip(spark, events):
    events.createOrReplaceTempView("__ewma_src")
    via_sql = spark.sql(
        _r_ewma("__ewma_src", "value", ["ts", "event_id"], 0.3,
                partition=["user_id"], span=8)
    ).select("event_id", "EWMA_VALUE")
    direct = ewma(events, "value", ["ts", "event_id"], 0.3,
                  partition=["user_id"], span=8).select("event_id", "EWMA_VALUE")
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


# --------------------------------------------------------------------------
# anomaly_zscore
# --------------------------------------------------------------------------

def test_anomaly_flags_planted_spike(series):
    # the spike inflates its own trailing-window stddev (z ≈ 1.79), so the
    # detection threshold sits below that
    out = anomaly_zscore(series, "x", order_by=["t"], window=10, threshold=1.5,
                         min_periods=3)
    rows = {r["t"]: r for r in out.collect()}
    assert rows[4]["IS_ANOMALY"] is True           # the planted 50.0
    assert sum(r["IS_ANOMALY"] for r in rows.values()) == 1
    # warm-up rows below min_periods have null z and false flag
    assert rows[0]["ZSCORE_X"] is None and rows[0]["IS_ANOMALY"] is False
    assert rows[1]["ZSCORE_X"] is None


def test_anomaly_zscore_value(series):
    """z at the spike equals the hand-computed trailing-window statistic."""
    out = {r["t"]: r["ZSCORE_X"] for r in anomaly_zscore(
        series, "x", ["t"], window=10, threshold=2.0, min_periods=3).collect()}
    vals = [10.0, 12.0, 11.0, 13.0, 50.0]
    m = sum(vals) / 5
    sd = math.sqrt(sum((v - m) ** 2 for v in vals) / 4)
    assert out[4] == pytest.approx(round((50.0 - m) / sd, 6), abs=1e-6)


def test_anomaly_constant_window_is_null_not_division_error(spark):
    df = spark.createDataFrame([(i, 5.0) for i in range(6)], "t INT, x DOUBLE")
    out = anomaly_zscore(df, "x", ["t"], window=4, min_periods=2)
    assert all(r["ZSCORE_X"] is None and r["IS_ANOMALY"] is False
               for r in out.collect())


def test_anomaly_validation(series):
    with pytest.raises(ParameterException):
        anomaly_zscore(series, "x", ["t"], window=1)
    with pytest.raises(ParameterException):
        anomaly_zscore(series, "x", ["t"], min_periods=1)
    with pytest.raises(ParameterException):
        anomaly_zscore(series, "x", ["t"], threshold=0)


def test_anomaly_renderer_roundtrip(spark, events):
    events.createOrReplaceTempView("__anom_src")
    via_sql = spark.sql(
        _r_anomaly_zscore("__anom_src", "value", ["ts", "event_id"], 10,
                          ["user_id"], 2.0)
    ).select("event_id", "ZSCORE_VALUE", "IS_ANOMALY")
    direct = anomaly_zscore(events, "value", ["ts", "event_id"], window=10,
                            partition=["user_id"], threshold=2.0
                            ).select("event_id", "ZSCORE_VALUE", "IS_ANOMALY")
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


# --------------------------------------------------------------------------
# changepoint_detect
# --------------------------------------------------------------------------

def test_changepoint_finds_planted_mean_shift(spark):
    # level 0 for t<10, level 10 for t>=10 -> |CUSUM| peaks at t=9
    rows = [(i, 0.0 if i < 10 else 10.0) for i in range(20)]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE")
    out = changepoint_detect(df, "x", order_by=["t"]).collect()
    assert len(out) == 1
    assert out[0]["t"] == 9
    assert out[0]["CUSUM_STAT"] == pytest.approx(-50.0)  # 10 * (0 - 5)


def test_changepoint_one_row_per_group(events):
    out = changepoint_detect(events, "value", order_by=["ts", "event_id"],
                             group_by=["event_type"])
    n_types = events.select("event_type").distinct().count()
    assert out.count() == n_types
    assert set(out.columns) == {"event_type", "ts", "event_id", "CUSUM_STAT"}


def test_changepoint_renderer_roundtrip(spark, events):
    events.createOrReplaceTempView("__cp_src")
    via_sql = spark.sql(
        _r_changepoint_detect("__cp_src", "value", ["ts", "event_id"],
                              ["event_type"])
    )
    direct = changepoint_detect(events, "value", ["ts", "event_id"],
                                ["event_type"])
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


# --------------------------------------------------------------------------
# seasonal_decompose
# --------------------------------------------------------------------------

def test_seasonal_reconstruction_identity(events):
    """Where TREND is defined, TREND + SEASONAL + RESIDUAL == value (to
    rounding)."""
    out = seasonal_decompose(events, "value", order_by=["ts", "event_id"],
                             period=7, partition=["user_id"])
    chk = out.filter(F.col("TREND").isNotNull()).withColumn(
        "__err",
        F.abs(F.col("TREND") + F.col("SEASONAL") + F.col("RESIDUAL")
              - F.col("value")),
    )
    assert chk.count() > 0
    assert chk.agg(F.max("__err")).first()[0] < 1e-5


def test_seasonal_recovers_planted_cycle(spark):
    # pure period-4 seasonal pattern on a flat level: seasonal means must
    # recover the pattern (centered), residuals ~ 0
    pat = [5.0, -1.0, -3.0, -1.0]
    rows = [(i, 100.0 + pat[i % 4]) for i in range(40)]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE")
    out = seasonal_decompose(df, "x", order_by=["t"], period=4)
    mid = out.filter("TREND IS NOT NULL")
    seas = {r["SEASON_POS"]: r["SEASONAL"] for r in mid.collect()}
    for p_idx, p_val in enumerate(pat):
        assert seas[p_idx] == pytest.approx(p_val, abs=0.2)
    assert mid.agg(F.max(F.abs("RESIDUAL"))).first()[0] < 0.2


def test_seasonal_edges_have_null_trend(spark):
    rows = [(i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE")
    out = {r["t"]: r for r in seasonal_decompose(
        df, "x", order_by=["t"], period=5).collect()}
    # centered 5-frame: first 2 and last 2 rows lack a full frame
    for t in (0, 1, 8, 9):
        assert out[t]["TREND"] is None and out[t]["RESIDUAL"] is None
    for t in (2, 7):
        assert out[t]["TREND"] == pytest.approx(float(t))


def test_seasonal_validation(series):
    with pytest.raises(ParameterException):
        seasonal_decompose(series, "x", ["t"], period=1)


def test_seasonal_renderer_roundtrip(spark, events):
    events.createOrReplaceTempView("__seas_src")
    cols = ["event_id", "SEASON_POS", "TREND", "SEASONAL", "RESIDUAL"]
    via_sql = spark.sql(
        _r_seasonal_decompose("__seas_src", "value", ["ts", "event_id"], 7,
                              ["user_id"])
    ).select(*cols)
    direct = seasonal_decompose(events, "value", ["ts", "event_id"], 7,
                                ["user_id"]).select(*cols)
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


# --------------------------------------------------------------------------
# pct_change
# --------------------------------------------------------------------------

def test_pct_change_matches_pandas(series):
    from rasgoql_spark.functions.timeseries import pct_change

    out = {r["t"]: r["PCT_CHANGE_X"] for r in
           pct_change(series, "x", ["t"]).collect()}
    exp = pd.Series([10.0, 12.0, 11.0, 13.0, 50.0, 12.0, 11.5, 13.5, 12.0,
                     11.0]).pct_change()
    assert out[0] is None
    for t in range(1, 10):
        assert out[t] == pytest.approx(exp[t], abs=1e-6)


def test_pct_change_zero_base_is_null(spark):
    from rasgoql_spark.functions.timeseries import pct_change

    df = spark.createDataFrame([(0, 0.0), (1, 5.0)], "t INT, x DOUBLE")
    out = {r["t"]: r["PCT_CHANGE_X"] for r in
           pct_change(df, "x", ["t"]).collect()}
    assert out[1] is None  # base 0 -> no ±inf row


def test_pct_change_renderer_roundtrip(spark, events):
    from rasgoql_spark.functions.timeseries import _r_pct_change, pct_change

    events.createOrReplaceTempView("__pct_src")
    via_sql = spark.sql(
        _r_pct_change("__pct_src", "value", ["ts", "event_id"], 2, ["user_id"])
    ).select("event_id", "PCT_CHANGE_VALUE")
    direct = pct_change(events, "value", ["ts", "event_id"], 2, ["user_id"]
                        ).select("event_id", "PCT_CHANGE_VALUE")
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


# --------------------------------------------------------------------------
# autocorrelation
# --------------------------------------------------------------------------

def test_acf_matches_pandas(spark):
    from rasgoql_spark.functions.timeseries import autocorrelation

    vals = [float(((i * 7) % 13) + (i % 3)) for i in range(200)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "t INT, x DOUBLE")
    row = autocorrelation(df, "x", ["t"], lags=[1, 2, 5]).collect()[0]
    s = pd.Series(vals)
    for k in (1, 2, 5):
        assert row[f"ACF_{k}"] == pytest.approx(s.autocorr(k), abs=1e-4)
    assert row["N"] == 200


def test_acf_perfect_periodicity(spark):
    from rasgoql_spark.functions.timeseries import autocorrelation

    vals = [float(i % 4) for i in range(80)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "t INT, x DOUBLE")
    row = autocorrelation(df, "x", ["t"], lags=[4]).collect()[0]
    assert row["ACF_4"] == pytest.approx(1.0)


def test_acf_constant_series_is_null(spark):
    from rasgoql_spark.functions.timeseries import autocorrelation

    df = spark.createDataFrame([(i, 7.0) for i in range(20)], "t INT, x DOUBLE")
    row = autocorrelation(df, "x", ["t"], lags=[1]).collect()[0]
    assert row["ACF_1"] is None


def test_acf_validation(series):
    from rasgoql_spark.functions.timeseries import autocorrelation

    with pytest.raises(ParameterException):
        autocorrelation(series, "x", ["t"], lags=[])
    with pytest.raises(ParameterException):
        autocorrelation(series, "x", ["t"], lags=[0])
    with pytest.raises(ParameterException):
        autocorrelation(series, "x", ["t"], lags=[99])


def test_acf_renderer_roundtrip(spark, events):
    from rasgoql_spark.functions.timeseries import (
        _r_autocorrelation,
        autocorrelation,
    )

    events.createOrReplaceTempView("__acf_src")
    via_sql = spark.sql(
        _r_autocorrelation("__acf_src", "value", ["ts", "event_id"], [1, 3],
                           ["event_type"])
    )
    direct = autocorrelation(events, "value", ["ts", "event_id"], [1, 3],
                             ["event_type"])
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


# --------------------------------------------------------------------------
# cross_correlation
# --------------------------------------------------------------------------

def test_ccf_detects_planted_lag(spark):
    """y leads x by 3: corr(x_t, y_{t-3}) ~ 1, other lags near 0."""
    from rasgoql_spark.functions.timeseries import cross_correlation

    base = [float(((i * 7) % 13) - 6) for i in range(200)]
    rows = [(i, base[i - 3] if i >= 3 else 0.0, base[i]) for i in range(200)]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE, y DOUBLE")
    row = cross_correlation(df, "x", "y", ["t"], lags=[0, 3]).collect()[0]
    assert row["CCF_3"] == pytest.approx(1.0, abs=0.05)
    # the periodic base self-correlates at shift 3 (~-0.43), so lag 0 is
    # merely "clearly weaker than the planted alignment", not ~0
    assert abs(row["CCF_0"]) < 0.6


def test_ccf_negative_lag_is_lead(spark):
    """CCF at lag -k on (x, y) equals CCF at +k with the roles swapped."""
    from rasgoql_spark.functions.timeseries import cross_correlation

    rows = [(i, float((i * 5) % 11), float((i * 3) % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE, y DOUBLE")
    fwd = cross_correlation(df, "x", "y", ["t"], lags=[-2]).collect()[0]
    swp = cross_correlation(df, "y", "x", ["t"], lags=[2]).collect()[0]
    assert fwd["CCF_NEG_2"] == pytest.approx(swp["CCF_2"], abs=1e-6)


def test_ccf_matches_acf_on_self(spark):
    from rasgoql_spark.functions.timeseries import autocorrelation, cross_correlation

    rows = [(i, float(((i * 7) % 13) + (i % 3))) for i in range(150)]
    df = spark.createDataFrame(rows, "t INT, x DOUBLE")
    ccf = cross_correlation(df, "x", "x", ["t"], lags=[2]).collect()[0]
    acf = autocorrelation(df, "x", ["t"], lags=[2]).collect()[0]
    assert ccf["CCF_2"] == acf["ACF_2"]


def test_ccf_validation(series):
    from rasgoql_spark.functions.timeseries import cross_correlation

    with pytest.raises(ParameterException):
        cross_correlation(series, "x", "x", ["t"], lags=[])
    with pytest.raises(ParameterException):
        cross_correlation(series, "x", "x", ["t"], lags=[99])


def test_ccf_renderer_roundtrip(spark, events):
    from rasgoql_spark.functions.timeseries import (
        _r_cross_correlation,
        cross_correlation,
    )

    staged = events.withColumn("y2", (F.col("user_id") % 97).cast("double"))
    staged.createOrReplaceTempView("__ccf_src")
    via_sql = spark.sql(_r_cross_correlation(
        "__ccf_src", "value", "y2", ["ts", "event_id"], [-1, 0, 1],
        ["event_type"]))
    direct = cross_correlation(staged, "value", "y2", ["ts", "event_id"],
                               [-1, 0, 1], ["event_type"])
    assert via_sql.exceptAll(direct).count() == 0
    assert direct.exceptAll(via_sql).count() == 0


def test_zscore_stats_rejects_overflow_magnitudes(spark):
    # |x| beyond ZQ_SAFE_MAX would silently saturate the BIGINT x**2
    # quantization in Spark (and error in ANSI engines) — reject loudly
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.timeseries import zscore_stats

    ok = spark.createDataFrame(
        [("a", 2.9e6), ("a", -2.9e6)], "g string, v double"
    )
    assert zscore_stats(ok, "v", ["g"])  # inside the bound: fine
    bad = spark.createDataFrame(
        [("a", 1.0), ("a", 4.0e6)], "g string, v double"
    )
    with _pytest.raises(ParameterException):
        zscore_stats(bad, "v", ["g"])


def test_zscore_stats_rejects_nan(spark):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.timeseries import zscore_stats

    df = spark.createDataFrame(
        [("a", 1.0), ("a", float("nan"))], "g string, v double"
    )
    with _pytest.raises(ParameterException):
        zscore_stats(df, "v", ["g"])


def test_anomaly_mad_known_values(spark):
    from rasgoql_spark.functions.timeseries import anomaly_mad

    # group a: median 3, MAD 1; 100.0 is a blatant outlier the mean/std
    # z-score would partially mask (it inflates std to ~48)
    rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["v"]: r for r in anomaly_mad(df, "v", ["g"]).collect()}
    assert out[3.0]["V_MEDIAN"] == 3.0
    assert out[3.0]["V_MAD"] == 1.0
    assert out[100.0]["IS_OUTLIER_MAD"] == 1
    assert out[100.0]["MOD_Z_VALUE" if False else "MOD_Z_V"] == round(
        0.6745 * 97.0, 6)
    assert all(out[v]["IS_OUTLIER_MAD"] == 0 for v in (1.0, 2.0, 3.0, 4.0))


def test_anomaly_mad_zero_spread_and_nulls(spark):
    from rasgoql_spark.functions.timeseries import anomaly_mad

    rows = [("a", 5.0), ("a", 5.0), ("a", 5.0), ("a", 7.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = anomaly_mad(df, "v", ["g"]).collect()
    a = [r for r in out if r["g"] == "a"]
    # MAD = 0 (median of deviations 0,0,0,2): any deviation flags
    assert all(r["MOD_Z_V"] is None for r in a)
    assert sorted(r["IS_OUTLIER_MAD"] for r in a) == [0, 0, 0, 1]
    b = [r for r in out if r["g"] == "b"]
    assert b[0]["IS_OUTLIER_MAD"] is None


def test_anomaly_mad_renderer_roundtrip(spark):
    from rasgoql_spark.functions.timeseries import _r_anomaly_mad, anomaly_mad

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.createOrReplaceTempView("__mad_rt")
    sql = _r_anomaly_mad("__mad_rt", "value", ["event_type"],
                         _input_columns=tuple(ev.columns))
    a = {(r["event_id"], r["MOD_Z_VALUE"], r["IS_OUTLIER_MAD"])
         for r in spark.sql(sql)
         .select("event_id", "MOD_Z_VALUE", "IS_OUTLIER_MAD").collect()}
    b = {(r["event_id"], r["MOD_Z_VALUE"], r["IS_OUTLIER_MAD"])
         for r in anomaly_mad(ev, "value", ["event_type"])
         .select("event_id", "MOD_Z_VALUE", "IS_OUTLIER_MAD").collect()}
    assert a == b


def test_mad_stats_and_against_stats(spark):
    from rasgoql_spark.functions.timeseries import mad_against_stats, mad_stats

    baseline = spark.createDataFrame(
        [("a", float(v % 9)) for v in range(180)] + [("a", 500.0)],
        "g string, v double",
    )
    stats = mad_stats(baseline, "v", ["g"])
    med, mad = stats[("a",)]
    # the single 500.0 in the baseline cannot move median/MAD (robustness)
    assert med == 4.0 and mad == 2.0
    batch = spark.createDataFrame(
        [("a", float(v % 9)) for v in range(30)] + [("a", 400.0)]
        + [("b", 1.0)],
        "g string, v double",
    )
    out = {r["g"]: r for r in
           mad_against_stats(batch, "v", stats, ["g"]).collect()}
    a = out["a"]
    assert a["N"] == 31 and a["N_OUTLIERS"] == 1
    assert a["BASELINE_MEDIAN"] == 4.0
    assert abs(a["MEDIAN_SHIFT_Z"]) < 3.5   # batch center is in-distribution
    assert out["b"]["BASELINE_MEDIAN"] is None   # unknown group: null stats


def test_stream_anomaly_mad_method(spark, tmp_path_factory):
    from rasgoql_spark.functions.timeseries import mad_against_stats, mad_stats
    from rasgoql_spark.streaming.ops import stream_anomaly

    tmp = tmp_path_factory.mktemp("smad")
    baseline = spark.createDataFrame(
        [("a", float(v % 9)) for v in range(90)], "g string, v double"
    )
    stats = mad_stats(baseline, "v", ["g"])
    b1 = [("a", float(v % 9)) for v in range(20)]
    b2 = [("a", 60.0 + v) for v in range(20)]     # shifted far out
    src = str(tmp / "in")
    spark.createDataFrame(b1, "g string, v double").coalesce(1)\
        .write.mode("append").parquet(src)
    spark.createDataFrame(b2, "g string, v double").coalesce(1)\
        .write.mode("append").parquet(src)
    sdf = (spark.readStream.schema("g string, v double")
           .option("maxFilesPerTrigger", 1).parquet(src))
    sink = str(tmp / "out")
    q = stream_anomaly(sdf, "v", checkpoint=str(tmp / "ckpt"),
                       expected=stats, group_by=["g"], method="mad",
                       sink_path=sink)
    q.awaitTermination(120)
    landed = spark.read.parquet(sink).collect()
    by_batch = {r["batch"]: r for r in landed}
    assert by_batch[0]["N_OUTLIERS"] == 0
    assert by_batch[1]["N_OUTLIERS"] == 20
    assert abs(by_batch[1]["MEDIAN_SHIFT_Z"]) > 3.5
    # per-batch rows equal the batch-mode scorer bit-for-bit
    want = {tuple(r) for r in mad_against_stats(
        spark.createDataFrame(b2, "g string, v double"), "v", stats,
        ["g"]).collect()}
    got = {tuple(r)[:-1] for r in landed if r["batch"] == 1}
    assert got == want


def test_stream_anomaly_method_validation(spark, tmp_path_factory):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.streaming.ops import stream_anomaly

    tmp = tmp_path_factory.mktemp("smadv")
    b = spark.createDataFrame([("a", 1.0)], "g string, v double")
    src = str(tmp / "in")
    b.write.parquet(src)
    sdf = spark.readStream.schema("g string, v double").parquet(src)
    with _pytest.raises(ParameterException):
        stream_anomaly(sdf, "v", checkpoint=str(tmp / "c"), expected={(): (0, 1)},
                       method="mean", sink_path=str(tmp / "o"))


def test_mad_stats_rejects_nan(spark):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.functions.timeseries import mad_stats

    df = spark.createDataFrame(
        [("a", 1.0), ("a", float("nan"))], "g string, v double"
    )
    with _pytest.raises(ParameterException):
        mad_stats(df, "v", ["g"])


@pytest.mark.parametrize("values", [[], [None, None]], ids=["empty", "all_null"])
def test_keyless_baseline_without_data_is_empty(spark, values):
    # a global aggregate yields one row even over no rows; that row is not
    # a group: the dict producers reject the baseline and the z-score frame
    # holds no row
    from rasgoql_spark.functions.timeseries import (
        mad_stats,
        zscore_stats,
        zscore_stats_frame,
    )

    df = spark.createDataFrame([(v,) for v in values], "v double")
    for producer in (zscore_stats, mad_stats):
        with pytest.raises(ParameterException, match="baseline is empty"):
            producer(df, "v")
    assert zscore_stats_frame(df, "v").collect() == []


# --- round-12 frame-based baselines (the millions-of-groups path) ---------

def test_mad_stats_frame_matches_dict(spark):
    from rasgoql_spark.functions.timeseries import mad_stats, mad_stats_frame

    df = spark.createDataFrame(
        [(f"g{i % 3}", float(i % 7) + i * 0.1) for i in range(60)],
        "g STRING, v DOUBLE")
    d = mad_stats(df, "v", group_by=["g"])
    f = {(r["g"],): (r["BASELINE_MEDIAN"], r["BASELINE_MAD"])
         for r in mad_stats_frame(df, "v", group_by=["g"]).collect()}
    assert set(d) == set(f)
    for k in d:
        assert d[k][0] == pytest.approx(f[k][0], abs=1e-12)
        assert d[k][1] == pytest.approx(f[k][1], abs=1e-12)


def test_zscore_stats_frame_matches_dict(spark):
    from rasgoql_spark.functions.timeseries import zscore_stats, zscore_stats_frame

    df = spark.createDataFrame(
        [(f"g{i % 3}", float(i % 11) - 2.5) for i in range(90)],
        "g STRING, v DOUBLE")
    d = zscore_stats(df, "v", group_by=["g"])
    f = {(r["g"],): (r["BASELINE_MEAN"], r["BASELINE_STD"])
         for r in zscore_stats_frame(df, "v", group_by=["g"]).collect()}
    assert set(d) == set(f)
    for k in d:
        assert d[k][0] == pytest.approx(f[k][0], abs=1e-12)
        assert d[k][1] == pytest.approx(f[k][1], abs=1e-12)


def test_against_stats_accepts_frames(spark):
    """Scoring against the *_stats_frame DataFrame must equal scoring
    against the dict — same report, no collect anywhere in the frame
    path."""
    from rasgoql_spark.functions.timeseries import (
        mad_against_stats, mad_stats, mad_stats_frame,
        zscore_against_stats, zscore_stats, zscore_stats_frame,
    )

    base = spark.createDataFrame(
        [(f"g{i % 4}", float(i % 9)) for i in range(80)], "g STRING, v DOUBLE")
    batch = spark.createDataFrame(
        [(f"g{i % 5}", float(i % 13)) for i in range(50)], "g STRING, v DOUBLE")
    for stats_fn, frame_fn, against in (
        (mad_stats, mad_stats_frame, mad_against_stats),
        (zscore_stats, zscore_stats_frame, zscore_against_stats),
    ):
        via_dict = sorted(map(tuple, against(
            batch, "v", stats_fn(base, "v", ["g"]), group_by=["g"]).collect()))
        via_frame = sorted(map(tuple, against(
            batch, "v", frame_fn(base, "v", ["g"]), group_by=["g"]).collect()))
        assert via_dict == via_frame


def test_stats_frame_nan_guard_raises_at_action(spark):
    from rasgoql_spark.functions.timeseries import mad_stats_frame, zscore_stats_frame

    df = spark.createDataFrame([("g", float("nan")), ("g", 1.0)],
                               "g STRING, v DOUBLE")
    for fn in (mad_stats_frame, zscore_stats_frame):
        with pytest.raises(Exception, match="NaN"):
            fn(df, "v", ["g"]).collect()
