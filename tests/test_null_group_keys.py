"""A NULL group key present in a baseline, a stats table or a spent-count
table is a real group at every site that attaches per-group values through
``operators._util.null_safe_join``: each site returns, for the NULL group,
exactly what it returns when that group carries a real key."""

import pytest
from pyspark.sql import functions as F

from rasgoql_spark.functions.curation import l_diversity, t_closeness
from rasgoql_spark.functions.timeseries import (
    _r_anomaly_mad,
    anomaly_mad,
    mad_against_stats,
    mad_stats,
    mad_stats_frame,
    zscore_against_stats,
    zscore_stats,
    zscore_stats_frame,
)
from rasgoql_spark.streaming.ops import quota_admit

FILL = "~null~"

# three groups of 13 values (id, g, v, s); the NULL group holds one outlier
# and three sensitive values, "a" two and "b" one
BASE = [
    (i, g, 30.0 if (g is None and i % 13 == 12) else float(i % 5), i % (3 - n))
    for n, g in enumerate((None, "a", "b"))
    for i in range(n * 13, n * 13 + 13)
]
BATCH = [(100 + i, g, float(i % 7) + (40.0 if i == 3 else 0.0), 0)
         for i in range(9) for g in (None, "a", "c")]
SCHEMA = "id long, g string, v double, s long"


def _inputs(spark, fill):
    """(baseline, batch, spent) frames; with ``fill``, the NULL key
    replaced by that real key."""
    base = spark.createDataFrame(BASE, SCHEMA)
    batch = spark.createDataFrame(BATCH, SCHEMA)
    spent = spark.createDataFrame([(None, 2), ("a", 1)], "g string, __spent bigint")
    if fill is None:
        return base, batch, spent
    return tuple(d.withColumn("g", F.coalesce("g", F.lit(fill))) for d in (base, batch, spent))


def _anomaly_mad_sql(spark, base, batch, spent):
    base.createOrReplaceTempView("__null_group_base")
    return spark.sql(_r_anomaly_mad("__null_group_base", "v", ["g"],
                                    _input_columns=tuple(base.columns)))


SITES = {
    "l_diversity": lambda spark, base, batch, spent: l_diversity(
        base, ["g"], "s", l=3, action="flag"),
    "t_closeness": lambda spark, base, batch, spent: t_closeness(
        base, ["g"], "s", t=0.3, action="flag"),
    "quota_admit": lambda spark, base, batch, spent: quota_admit(
        batch, spent, ["g"], 4, [F.col("v").desc(), F.col("id")], ["id", "g", "v"]),
    "anomaly_mad": lambda spark, base, batch, spent: anomaly_mad(base, "v", ["g"]),
    "anomaly_mad_sql": _anomaly_mad_sql,
    "zscore_against_stats-dict": lambda spark, base, batch, spent: zscore_against_stats(
        batch, "v", zscore_stats(base, "v", ["g"]), ["g"], threshold=2.0),
    "zscore_against_stats-frame": lambda spark, base, batch, spent: zscore_against_stats(
        batch, "v", zscore_stats_frame(base, "v", ["g"]), ["g"], threshold=2.0),
    "mad_against_stats-dict": lambda spark, base, batch, spent: mad_against_stats(
        batch, "v", mad_stats(base, "v", ["g"]), ["g"]),
    "mad_against_stats-frame": lambda spark, base, batch, spent: mad_against_stats(
        batch, "v", mad_stats_frame(base, "v", ["g"]), ["g"]),
}


# what the NULL group's rows must show: the per-group values attached
NULL_GROUP = {
    "l_diversity": lambda rows: all(
        (r["DISTINCT_SENSITIVE"], r["IS_L_DIVERSE"]) == (3, 1) for r in rows),
    "t_closeness": lambda rows: all(r["T_DISTANCE"] is not None for r in rows),
    "quota_admit": lambda rows: len(rows) == 4 - 2,  # quota less prior spend
    "anomaly_mad": lambda rows: sum(r["IS_OUTLIER_MAD"] for r in rows) == 1,
    "anomaly_mad_sql": lambda rows: sum(r["IS_OUTLIER_MAD"] for r in rows) == 1,
    "zscore_against_stats-dict": lambda rows: (
        rows[0]["BASELINE_MEAN"] is not None and rows[0]["N_ANOMALIES"] == 1),
    "zscore_against_stats-frame": lambda rows: (
        rows[0]["BASELINE_MEAN"] is not None and rows[0]["N_ANOMALIES"] == 1),
    "mad_against_stats-dict": lambda rows: (
        rows[0]["BASELINE_MEDIAN"] is not None and rows[0]["N_OUTLIERS"] == 1),
    "mad_against_stats-frame": lambda rows: (
        rows[0]["BASELINE_MEDIAN"] is not None and rows[0]["N_OUTLIERS"] == 1),
}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("site", list(SITES))
def test_null_group_key_is_a_real_group(spark, site):
    run = SITES[site]
    got = run(spark, *_inputs(spark, None))
    ref = run(spark, *_inputs(spark, FILL))
    ref = ref.withColumn("g", F.when(F.col("g") != FILL, F.col("g")))
    assert _rows(got) == _rows(ref)
    null_rows = [r for r in got.collect() if r["g"] is None]
    assert null_rows and NULL_GROUP[site](null_rows)
    if site == "anomaly_mad_sql":
        # the renderer agrees with execution, NULL group included
        def canon(df):
            return _rows(df.select("id", "g", "v", "MOD_Z_V", "IS_OUTLIER_MAD"))

        assert canon(got) == canon(anomaly_mad(_inputs(spark, None)[0], "v", ["g"]))
