"""Mergeable HLL cardinality sketches: exactness in the small regime,
merge associativity, error bounds, overlap inclusion-exclusion."""

import pytest
from pyspark.sql import functions as F

from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions.sketch import (
    hll_estimate,
    hll_merge,
    hll_overlap,
    hll_sketch,
)


@pytest.fixture(scope="module")
def ids(spark):
    # 4 consecutive-range shards x 3000 rows; every shard covers the SAME
    # 200 uids (3000 consecutive ids span all 200 residues), so any merge
    # granularity must estimate the same 200
    return spark.range(12000).select(
        (F.col("id") / 3000).cast("int").alias("shard"),
        (F.col("id") % 200).alias("uid"),
    )


def test_sketch_estimate_exact_in_sparse_regime(spark):
    df = spark.range(2000).select((F.col("id") % 150).alias("v"))
    sk = hll_sketch(df, ["v"], lg_k=12)
    est = hll_estimate(sk, ["V_SKETCH"]).collect()[0]
    assert est["V_SKETCH_ESTIMATE"] == 150  # sparse mode stores hashes exactly


def test_merge_equals_direct_sketch(ids):
    """Rolling up per-shard sketches estimates the SAME cardinality as
    sketching the whole set directly — the mergeability contract."""
    per_shard = hll_sketch(ids, ["uid"], group_by=["shard"], lg_k=12)
    rolled = hll_merge(per_shard, "UID_SKETCH").collect()[0]
    direct = hll_estimate(
        hll_sketch(ids, ["uid"], lg_k=12), ["UID_SKETCH"]
    ).collect()[0]
    assert rolled["UID_SKETCH_ESTIMATE"] == direct["UID_SKETCH_ESTIMATE"] == 200


def test_merge_partial_grouping(ids):
    per_shard = hll_sketch(ids, ["uid"], group_by=["shard"], lg_k=12)
    assert per_shard.count() == 4
    pairs = per_shard.withColumn("half", F.col("shard") % 2)
    rolled = hll_merge(pairs, "UID_SKETCH", group_by=["half"])
    rows = {r["half"]: r["UID_SKETCH_ESTIMATE"] for r in rolled.collect()}
    assert len(rows) == 2 and all(v == 200 for v in rows.values())


def test_estimate_within_rsd_in_dense_regime(spark):
    n = 200_000
    df = spark.range(n).select(F.col("id").alias("v"))
    est = hll_estimate(hll_sketch(df, ["v"], lg_k=12), ["V_SKETCH"]
                       ).collect()[0]["V_SKETCH_ESTIMATE"]
    assert abs(est - n) <= 3 * 0.016 * n  # 3·rsd at lg_k=12


def test_overlap_inclusion_exclusion(spark):
    a = spark.range(0, 8000).select(F.col("id").alias("k"))
    b = spark.range(4000, 12000).select(F.col("id").alias("k"))
    row = hll_overlap(a, b, "k", lg_k=14).collect()[0]
    assert row["N_A"] == pytest.approx(8000, rel=0.05)
    assert row["N_B"] == pytest.approx(8000, rel=0.05)
    assert row["N_UNION"] == pytest.approx(12000, rel=0.05)
    assert row["N_OVERLAP"] == pytest.approx(4000, rel=0.10)
    assert row["JACCARD"] == pytest.approx(4000 / 12000, rel=0.15)


def test_overlap_disjoint_clamps_at_zero(spark):
    a = spark.range(0, 1000).select(F.col("id").alias("k"))
    b = spark.range(5000, 6000).select(F.col("id").alias("k"))
    row = hll_overlap(a, b, "k", lg_k=14).collect()[0]
    assert row["N_OVERLAP"] <= 40  # ~0 up to sketch noise, never negative
    assert row["N_OVERLAP"] >= 0


def test_sketch_validation(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    with pytest.raises(ParameterException):
        hll_sketch(df, [], lg_k=12)
    with pytest.raises(ParameterException):
        hll_sketch(df, ["v"], lg_k=2)
    with pytest.raises(ParameterException):
        hll_overlap(df, df, "v", lg_k=99)
    with pytest.raises(ParameterException):
        hll_estimate(df.agg(F.count("*").alias("c")), [])


# --------------------------------------------------------------------------
# HLLIndex lifecycle (round 10)
# --------------------------------------------------------------------------

def test_hll_index_update_equals_full_rebuild(spark, ids):
    from pyspark.sql import functions as F

    from rasgoql_spark.functions.sketch import (
        hll_estimate,
        hll_index,
        update_hll_index,
    )

    first = ids.filter(F.col("shard") < 2)
    rest = ids.filter(F.col("shard") >= 2)
    idx = hll_index(first, "uid", group_by=["shard"], lg_k=12)
    try:
        idx2 = update_hll_index(idx, rest)
        try:
            inc = {r["shard"]: r["UID_SKETCH_ESTIMATE"] for r in hll_estimate(
                idx2.sketches, ["UID_SKETCH"]).collect()}
            full = hll_index(ids, "uid", group_by=["shard"], lg_k=12)
            try:
                direct = {r["shard"]: r["UID_SKETCH_ESTIMATE"] for r in hll_estimate(
                    full.sketches, ["UID_SKETCH"]).collect()}
            finally:
                full.release()
            # register-max union: incremental == rebuild, estimate-exact
            assert inc == direct
            assert set(inc) == {0, 1, 2, 3}
        finally:
            idx2.release()
    finally:
        idx.release()


def test_hll_index_save_load_roundtrip(spark, ids, tmp_path, index_artifacts):
    from rasgoql_spark.functions.sketch import (
        hll_estimate,
        hll_index,
        load_hll_index,
        save_hll_index,
    )

    idx = hll_index(ids, "uid", group_by=["shard"], lg_k=10)
    try:
        save_hll_index(idx, str(tmp_path / "hidx"))
        want = index_artifacts.rows(idx.sketches)
    finally:
        idx.release()
    loaded = load_hll_index(spark, str(tmp_path / "hidx"))
    try:
        assert loaded.lg_k == 10 and loaded.column == "uid"
        assert loaded.group_by == ["shard"]
        assert index_artifacts.params(spark, str(tmp_path / "hidx")) == {
            "lg_k": 10, "column": "uid", "group_by": "shard"}
        assert index_artifacts.rows(loaded.sketches) == want
        est = hll_estimate(loaded.sketches, [loaded.sketch_col]).collect()
        assert len(est) == 4 and all(r["UID_SKETCH_ESTIMATE"] == 200 for r in est)
    finally:
        loaded.release()


def test_hll_index_global_grouping(spark, ids):
    from rasgoql_spark.functions.sketch import hll_estimate, hll_index

    idx = hll_index(ids, "uid", lg_k=12)
    try:
        est = hll_estimate(idx.sketches, ["UID_SKETCH"]).collect()
        assert len(est) == 1 and est[0]["UID_SKETCH_ESTIMATE"] == 200
    finally:
        idx.release()
