"""Count-Min sketch family: deterministic mergeable frequency sketches."""

import pytest

from rasgoql_spark.errors import ParameterException
from rasgoql_spark.functions.cms import cms_estimate, cms_merge, cms_sketch


@pytest.fixture(scope="module")
def vals(spark):
    rows = [(i, f"g{i % 2}", f"v{i % 7}") for i in range(1400)]
    return spark.createDataFrame(rows, "id BIGINT, g STRING, v STRING")


def test_cms_estimate_bounds_and_shape(vals):
    sk = cms_sketch(vals, "v", ["g"], depth=4, width=64)
    rows = sk.collect()
    assert {r["g"] for r in rows} == {"g0", "g1"}
    for r in rows:
        assert r["CMS_DEPTH"] == 4 and r["CMS_WIDTH"] == 64
        assert r["CMS_N"] == 700
        assert len(r["CMS"]) == 4 * 64
        # every depth row sums to N (each insertion hits one counter per row)
        for d in range(4):
            assert sum(r["CMS"][d * 64:(d + 1) * 64]) == 700
    est = {(r["g"], r["VALUE"]): r["EST"]
           for r in cms_estimate(sk, ["v0", "v3", "absent"]).collect()}
    # 1400 rows / 2 groups / 7 values = 100 each; CMS only overestimates
    for g in ("g0", "g1"):
        assert 100 <= est[(g, "v0")] <= 100 + 700 * 0.1
        assert 100 <= est[(g, "v3")] <= 100 + 700 * 0.1
        assert est[(g, "absent")] >= 0


def test_cms_merge_equals_single_build(vals):
    from pyspark.sql import functions as F

    sharded = vals.withColumn("shard", F.col("id") % 3)
    sk_shard = cms_sketch(sharded, "v", ["g", "shard"], depth=4, width=64)
    merged = cms_merge(sk_shard, ["g"])
    assert {r["SHAPE_OK"] for r in merged.select("SHAPE_OK").collect()} == {True}
    single = cms_sketch(vals, "v", ["g"], depth=4, width=64)
    a = {(r["g"], r["VALUE"]): r["EST"]
         for r in cms_estimate(merged.drop("SHAPE_OK"), ["v1", "v5"]).collect()}
    b = {(r["g"], r["VALUE"]): r["EST"]
         for r in cms_estimate(single, ["v1", "v5"]).collect()}
    assert a == b


def test_cms_mixed_shape_merge_flagged(vals):
    a = cms_sketch(vals, "v", ["g"], depth=4, width=64)
    b = cms_sketch(vals, "v", ["g"], depth=4, width=128)
    both = a.unionByName(b)
    flags = {r["SHAPE_OK"] for r in cms_merge(both, ["g"]).collect()}
    assert flags == {False}


def test_cms_nulls_skipped(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "id BIGINT, v STRING"
    )
    sk = cms_sketch(df, "v", depth=2, width=16)
    r = sk.collect()[0]
    assert r["CMS_N"] == 2
    est = cms_estimate(sk, ["a"]).collect()[0]
    assert est["EST"] == 2


def test_cms_validation(vals):
    with pytest.raises(ParameterException):
        cms_sketch(vals, "v", depth=0)
    with pytest.raises(ParameterException):
        cms_sketch(vals, "v", width=4)
    with pytest.raises(ParameterException):
        cms_estimate(vals, ["x"])  # not a sketch frame
    with pytest.raises(ParameterException):
        cms_merge(vals)
    sk = cms_sketch(vals, "v", depth=2, width=16)
    with pytest.raises(ParameterException):
        cms_estimate(sk, [])


def test_cms_index_lifecycle(spark, tmp_path_factory, index_artifacts):
    # build → update folds a batch exactly (bit-identical to full rebuild)
    # → save/load roundtrip
    from rasgoql_spark.functions.cms import (
        cms_estimate,
        cms_index,
        load_cms_index,
        save_cms_index,
        update_cms_index,
    )

    rows = [(i, f"g{i % 2}", f"v{i % 5}") for i in range(800)]
    full = spark.createDataFrame(rows, "id BIGINT, g STRING, v STRING")
    old = full.filter("id < 600")
    batch = full.filter("id >= 600")
    idx = cms_index(old, "v", ["g"], depth=3, width=32)
    upd = update_cms_index(idx, batch)
    rebuilt = cms_index(full, "v", ["g"], depth=3, width=32)
    a = {tuple(r) for r in cms_estimate(upd.sketches, ["v0", "v4"]).collect()}
    b = {tuple(r) for r in cms_estimate(rebuilt.sketches, ["v0", "v4"]).collect()}
    assert a == b
    path = str(tmp_path_factory.mktemp("cmsidx") / "idx")
    save_cms_index(upd, path)
    loaded = load_cms_index(spark, path)
    assert (loaded.depth, loaded.width, loaded.column) == (3, 32, "v")
    assert index_artifacts.params(spark, path) == {
        "depth": 3, "width": 32, "column": "v", "group_by": "g"}
    assert index_artifacts.rows(loaded.sketches) == index_artifacts.rows(
        upd.sketches)
    c = {tuple(r) for r in cms_estimate(loaded.sketches, ["v0", "v4"]).collect()}
    assert c == a
    idx.release(); upd.release(); rebuilt.release(); loaded.release()


def test_stream_cms_merge_equals_batch(spark, tmp_path_factory):
    """Two micro-batches of per-group sketches land exactly-once; merging
    the sink equals one batch-mode sketch of the full data bit-for-bit."""
    from rasgoql_spark.functions.cms import cms_estimate, cms_merge, cms_sketch
    from rasgoql_spark.streaming.ops import stream_cms

    tmp = tmp_path_factory.mktemp("scms")
    b1 = [(i, f"g{i % 2}", f"v{i % 5}") for i in range(300)]
    b2 = [(i, f"g{i % 2}", f"v{i % 3}") for i in range(300, 500)]
    src = str(tmp / "in")
    spark.createDataFrame(b1, "id BIGINT, g STRING, v STRING").coalesce(1)\
        .write.mode("append").parquet(src)
    spark.createDataFrame(b2, "id BIGINT, g STRING, v STRING").coalesce(1)\
        .write.mode("append").parquet(src)
    sdf = (spark.readStream.schema("id BIGINT, g STRING, v STRING")
           .option("maxFilesPerTrigger", 1).parquet(src))
    sink = str(tmp / "out")
    q = stream_cms(sdf, "v", checkpoint=str(tmp / "ckpt"), group_by=["g"],
                   depth=3, width=32, sink_path=sink)
    q.awaitTermination(120)
    landed = spark.read.parquet(sink)
    # the path sink's partition column is 'batch' (batch=<id> dirs)
    merged = cms_merge(landed.drop("batch"), ["g"]).drop("SHAPE_OK")
    full = spark.createDataFrame(b1 + b2, "id BIGINT, g STRING, v STRING")
    want = cms_sketch(full, "v", ["g"], depth=3, width=32)
    vals = ["v0", "v1", "v4"]
    a = {tuple(r) for r in cms_estimate(merged, vals).collect()}
    b = {tuple(r) for r in cms_estimate(want, vals).collect()}
    assert a == b


def test_stream_cms_validation(spark, tmp_path_factory):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.streaming.ops import stream_cms

    tmp = tmp_path_factory.mktemp("scmsv")
    batch = spark.createDataFrame([(1, "a")], "id BIGINT, v STRING")
    src = str(tmp / "in")
    batch.write.parquet(src)
    sdf = spark.readStream.schema("id BIGINT, v STRING").parquet(src)
    with _pytest.raises(ParameterException):   # batch frame
        stream_cms(batch, "v", checkpoint=str(tmp / "c1"), sink_path=str(tmp / "o"))
    with _pytest.raises(ParameterException):   # no sink
        stream_cms(sdf, "v", checkpoint=str(tmp / "c2"))
    with _pytest.raises(ParameterException):   # bad shape, pre-start
        stream_cms(sdf, "v", checkpoint=str(tmp / "c3"), depth=0,
                   sink_path=str(tmp / "o3"))


def test_cms_renderers_roundtrip(spark, vals):
    """The three SQL renderers execute to bit-identical frames vs the
    DataFrame paths (sketch grid, merged grid, estimates)."""
    from pyspark.sql import functions as F

    from rasgoql_spark.functions.cms import (
        _r_cms_estimate,
        _r_cms_merge,
        _r_cms_sketch,
        cms_estimate,
        cms_merge,
        cms_sketch,
    )

    vals.createOrReplaceTempView("__cms_src")
    sk_sql = _r_cms_sketch("__cms_src", "v", group_by=["g"], depth=3, width=32)
    via = {r["g"]: (r["CMS_DEPTH"], r["CMS_WIDTH"], r["CMS_N"], tuple(r["CMS"]))
           for r in spark.sql(sk_sql).collect()}
    direct_df = cms_sketch(vals, "v", ["g"], depth=3, width=32)
    direct = {r["g"]: (r["CMS_DEPTH"], r["CMS_WIDTH"], r["CMS_N"], tuple(r["CMS"]))
              for r in direct_df.collect()}
    assert via == direct

    sharded = cms_sketch(vals.withColumn("shard", F.col("id") % 3),
                         "v", ["g", "shard"], depth=3, width=32)
    sharded.createOrReplaceTempView("__cms_sh")
    mg_sql = _r_cms_merge("__cms_sh", group_by=["g"])
    via_m = {r["g"]: (r["CMS_N"], tuple(r["CMS"]), r["SHAPE_OK"])
             for r in spark.sql(mg_sql).collect()}
    direct_m = {r["g"]: (r["CMS_N"], tuple(r["CMS"]), r["SHAPE_OK"])
                for r in cms_merge(sharded, ["g"]).collect()}
    assert via_m == direct_m

    direct_df.createOrReplaceTempView("__cms_sk")
    est_sql = _r_cms_estimate("__cms_sk", ["v0", "absent"],
                              _input_columns=tuple(direct_df.columns))
    via_e = {(r["g"], r["VALUE"]): r["EST"] for r in spark.sql(est_sql).collect()}
    direct_e = {(r["g"], r["VALUE"]): r["EST"]
                for r in cms_estimate(direct_df, ["v0", "absent"]).collect()}
    assert via_e == direct_e


def test_stream_cms_group_clash_fails_pre_start(spark, tmp_path_factory):
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException
    from rasgoql_spark.streaming.ops import stream_cms

    tmp = tmp_path_factory.mktemp("scmsc")
    b = spark.createDataFrame([(1, "a")], "CMS_N BIGINT, v STRING")
    src = str(tmp / "in")
    b.write.parquet(src)
    sdf = spark.readStream.schema("CMS_N BIGINT, v STRING").parquet(src)
    with _pytest.raises(ParameterException):
        stream_cms(sdf, "v", checkpoint=str(tmp / "c"), group_by=["CMS_N"],
                   sink_path=str(tmp / "o"))
