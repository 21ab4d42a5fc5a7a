"""Core chain / session behavior (reference semantics: transforms.py, main.py)."""

import os

import pandas as pd
import pytest

import rasgoql_spark as rql


def test_list_transforms(session):
    names = session.list_transforms()
    assert len(names) >= 80
    for required in ("aggregate", "join", "pivot", "lag", "dedup_minhash",
                     "similarity_search", "tumbling_window"):
        assert required in names


def test_define_transform(session):
    doc = session.define_transform("aggregate")
    assert "aggregate" in doc and "group_by" in doc


def test_chain_immutability(session):
    ds = session.dataset("lineitem")
    a = ds.filter(filter_statements=["l_quantity > 45"])
    b = ds.filter(filter_statements=["l_quantity <= 45"])
    assert a.df.count() + b.df.count() == ds.df.count()
    assert len(ds.steps) == 0 and len(a.steps) == 1


def test_preview_cap(session):
    pdf = session.dataset("lineitem").preview()
    assert len(pdf) == 10


def test_to_df_batches(session):
    batches = list(session.dataset("region").to_df(batches=True))
    assert sum(len(b) for b in batches) == 5


def test_get_schema(session):
    schema = session.dataset("region").get_schema()
    assert ("r_regionkey", "int") in schema


def test_sql_render_cte(session):
    chain = (
        session.dataset("lineitem")
        .datetrunc(dates={"l_shipdate": "week"})
        .aggregate(group_by=["l_partkey", "L_SHIPDATE_WEEK"],
                   aggregations={"l_extendedprice": ["SUM"]})
    )
    sql = chain.sql()
    assert sql.startswith("WITH ") and "DATE_TRUNC" in sql and "GROUP BY" in sql
    # the rendered text parses as valid Spark SQL against a temp view
    session.dataset("lineitem").df.createOrReplaceTempView("lineitem")
    rendered = session.spark.sql(sql)
    assert rendered.count() == chain.df.count()


def test_sql_render_views(session):
    sql = (
        session.dataset("lineitem")
        .filter(filter_statements=["l_quantity > 10"])
        .rename(renames={"l_quantity": "QTY"})
        .sql(render_method="VIEWS")
    )
    assert sql.count("CREATE OR REPLACE VIEW") == 2


def test_non_renderable_transform_still_executes(session):
    # build_ivf_index fits UNROUNDED centroids by contract (its oracle is a
    # containment summary for the same reason) so it stays render-less;
    # near_dup_clusters, the previous example here, gained a renderer late
    # in round 8
    chain = session.dataset("embeddings").build_ivf_index(
        vec_col="embedding", id_col="vec_id", num_centroids=4)
    assert chain.df.columns == ["vec_id", "embedding", "CENTROID_ID"]
    with pytest.raises(rql.TransformRenderingException):
        chain.sql()


def test_scary_sql_guard(session):
    with pytest.raises(rql.SQLException):
        session.query("DROP TABLE lineitem")
    assert session.query("SELECT 1 AS x") == [(1,)]


def test_unknown_transform(session):
    with pytest.raises(AttributeError):
        session.dataset("region").no_such_transform(x=1)


def test_dataset_from_df_roundtrip(session, tmp_path, drop_table):
    drop_table("t_roundtrip")
    pdf = pd.DataFrame({"my col": [1, 2, 3], "VAL": [1.5, 2.5, 3.5]})
    ds = session.dataset_from_df(pdf, "t_roundtrip", method="replace")
    out = ds.to_df()
    assert sorted(out.columns) == ["MY_COL", "VAL"]  # names cleansed
    assert len(out) == 3


def test_save_temp_view(session):
    ds = session.dataset("region").filter(filter_statements=["r_regionkey < 3"])
    saved = ds.save("v_regions", table_type="temp_view", overwrite=True)
    assert saved.df.count() == 3


def test_to_dbt(session, tmp_path):
    chain = session.dataset("region").filter(filter_statements=["r_regionkey < 3"])
    path = chain.to_dbt(str(tmp_path), file_name="regions.sql", include_schema=True)
    assert os.path.exists(path)
    content = open(path).read()
    assert "SELECT" in content and "r_regionkey" in content
    assert os.path.exists(tmp_path / "schema.yml")


def test_transform_by_name(session):
    out = session.dataset("region").transform(
        "filter", arguments={"filter_statements": ["r_regionkey = 0"]})
    assert out.df.count() == 1


def test_table_resolution_precedence(session, spark):
    """Name resolution: explicit file path > catalog table > data_dir magic
    completion (the reference's magic-fqtn handler, data/base.py:98-110)."""
    # explicit path
    ds = session.dataset("/root/testdata/sf0.001/region.parquet")
    assert ds.df.count() == 5
    # data_dir magic completion
    assert session.dataset("region").df.count() == 5
    # catalog temp view wins over nothing
    spark.range(3).createOrReplaceTempView("tiny_t")
    assert session.dataset("tiny_t").df.count() == 3


def test_apply_todatetime_filter(session):
    out = session.dataset("orders").apply(
        sql="SELECT COUNT(*) AS N FROM {{source_table}} "
            "WHERE o_orderdate >= TIMESTAMP '{{ \"1998-01-01\" | todatetime }}'")
    n = out.df.collect()[0]["N"]
    full = session.dataset("orders").df.count()
    assert 0 < n < full


def test_save_view_on_path_backed_dataset_falls_back(session):
    """Permanent views can't bind a path-backed entry name; save('view')
    degrades to a temp view over the plan and the returned dataset works."""
    saved = (session.dataset("region")
             .filter(filter_statements=["r_regionkey >= 2"])
             .save("v_path_backed", table_type="view", overwrite=True))
    assert saved.df.count() == 3


def test_save_view_dotted_name_fallback_warns(session):
    """ADVICE r01: dotted-name view fallback must bind the SAME (last-segment)
    name it created, and warn about the degradation."""
    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        saved = (session.dataset("region")
                 .filter(filter_statements=["r_regionkey < 2"])
                 .save("some_db.v_dotted", table_type="view", overwrite=True))
    assert saved.df.count() == 2
    assert saved.fqtn == "v_dotted"
    assert any("TEMP view" in str(w.message) for w in caught)


def test_table_type_and_state(session, spark):
    from rasgoql_spark.enums import TableState, TableType

    # parity tests register source tables as TEMP VIEWS; drop any leftover
    # "region" so the catalog lookup below is order-independent
    spark.catalog.dropTempView("region")
    # path-backed dataset: not in the catalog
    ds = session.dataset("region")
    assert ds.table_type == TableType.UNKNOWN.value
    assert ds.table_state == TableState.IN_MEMORY.value
    # temp view: catalog-resolvable, TEMPORARY
    saved = ds.save("v_meta_probe", table_type="temp_view", overwrite=True)
    assert saved.table_type == TableType.TEMPORARY.value
    assert saved.table_state == TableState.IN_DW.value
    assert "TEMPORARY" in repr(saved)


def test_grouping_sets_operator(session):
    out = session.dataset("lineitem").grouping_sets(
        sets=[["l_returnflag"], []], aggregations={"l_quantity": ["SUM"]})
    rows = out.df.collect()
    grand = [r for r in rows if r["GROUPING_ID"] == 1]
    assert len(grand) == 1
    assert abs(sum(r["L_QUANTITY_SUM"] for r in rows if r["GROUPING_ID"] == 0)
               - grand[0]["L_QUANTITY_SUM"]) < 1e-6
    # renders as GROUP BY GROUPING SETS
    assert "GROUPING SETS" in out.sql()


def test_save_shards(session, tmp_path):
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path / "shards")
    session.dataset("lineitem").save_shards(
        out, rows_per_shard=1000, num_shards=4, sort_within=["l_orderkey"])
    files = glob.glob(out + "/*.parquet")
    # 4 partitions × (6000/4=1500 rows → 2 files each under the 1000 cap)
    assert len(files) >= 8
    counts = [pq.read_metadata(f).num_rows for f in files]
    assert max(counts) <= 1000
    assert sum(counts) == session.dataset("lineitem").df.count()
    # keyed shards: one key never straddles shards
    out2 = str(tmp_path / "keyed")
    session.dataset("lineitem").save_shards(out2, num_shards=4, by=["l_orderkey"])
    per_file = [
        set(pq.read_table(f, columns=["l_orderkey"]).column(0).to_pylist())
        for f in glob.glob(out2 + "/*.parquet")
    ]
    for i in range(len(per_file)):
        for j in range(i + 1, len(per_file)):
            assert not (per_file[i] & per_file[j])


def test_save_shards_jsonl(session, tmp_path):
    """file_format='json' writes newline-delimited JSON shards (the loader
    format most LLM data pipelines expect) under the same sizing controls."""
    import glob
    import json

    out = str(tmp_path / "jsonl_shards")
    session.dataset("documents").save_shards(
        out, rows_per_shard=200, num_shards=2, file_format="json")
    files = glob.glob(out + "/*.json")
    assert len(files) >= 4  # 500 rows / 2 shards / 200-row cap
    rows = []
    for f in files:
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    assert len(rows) == session.dataset("documents").df.count()
    assert {"doc_id", "text", "lang"} <= set(rows[0])


def test_compact_shards_in_place(session, spark, tmp_path):
    from rasgoql_spark.sources.io import compact_shards

    out = str(tmp_path / "many_small")
    # many small files (empty partitions may not materialize a file)
    session.dataset("region").df.repartition(16).write.parquet(out)
    import glob
    assert len(glob.glob(out + "/*.parquet")) >= 5
    before = sorted(r["r_regionkey"] for r in spark.read.parquet(out).collect())

    path = compact_shards(spark, out, target_mb=512)
    assert path == out
    files = glob.glob(out + "/*.parquet")
    assert len(files) == 1, "5 tiny rows must compact to one file"
    after = sorted(r["r_regionkey"] for r in spark.read.parquet(out).collect())
    assert after == before
    assert not glob.glob(out + "__compact_*"), "temp/backup dirs cleaned up"


def test_compact_shards_to_out_path(session, spark, tmp_path):
    from rasgoql_spark.sources.io import compact_shards

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    session.dataset("nation").df.repartition(8).write.parquet(src)
    path = compact_shards(spark, src, target_mb=128, out_path=dst, shuffle=True)
    assert path == dst
    import glob
    assert len(glob.glob(src + "/*.parquet")) == 8  # source untouched
    assert spark.read.parquet(dst).count() == spark.read.parquet(src).count()


def test_read_text_and_binary_files(spark, tmp_path):
    from rasgoql_spark.sources.io import read_binary_files, read_text

    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.txt").write_text("alpha\nbeta\n")
    (d / "b.txt").write_text("gamma\n")
    (d / "c.bin").write_bytes(b"\x89PNG....")

    lines = read_text(spark, str(d) + "/*.txt", line_col="line")
    assert sorted(r["line"] for r in lines.collect()) == ["alpha", "beta", "gamma"]
    whole = read_text(spark, str(d) + "/*.txt", whole_file=True)
    assert whole.count() == 2

    bins = read_binary_files(spark, str(d), glob="*.bin")
    rows = bins.collect()
    assert len(rows) == 1 and bytes(rows[0]["content"]).startswith(b"\x89PNG")
    assert {"path", "length", "content"} <= set(bins.columns)


def test_transform_pandas_escape_hatch(session):
    import rasgoql_spark as rql

    def double_price(batches):
        for pdf in batches:
            pdf = pdf[["o_orderkey", "o_totalprice"]].copy()
            pdf["o_totalprice"] = pdf["o_totalprice"] * 2
            yield pdf

    chain = session.dataset("orders").transform_pandas(
        func=double_price, schema="o_orderkey long, o_totalprice double")
    out = chain.df
    base = session.dataset("orders").df
    assert out.count() == base.count()
    got = out.agg({"o_totalprice": "sum"}).collect()[0][0]
    exp = base.agg({"o_totalprice": "sum"}).collect()[0][0]
    assert abs(got - 2 * exp) < 1e-6
    with pytest.raises(rql.TransformRenderingException):
        chain.sql()


def test_replace_in_non_default_db_preserves_default_table(session, spark):
    # regression: 'replace' used to delete {warehouse}/{name} unconditionally,
    # which destroys DEFAULT's managed table when the current database is
    # another db with a same-named table
    import pandas as pd

    spark.sql("CREATE DATABASE IF NOT EXISTS tdb_replace")
    try:
        session.dataset_from_df(pd.DataFrame({"a": [1, 2]}), "victim_tbl")
        spark.sql("USE tdb_replace")
        session.dataset_from_df(pd.DataFrame({"a": [3]}), "victim_tbl")
        spark.sql("USE default")
        assert spark.table("default.victim_tbl").count() == 2
        assert spark.table("tdb_replace.victim_tbl").count() == 1
        # replacing again inside the other db keeps default's data too
        spark.sql("USE tdb_replace")
        session.dataset_from_df(pd.DataFrame({"a": [4, 5, 6]}), "victim_tbl")
        spark.sql("USE default")
        assert spark.table("default.victim_tbl").count() == 2
        assert spark.table("tdb_replace.victim_tbl").count() == 3
    finally:
        spark.sql("USE default")
        spark.sql("DROP TABLE IF EXISTS default.victim_tbl")
        spark.sql("DROP TABLE IF EXISTS tdb_replace.victim_tbl")
        spark.sql("DROP DATABASE IF EXISTS tdb_replace")


def test_query_dict_response(session):
    # reference ResponseType parity: response='dict' returns column-keyed rows
    import pytest as _pytest

    from rasgoql_spark.errors import ParameterException

    assert session.query("SELECT 1 AS x, 'a' AS y", response="dict") == [
        {"x": 1, "y": "a"}
    ]
    assert session.query("SELECT 1 AS x", response="TUPLE") == [(1,)]
    with _pytest.raises(ParameterException):
        session.query("SELECT 1 AS x", response="frame")


def test_chain_keeps_scoped_caches_alive(session):
    """Regression (round-5): a further chain step must NOT drop the only
    reference to the previous step's result — release_with ties cache
    unpersist to GC of that object, and losing it unpersisted the caches
    before the action ran (plans recomputed expensive subtrees silently).
    With the upstream link in place, the chained plan still reads the
    scoped caches."""
    import gc

    chain = (session.dataset("embeddings")
             .semantic_dedup(vec_col="embedding", id_col="vec_id", k=2,
                             threshold=0.33)
             .drop_columns(include_cols=["vec_id", "CLUSTER_ID"]))
    gc.collect()  # would fire the finalizers if the upstream ref were lost
    assert getattr(chain.df, "_rql_upstream", None) is not None
    plan = chain.df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert chain.df.count() > 0
