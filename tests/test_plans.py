"""Physical-plan hygiene: the properties that decide whether these operators
survive a 100 TB scale-up. Each assertion reads `.explain` output — if a
refactor silently breaks pushdown, pruning, or a broadcast, these fail."""

from pyspark.sql import functions as F

import rasgoql_spark as rql


def _plan(chain) -> str:
    return chain.explain("formatted")


def test_filter_pushdown_reaches_parquet_scan(session):
    plan = _plan(
        session.dataset("lineitem").filter(filter_statements=["l_quantity > 45"])
    )
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,45" in plan.replace(" ", "")


def test_column_pruning_reaches_read_schema(session):
    plan = _plan(
        session.dataset("lineitem").drop_columns(include_cols=["l_orderkey", "l_quantity"])
    )
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # unused column never read


def test_pruning_through_aggregate(session):
    plan = _plan(
        session.dataset("lineitem").aggregate(
            group_by=["l_returnflag"], aggregations={"l_quantity": ["SUM"]})
    )
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" not in read_schema and "l_partkey" not in read_schema


def test_broadcast_join_hint_honored(session):
    chain = session.dataset("lineitem").join(
        join_table=session.dataset("part"),
        join_columns={"l_partkey": "p_partkey"}, join_prefix="P", broadcast=True)
    assert "BroadcastHashJoin" in _plan(chain)


def test_aggregate_has_partial_and_final(session):
    plan = _plan(
        session.dataset("lineitem").aggregate(
            group_by=["l_returnflag"], aggregations={"l_quantity": ["SUM"]})
    )
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_top_uses_take_ordered(session):
    plan = _plan(
        session.dataset("lineitem").top(
            n=10, order_by={"l_extendedprice": "DESC", "l_orderkey": "ASC"})
    )
    assert "TakeOrderedAndProject" in plan  # not a global sort


def test_whole_stage_codegen_covers_projection(session):
    plan = _plan(
        session.dataset("lineitem").math(
            math_ops=["l_extendedprice * (1 - l_discount)"], names=["NET"])
    )
    # formatted mode marks codegen'd nodes with a leading '*'
    assert "* Project" in plan


def test_interval_join_is_hash_not_nested_loop(spark, session):
    intervals = session.dataset("nation").math(
        math_ops=["n_nationkey * 10000.0", "n_nationkey * 10000.0 + 20000.0"],
        names=["LO", "HI"])
    chain = session.dataset("orders").interval_join(
        join_table=intervals, point="o_totalprice", lower="LO", upper="HI",
        bucket_width=10000.0)
    plan = _plan(chain)
    assert "NestedLoop" not in plan  # bucketization keeps it an equi-join
    # residual BETWEEN predicate still applied
    assert "o_totalprice" in plan


def test_bucketed_tables_join_without_exchange(spark, session, tmp_path, drop_table):
    """Bucketed layouts are the shuffle-free co-located join path at 100 TB:
    both sides pre-bucketed on the join key ⇒ SortMergeJoin with NO Exchange."""
    import contextlib
    import io

    from rasgoql_spark.sources import write_table

    for t in ("b_lineitem", "b_orders"):
        drop_table(t)
    li = session.dataset("lineitem").df.select("l_orderkey", "l_quantity")
    od = session.dataset("orders").df.select("o_orderkey", "o_totalprice")
    write_table(li, "b_lineitem", bucket_by=(4, "l_orderkey"), sort_by="l_orderkey")
    write_table(od, "b_orders", bucket_by=(4, "o_orderkey"), sort_by="o_orderkey")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            on=spark.table("b_lineitem").l_orderkey == spark.table("b_orders").o_orderkey,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain(mode="formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing removed BOTH shuffles
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partitioned_layout_prunes_partitions(spark, session, tmp_path):
    """Hive-partitioned writes enable partition pruning: a filter on the
    partition column must appear as PartitionFilters, and non-matching
    partitions are never read."""
    from pyspark.sql import functions as F

    from rasgoql_spark.sources import write_table

    out = str(tmp_path / "orders_by_year")
    orders = session.dataset("orders").df.withColumn(
        "order_year", F.year("o_orderdate"))
    write_table(orders, out, partition_by="order_year")

    df = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "order_year" in pf_line and "1997" in pf_line


def test_semi_join_planned_as_semi(session):
    chain = session.dataset("customer").semi_join(
        join_table=session.dataset("orders"), join_columns={"c_custkey": "o_custkey"})
    assert "LeftSemi" in _plan(chain)


def test_train_test_split_scale_path_no_single_partition(spark, session):
    """Bucketed split: no single-partition window Exchange on multi-partition
    inputs (VERDICT r01 item 7)."""
    df = session.dataset("orders").df.repartition(8)
    out = rql.get_transform("train_test_split").apply(
        df, order_by=["o_orderdate", "o_orderkey"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_ivf_assignment_is_shuffle_free(session):
    """IVF centroid assignment embeds literal centroids — the corpus plan for
    build_ivf_index must contain no Join and no Exchange (assignment is a
    pure projection; only the Lloyd refinement jobs shuffle)."""
    emb = session.dataset("embeddings").df
    idx = rql.get_transform("build_ivf_index").apply(
        emb, vec_col="embedding", id_col="vec_id", num_centroids=4)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    import re
    # the only exchange allowed is the spread() round-robin repartition
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "RoundRobinPartitioning" for e in exchanges), exchanges


def test_spread_decides_without_a_job(spark):
    """spread() sizes its input from Catalyst's estimate: on a frame with a
    shuffle upstream it runs no Spark job (an ``.rdd`` partition-count
    probe would execute the upstream stage under AQE, and the query would
    then execute it again)."""
    from rasgoql_spark.operators._util import spread

    sc = spark.sparkContext
    df = spark.range(10_000).groupBy((F.col("id") % 97).alias("k")).count()
    group = "spread-without-a-job"
    sc.setJobGroup(group, "spread must not run jobs")
    try:
        spread(df)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []


def test_spread_repartitions_a_small_input(spark):
    from rasgoql_spark.operators._util import spread

    out = spread(spark.range(100).coalesce(1))
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_decontaminate_broadcasts_eval_ngrams(session):
    """The eval n-gram inventory must reach the corpus as a broadcast — the
    corpus side never shuffles for the membership join (only the slim
    (id, int, int) roll-up shuffles)."""
    ev = session.dataset("documents").filter(filter_statements=["doc_id % 50 = 0"])
    plan = _plan(
        session.dataset("documents").decontaminate(
            text="text", id_col="doc_id", eval_table=ev, ngram=5)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_scrub_is_shuffle_free_codegen(session):
    plan = _plan(session.dataset("documents").pii_scrub(text="text"))
    assert "Exchange" not in plan  # row-local regex: no shuffle at any scale
    assert "* Project" in plan  # whole-stage codegen


def test_quality_filter_is_shuffle_free(session):
    plan = _plan(session.dataset("documents").quality_filter(
        text="text", min_tokens=10))
    assert "Exchange" not in plan  # row-local gate: no shuffle at any scale


def test_ngram_counts_partial_agg_and_take_ordered(session):
    """n-gram counting must map-side combine (partial+final HashAggregate)
    and plan top_k as TakeOrderedAndProject — never a global sort of the
    whole vocabulary."""
    plan = _plan(session.dataset("documents").ngram_counts(
        text="text", n=2, top_k=50))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_dedup_against_exact_plans_semi_anti(session):
    """Incremental dedup is membership, not enumeration: the plan must be
    semi/anti hash joins on the fingerprint with no nested-loop anywhere."""
    ref = session.dataset("documents").filter(filter_statements=["doc_id % 10 = 0"])
    plan = _plan(session.dataset("documents").dedup_against(
        text="text", id_col="doc_id", reference=ref, method="exact"))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_outer_join_coalesces_keys_in_plan(session):
    out = rql.get_transform("join").apply(
        session.dataset("customer").df,
        join_table=session.dataset("orders").df.selectExpr(
            "o_custkey AS ck", "o_totalprice"),
        join_columns={"c_custkey": "ck"}, join_type="FULL")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "coalesce" in plan.lower()


def test_decontaminate_filter_lets_aqe_choose(session):
    """filter mode must NOT force a broadcast of the contaminated-id set —
    it is data-dependent and unbounded in principle (a wholly-contaminated
    corpus flags every id). The anti-join strategy is AQE's call."""
    ev = session.dataset("documents").filter(filter_statements=["doc_id % 50 = 0"])
    out = session.dataset("documents").decontaminate(
        text="text", id_col="doc_id", eval_table=ev, ngram=5,
        mode="filter", threshold=0.1)
    logical = out.df._jdf.queryExecution().analyzed().toString()
    # the eval-ngram inventory broadcast (bounded) remains; the flagged-id
    # anti-join must carry no hint → exactly one ResolvedHint in the plan
    assert logical.count("ResolvedHint") == 1, logical.count("ResolvedHint")
    assert out.df.count() > 0  # executes under AQE


def test_ivf_large_k_broadcast_fallback(session, monkeypatch):
    """Above IVF_LITERAL_CENTROID_MAX the centroid array must ship as a
    one-row broadcast (O(1) plan size) instead of k·dim literals, with
    byte-identical assignments."""
    import rasgoql_spark.functions.similarity as sim

    emb = session.dataset("embeddings").df
    lit = rql.get_transform("build_ivf_index").apply(
        emb, vec_col="embedding", id_col="vec_id", num_centroids=8)
    lit_assign = {(r["vec_id"], r["CENTROID_ID"]) for r in lit.collect()}

    monkeypatch.setattr(sim, "IVF_LITERAL_CENTROID_MAX", 2)
    bc = rql.get_transform("build_ivf_index").apply(
        emb, vec_col="embedding", id_col="vec_id", num_centroids=8)
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # one-row centroid broadcast
    assert {(r["vec_id"], r["CENTROID_ID"]) for r in bc.collect()} == lit_assign

    srch = rql.get_transform("similarity_search_ivf").apply(
        emb, vec_col="embedding", id_col="vec_id", query_ids=[0, 1], k=5)
    got = {(r["QUERY_ID"], r["RANK"], r["MATCH_ID"]) for r in srch.collect()}
    monkeypatch.setattr(sim, "IVF_LITERAL_CENTROID_MAX", 256)
    ref = rql.get_transform("similarity_search_ivf").apply(
        emb, vec_col="embedding", id_col="vec_id", query_ids=[0, 1], k=5)
    assert got == {(r["QUERY_ID"], r["RANK"], r["MATCH_ID"]) for r in ref.collect()}


def test_kmeans_large_k_broadcast_fallback(session, monkeypatch):
    """kmeans_cluster (and therefore semantic_dedup's k='auto') must switch
    from k·dim centroid literals to the one-row broadcast above
    IVF_LITERAL_CENTROID_MAX — k grows with the corpus (n/5000), so the
    literal plan is a driver/analyzer blow-up at real scale. Assignments
    must be byte-identical on both paths (same rounded centroid values)."""
    import rasgoql_spark.functions.similarity as sim

    emb = session.dataset("embeddings").df
    lit = rql.get_transform("kmeans_cluster").apply(
        emb, vec_col="embedding", id_col="vec_id", k=8, iterations=1)
    lit_assign = {(r["vec_id"], r["CLUSTER_ID"]) for r in lit.collect()}

    monkeypatch.setattr(sim, "IVF_LITERAL_CENTROID_MAX", 2)
    bc = rql.get_transform("kmeans_cluster").apply(
        emb, vec_col="embedding", id_col="vec_id", k=8, iterations=1)
    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # one-row centroid broadcast
    assert {(r["vec_id"], r["CLUSTER_ID"]) for r in bc.collect()} == lit_assign

    # semantic_dedup rides the same assignment path: identical survivor set
    bc_dedup = rql.get_transform("semantic_dedup").apply(
        emb, vec_col="embedding", id_col="vec_id", k=8, threshold=0.9)
    got = {r["vec_id"] for r in bc_dedup.select("vec_id").collect()}
    monkeypatch.setattr(sim, "IVF_LITERAL_CENTROID_MAX", 256)
    ref_dedup = rql.get_transform("semantic_dedup").apply(
        emb, vec_col="embedding", id_col="vec_id", k=8, threshold=0.9)
    assert got == {r["vec_id"] for r in ref_dedup.select("vec_id").collect()}


def test_kmeans_actual_large_k_plan_bounded(session):
    """k > 256 without monkeypatching: the analyzed plan must stay O(1) in
    k (no 300-struct literal array) and the job must complete."""
    emb = session.dataset("embeddings").df.limit(400)
    out = rql.get_transform("kmeans_cluster").apply(
        emb, vec_col="embedding", id_col="vec_id", k=300, iterations=0)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    # literal path would embed one struct(c, v) per centroid -> ~300 hits
    assert analyzed.count("named_struct") < 50, analyzed.count("named_struct")
    assert out.select("CLUSTER_ID").distinct().count() > 256


def test_embedding_join_ivf_plans_as_equi_join(session):
    """The ANN join's candidate generation must plan as a hash EQUI-join on
    CENTROID_ID — never a cartesian/nested-loop over corpus × queries. The
    only BroadcastNestedLoopJoin allowed is the >256-centroid one-row
    attachment (absent here at k=8)."""
    emb = session.dataset("embeddings").df
    left = emb.filter("vec_id >= 400 AND vec_id < 450")
    right = emb.filter("vec_id < 400")
    out = rql.get_transform("embedding_join_ivf").apply(
        left, vec_col="embedding", id_col="vec_id", other=right, k=2,
        num_centroids=8, nprobe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # literal path at k=8
    assert out.count() == 100  # 50 queries x k=2


def test_lsh_band_join_runs_over_reps(session, monkeypatch):
    """When the collapse fires (hot dup groups), the minhash band self-join
    input must be the rep-filtered signature table: the plan carries the
    group window plus a (__id = __rep) filter upstream of the band-key
    exchange. COLLAPSE_MIN_GROUP is forced to -1 so the guard always takes
    the collapse path on this clean fixture."""
    import rasgoql_spark.functions.dedup as dd

    monkeypatch.setattr(dd, "COLLAPSE_MIN_GROUP", -1)
    docs = session.dataset("documents").df.limit(200)
    pairs = rql.get_transform("dedup_minhash").apply(
        docs, text="text", id_col="doc_id", threshold=0.2, mode="pairs")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    import re
    # Filter node comparing __id to __rep (attribute ids vary: __id#12L etc.)
    assert re.search(r"Filter .*__id#\d+L? = __rep#\d+L?", plan), "rep filter missing"
    assert "Window" in plan  # the single group-annotation window


def test_lsh_guard_skips_window_on_clean_corpus(session):
    """The guarded collapse: a corpus whose largest exact-dup group is under
    COLLAPSE_MIN_GROUP must NOT pay the group window or expansion joins."""
    docs = session.dataset("documents").df.limit(200)
    pairs = rql.get_transform("dedup_minhash").apply(
        docs, text="text", id_col="doc_id", threshold=0.2, mode="pairs")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_winnow_fingerprint_is_shuffle_free(session):
    plan = _plan(session.dataset("documents").winnow_fingerprint(text="text"))
    assert "Exchange" not in plan  # row-local array expressions only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_weights_single_domain_agg(session):
    plan = _plan(session.dataset("documents").mixture_weights(domain="lang"))
    # one grouped aggregation on the domain key (partial+final), stats joins
    # are broadcast one-row frames — no sort-merge join anywhere
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_embedding_join_broadcasts_queries(session):
    emb = session.dataset("embeddings")
    left = emb.filter(filter_statements=["vec_id >= 450"])
    right = emb.filter(filter_statements=["vec_id < 450"])
    plan = _plan(left.embedding_join(other=right, vec_col="embedding",
                                     id_col="vec_id", k=1))
    # the query side ships as a broadcast; the corpus never repartitions
    # before scoring
    assert "BroadcastExchange" in plan


def test_bigram_logprob_no_python_in_hot_path(session):
    plan = _plan(session.dataset("documents").bigram_logprob(
        text="text", id_col="doc_id"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pseudonymize_is_shuffle_free(session):
    plan = _plan(session.dataset("events").pseudonymize(
        columns=["user_id"], salt="s"))
    assert "Exchange" not in plan  # row-local sha256 projection
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_random_projection_is_shuffle_free(session):
    plan = _plan(session.dataset("embeddings").random_projection(
        vec_col="embedding", out_dim=8, in_dim=64))
    assert "Exchange" not in plan  # literal sign matrix, row-local fold
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_robust_scaler_broadcasts_one_row_stats(session):
    plan = _plan(session.dataset("orders").robust_scaler(columns=["o_totalprice"]))
    # stats arrive as a broadcast one-row frame; corpus side never sorts/
    # repartitions for the scaling pass
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_diff_datasets_joins_hashes_not_rows(session):
    new = session.dataset("documents")
    old = session.dataset("documents").filter(filter_statements=["doc_id % 2 = 0"])
    plan = _plan(new.diff_datasets(other=old, keys=["doc_id"]))
    joined = [l for l in plan.splitlines() if "FullOuter" in l]
    assert joined, "full outer join missing from plan"
    # the join consumes the 16-byte row hashes, so the shuffle carries
    # (key, md5) — the wide text column is hashed away before the exchange
    assert "__h_new" in plan and "__h_old" in plan
    smj_inputs = [l for l in plan.splitlines()
                  if l.strip().startswith("Left keys") or "Input [" in l]
    assert not any("text" in l for l in smj_inputs if "__h" in l), \
        "document body must not flow through the join"


def test_bloom_dedup_clean_rows_skip_reference(session):
    batch = session.dataset("documents")
    ref = session.dataset("documents").filter(filter_statements=["doc_id % 5 = 0"])
    plan = _plan(batch.dedup_against_bloom(
        text="text", id_col="doc_id", reference=ref, bits_log2=14))
    # bit-table membership is an equi-join (broadcast or shuffled hash),
    # never a nested-loop over the reference
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_dangling_mass_is_broadcast(session):
    edges = session.dataset("lineitem").apply(
        sql="SELECT l_partkey AS src, 200000 + l_suppkey AS dst FROM {{source_table}}")
    plan = _plan(edges.pagerank(src="src", dst="dst", iterations=1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_join_blocks_as_equi_join(session):
    left = session.dataset("customer").apply(
        sql="SELECT c_custkey, c_name FROM {{source_table}} WHERE c_custkey % 30 = 0")
    right = session.dataset("customer").apply(
        sql="SELECT c_custkey, c_name FROM {{source_table}} WHERE c_custkey % 45 = 0")
    plan = _plan(left.fuzzy_join(join_table=right, column="c_name", max_distance=2))
    # the block must plan as a hash equi-join on the prefix key — a
    # nested-loop over the right side would be the all-pairs cross product
    # the blocking exists to avoid
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_json_flatten_is_shuffle_free(session):
    plan = _plan(session.dataset("events").json_flatten(
        column="props", keys=["k"], types={"k": "int"}))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_char_entropy_is_shuffle_free(session):
    plan = _plan(session.dataset("documents").char_entropy(text="text"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kfold_is_shuffle_free(session):
    plan = _plan(session.dataset("orders").kfold(key=["o_custkey"], k=5))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_expect_flag_is_shuffle_free(session):
    plan = _plan(session.dataset("orders").expect(
        expectations=["o_totalprice > 0"], mode="flag"))
    assert "Exchange" not in plan


def test_fuzzy_join_prefix_length_plans_as_equi_join(session):
    left = session.dataset("customer").apply(
        sql="SELECT c_custkey, c_name FROM {{source_table}} WHERE c_custkey % 30 = 0")
    right = session.dataset("customer").apply(
        sql="SELECT c_custkey, c_name FROM {{source_table}} WHERE c_custkey % 45 = 0")
    plan = _plan(left.fuzzy_join(join_table=right, column="c_name",
                                 max_distance=2, block="prefix_length"))
    # the composite (prefix, length-bucket) key must plan as a hash
    # equi-join; the bounded explode on the left must not force a
    # nested-loop or cross product
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_b4_window_chain_shares_one_window_exchange(session):
    """b4_window_chain (the bench flagship): lag x3 + moving_avg use the SAME
    (l_partkey, L_SHIPDATE_WEEK) window spec, so Catalyst must evaluate all
    four in ONE Window node over ONE sort — 2 exchanges total (partial/final
    aggregate + the l_partkey window re-partition). A third Exchange or a
    second Sort here would double the query's shuffle at scale (VERDICT r7
    item 3: the 2.49x driver reading was noise, this pins that the plan
    cannot be the cause)."""
    import re

    chain = (
        session.dataset("lineitem")
        .datetrunc(dates={"l_shipdate": "week"})
        .aggregate(group_by=["l_partkey", "L_SHIPDATE_WEEK"],
                   aggregations={"l_extendedprice": ["SUM"]})
        .lag(columns=["L_EXTENDEDPRICE_SUM"], amounts=[1, 2, 3],
             order_by=["L_SHIPDATE_WEEK"], partition=["l_partkey"])
        .moving_avg(input_columns=["L_EXTENDEDPRICE_SUM"], window_sizes=[4],
                    order_by=["L_SHIPDATE_WEEK"], partition=["l_partkey"])
    )
    plan = _plan(chain)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan
    window_nodes = re.findall(r"\(\d+\) Window", plan)
    assert len(window_nodes) == 1, plan
    # all four expressions land in that single Window node
    assert "LAG_L_EXTENDEDPRICE_SUM_3" in plan and "MEAN_L_EXTENDEDPRICE_SUM_4" in plan


def test_ivfpq_prebuilt_search_single_exchange(session):
    """similarity_search_ivfpq against a prebuilt index (round-13 shape:
    the search shares the join path's in-plan machinery): the bounded
    probe frame (queries x nprobe rows, carrying per-query ADC LUTs)
    must BROADCAST onto the codes-only cached corpus scan — one
    broadcast equi-join, no sort-merge, no per-query corpus scans — and
    the ONLY hash-partitioning Exchange is the per-query top-k window's
    re-partition, with WindowGroupLimit pruning to k rows per query
    BEFORE the shuffle, so shuffle volume is queries x k rows at any
    corpus size."""
    import re

    from rasgoql_spark.functions.pq import ivfpq_index, similarity_search_ivfpq

    emb = session.dataset("embeddings").df
    # both index flavors must keep the single-exchange shape: the residual
    # form only swaps the score expression (adds a literal-array lookup by
    # __cid), never the plan topology
    for residual in (False, True):
        idx = ivfpq_index(emb, "embedding", "vec_id", num_centroids=8, m=4,
                          codebook_size=8, residual=residual)
        try:
            out = similarity_search_ivfpq(
                emb, "embedding", "vec_id", [0, 1, 2], k=10, nprobe=2,
                index=idx)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan
            assert "BroadcastHashJoin" in plan, plan
            assert "SortMergeJoin" not in plan, plan
            assert "WindowGroupLimit" in plan, plan
            # the corpus-side candidate scan reads the cached encoded frame
            # with PQ codes only — zero vector bytes on the big side
            scans = re.findall(r"InMemoryTableScan \[([^\]]*)\]", plan)
            cand = [s for s in scans if "__codes" in s]
            assert cand, plan
            for s in cand:
                assert "__u" not in s, s
        finally:
            idx.release()


def test_dedup_ivfpq_reference_never_shuffles(session):
    """dedup_against_embedding(method='ivfpq', prebuilt index): the batch's
    probe frame must broadcast onto the cached PQ frame (the reference is
    the big side by the operator's contract), the ADC scoring must be a
    shuffle-free projection (codebooks are literals), and the only
    aggregation-shaped exchange allowed is the filter mode's distinct over
    flagged batch ids — here, pairs mode, so NO hash-partitioning exchange
    at all: the reference side moves zero bytes."""
    import re

    from rasgoql_spark.functions.pq import ivfpq_index
    from rasgoql_spark.functions.similarity import dedup_against_embedding

    emb = session.dataset("embeddings").df
    idx = ivfpq_index(emb.filter("vec_id < 400"), "embedding", "vec_id",
                      num_centroids=8, m=4, codebook_size=8)
    try:
        out = dedup_against_embedding(
            emb.filter("vec_id >= 400"), "embedding", "vec_id", index=idx,
            method="ivfpq", threshold=0.3, nprobe=2, mode="pairs")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # the candidate side reads the cached encoded frame, not a rebuild
        assert "InMemoryTableScan" in plan, plan
    finally:
        idx.release()


def test_embedding_join_ivfpq_codes_only_candidate_scan(session):
    """embedding_join_ivfpq (prebuilt): the corpus-side candidate scan must
    read ONLY (id, inverted-list id, PQ codes) — zero vector bytes on the
    big side (the operator's 100 TB contract) — and the per-left-row top-k
    window must be WindowGroupLimit-prunable. No broadcast hint is pinned:
    the left side may be the full corpus, so broadcasting is AQE's call."""
    import re

    from rasgoql_spark.functions.pq import embedding_join_ivfpq, ivfpq_index

    emb = session.dataset("embeddings").df
    idx = ivfpq_index(emb.filter("vec_id < 400"), "embedding", "vec_id",
                      num_centroids=8, m=4, codebook_size=8)
    try:
        out = embedding_join_ivfpq(
            emb.filter("vec_id >= 400"), "embedding", "vec_id", k=2,
            nprobe=2, index=idx)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan
        scans = re.findall(r"InMemoryTableScan \[([^\]]*)\]", plan)
        cand = [s for s in scans if "__codes" in s]
        assert cand, plan
        for s in cand:
            assert "__u" not in s, s  # zero vector bytes on the corpus side
    finally:
        idx.release()


def test_embedding_join_binary_never_goes_cartesian(session):
    """embedding_join_binary's whole point: candidates come from a band
    EQUI-join — the plan must contain no cartesian/nested-loop join and no
    per-row corpus scan, at ANY input size (a crossJoin here would be the
    billion x billion failure mode)."""
    from rasgoql_spark.functions.similarity import embedding_join_binary

    emb = session.dataset("embeddings").df
    out = embedding_join_binary(
        emb, "embedding", "vec_id", other=emb, k=3, max_hamming=15)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def _n_exchanges(plan: str) -> int:
    # formatted explain lists each node twice (tree + detail); count the
    # detail headers, one per physical node
    import re
    return sum(1 for l in plan.splitlines()
               if re.match(r"^\(\d+\) Exchange", l.strip()))


def test_timeseries_ops_are_single_exchange(session):
    """The round-10 timeseries family's scale contract: every operator is
    window projections over ONE partition shuffle — a second Exchange means
    a refactor broke the shared-partitioning property."""
    cases = [
        session.dataset("events").ewma(
            value_col="value", order_by=["ts", "event_id"], alpha=0.3,
            partition=["user_id"], span=8),
        session.dataset("events").anomaly_zscore(
            value_col="value", order_by=["ts", "event_id"], window=10,
            partition=["user_id"]),
        session.dataset("events").seasonal_decompose(
            value_col="value", order_by=["ts", "event_id"], period=7,
            partition=["user_id"]),
        session.dataset("events").pct_change(
            value_col="value", order_by=["ts", "event_id"],
            partition=["user_id"]),
    ]
    for chain in cases:
        plan = _plan(chain)
        assert _n_exchanges(plan) == 1, plan


def test_changepoint_reuses_group_partitioning(session):
    """Group mean, running CUSUM, and the argmax row_number all share the
    event_type hash partition — one Exchange total."""
    plan = _plan(
        session.dataset("events").changepoint_detect(
            value_col="value", order_by=["ts", "event_id"],
            group_by=["event_type"])
    )
    assert _n_exchanges(plan) == 1, plan


def test_autocorrelation_single_aggregate_exchange(session):
    """One window pass + one hash aggregate: the lag projection shuffles on
    the group key, and the (partial -> final) aggregate reuses it — at most
    one extra Exchange for the final aggregate."""
    plan = _plan(
        session.dataset("events").autocorrelation(
            value_col="value", order_by=["ts", "event_id"], lags=[1, 2],
            group_by=["event_type"])
    )
    assert _n_exchanges(plan) <= 2, plan
    assert "HashAggregate" in plan


def test_vector_score_is_shuffle_free(session):
    """Literal-query cosine is a row-local projection — zero Exchanges."""
    plan = _plan(
        session.dataset("embeddings").vector_score(
            vec_col="embedding", query_vec=[0.1] * 64)
    )
    assert "Exchange" not in plan, plan


def test_dedup_substring_never_goes_cartesian(session):
    """Candidates come from the positioned-fingerprint EQUI-join over
    capped postings — no cartesian/nested-loop join at any input size,
    and the run window carries the WindowGroupLimit-free small state
    (diagonal-partitioned row_number, not a global sort)."""
    out = session.dataset("documents").dedup_substring(
        text="text", id_col="doc_id", min_tokens=20, max_doc_freq=50)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hilbert_nd_is_shuffle_free_and_udf_free(session):
    """The Skilling transpose is per-row integer math: beyond the one
    bounded range-discovery aggregate (collected before the plan is
    built), the key projection itself adds NO Exchange and NO Python
    UDF."""
    out = session.dataset("orders").hilbert(
        columns=["o_custkey", "o_totalprice", "o_orderkey"], bits=4)
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_substring_index_bucketed_join_no_index_exchange(spark, session, tmp_path):
    """Round 13: a SubstringIndex saved with bucket_by_fp re-registers as
    a bucketed table on load, so the per-batch candidate join shuffles
    ONLY the batch side — the corpus-scale index side reads its buckets
    in place (the 100 TB crawl-screen shape: the index is the big side
    and is reused every batch)."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from rasgoql_spark.functions.dedup import (
        _positioned_postings, dedup_against_substring, load_substring_index,
        save_substring_index, substring_index)

    docs = session.dataset("documents").df
    idx = substring_index(docs.filter("doc_id % 5 != 0"), "text", "doc_id",
                          min_tokens=20, max_doc_freq=50)
    path = str(tmp_path / "subidx")
    save_substring_index(idx, path, bucket_by_fp=8)
    idx.release()
    loaded = load_substring_index(spark, path)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh_b = _positioned_postings(
            docs.filter("doc_id % 5 = 0"), "text", "doc_id", 20
        ).select(F.col("__id").alias("__bid"),
                 F.col("__pos").alias("__bpos"), "__fp")
        al = sh_b.join(
            loaded.inv.select("__ck", F.col("__pos").alias("__rpos"), "__fp"),
            on="__fp")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            al.explain(mode="formatted")
        plan = buf.getvalue()
        assert "Bucketed: true" in plan, plan
        assert "SortMergeJoin" in plan, plan
        # exactly ONE Exchange — the batch side; none under the index scan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        # and the full operator over the bucketed index matches the plain
        # in-session build bit-for-bit
        got = sorted(map(tuple, dedup_against_substring(
            docs.filter("doc_id % 5 = 0"), "text", "doc_id", index=loaded,
            min_tokens=20, mode="pairs").collect()))
        want_idx = substring_index(docs.filter("doc_id % 5 != 0"), "text",
                                   "doc_id", min_tokens=20, max_doc_freq=50)
        want = sorted(map(tuple, dedup_against_substring(
            docs.filter("doc_id % 5 = 0"), "text", "doc_id", index=want_idx,
            min_tokens=20, mode="pairs").collect()))
        want_idx.release()
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        loaded.release()
        from rasgoql_spark.functions.dedup import _substring_bucket_table

        spark.sql(f"DROP TABLE IF EXISTS {_substring_bucket_table(path)}")


def test_large_build_side_still_plans_sort_merge_join(spark):
    """Safety pin for the global preferSortMergeJoin=false (VERDICT r13
    item 8): the static planner may only pick shuffled-hash when the build
    side's ESTIMATED size fits a per-partition hash map
    (stats < autoBroadcastJoinThreshold * shufflePartitions); a large
    build side must keep planning SortMergeJoin, which can spill — so a
    future stats regression cannot silently turn a 100 TB join into an
    executor OOM. spark.range carries exact 8-bytes/row statistics, so
    these estimates are deterministic."""
    import re

    big = spark.range(10_000_000_000)          # ~80 GB estimated
    alsobig = spark.range(1_000_000_000)       # ~8 GB: >> 10MB*4 map budget
    plan = big.join(alsobig, "id")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert re.search(r"\(\d+\) SortMergeJoin", plan), plan
    assert "ShuffledHashJoin" not in plan, plan

    # positive control — the conf is live: a build side that exceeds the
    # broadcast threshold but fits the per-partition map budget
    # (4 shuffle partitions here) plans shuffled-hash, not sort-merge
    medium = spark.range(3_000_000)            # ~24 MB: >10 MB, <40 MB
    plan2 = big.join(medium, "id")._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert re.search(r"\(\d+\) ShuffledHashJoin", plan2), plan2
