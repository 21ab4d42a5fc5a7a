"""Rendered-SQL parity: for renderable transforms, `spark.sql(chain.sql())`
must produce exactly the rows of the executed DataFrame plan. This pins the
.sql()/dbt export artifact to the execution semantics (the reference's core
deliverable is that SQL text)."""

import pytest

CASES = [
    ("drop_columns", {"include_cols": ["l_orderkey", "l_quantity"]}),
    ("drop_columns", {"exclude_cols": ["l_comment"] if False else ["l_tax"]}),
    ("rename", {"renames": {"l_quantity": "QTY"}}),
    ("math", {"math_ops": ["l_extendedprice * (1 - l_discount)"], "names": ["NET"]}),
    ("cast", {"casts": {"l_quantity": "bigint"}}),
    ("concat", {"columns": ["l_returnflag", "l_linestatus"], "separator": "-", "name": "FLAGS"}),
    ("if_then", {"conditions": [("l_quantity > 40", "'HIGH'")], "default": "'LOW'", "name": "QBAND"}),
    ("replace_string", {"column": "l_returnflag", "pattern": "A", "replacement": "X", "name": "RF"}),
    ("to_date", {"column": "l_shipdate"}),
    ("filter", {"filter_statements": ["l_quantity > 30", "l_discount < 0.05"]}),
    ("dropna", {"subset": ["l_quantity"]}),
    ("remove_duplicates", {"natural_key": ["l_orderkey"],
                           "order_by": {"l_linenumber": "ASC", "l_partkey": "ASC"}}),
    ("sample", {"percent": 10, "key": "l_orderkey"}),
    ("latest", {"group_by": ["l_suppkey"], "order_by": ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"]}),
    ("top", {"n": 50, "order_by": {"l_extendedprice": "DESC", "l_orderkey": "ASC", "l_linenumber": "ASC"}}),
    ("aggregate", {"group_by": ["l_returnflag"], "aggregations": {"l_quantity": ["SUM", "AVG"]}}),
    ("timeseries_agg", {"date": "l_shipdate", "grain": "month",
                        "aggregations": {"l_quantity": ["SUM"]}}),
    ("correlation", {"columns": ["l_quantity", "l_extendedprice"]}),
    ("entropy", {"group_by": ["l_returnflag"], "column": "l_linestatus"}),
    ("rollup_agg", {"group_by": ["l_returnflag"], "aggregations": {"l_quantity": ["SUM"]}}),
    ("lag", {"columns": ["l_quantity"], "amounts": [1, -1],
             "order_by": ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"],
             "partition": ["l_suppkey"]}),
    ("moving_avg", {"input_columns": ["l_quantity"], "window_sizes": [3],
                    "order_by": ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"],
                    "partition": ["l_suppkey"]}),
    ("rolling_agg", {"aggregations": {"l_quantity": ["MAX"]}, "offsets": [-2, 2],
                     "order_by": ["l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"],
                     "group_by": ["l_suppkey"]}),
    ("rank", {"order_by": {"l_extendedprice": "DESC"}, "partition": ["l_returnflag"],
              "method": "dense_rank"}),
    ("pivot", {"dimensions": ["l_linestatus"], "pivot_column": "l_returnflag",
               "value_column": "l_quantity", "agg_method": "SUM",
               "list_of_vals": ["A", "N", "R"]}),
    ("unpivot", {"id_vars": ["l_orderkey"], "value_vars": ["l_quantity", "l_discount"]}),
    ("market_basket", {"transaction": "l_orderkey", "item": "l_partkey", "min_count": 2}),
    ("min_max_scaler", {"columns": ["l_quantity"]}),
    ("standard_scaler", {"columns": ["l_quantity"]}),
    ("robust_scaler", {"columns": ["l_quantity", "l_extendedprice"]}),
    ("pseudonymize", {"columns": ["l_orderkey", "l_returnflag"], "salt": "s1"}),
    ("importance_sample", {"weight": "l_quantity", "id_col": "l_orderkey", "n": 200}),
    ("bin", {"column": "l_quantity", "bins": 5}),
    ("target_encode", {"column": "l_returnflag", "target": "l_quantity"}),
    ("one_hot_encode", {"column": "l_returnflag", "list_of_vals": ["A", "N", "R"]}),
    ("datetrunc", {"dates": {"l_shipdate": "month"}}),
    ("dateadd", {"date": "l_shipdate", "amount": 2, "grain": "week"}),
    ("datepart", {"dates": {"l_shipdate": "year"}}),
]


@pytest.mark.parametrize("name,kwargs", CASES, ids=[f"{n}-{i}" for i, (n, _) in enumerate(CASES)])
def test_rendered_sql_matches_dataframe(session, name, kwargs):
    chain = session.dataset("lineitem").transform(name, kwargs)
    session.dataset("lineitem").df.createOrReplaceTempView("lineitem")
    via_sql = session.spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


# Chain-level parity cases for renderers added in round 2 — each builder
# returns a chain over session tables; the rendered SQL must reproduce the
# DataFrame result exactly (columns AND rows).
CHAIN_CASES = [
    ("char_entropy", lambda s: s.dataset("documents").char_entropy(text="text")),
    ("impute", lambda s: s.dataset("lineitem").impute(
        imputations={"l_quantity": "mean", "l_returnflag": "mode"})),
    ("quantiles", lambda s: s.dataset("lineitem").quantiles(
        column="l_extendedprice", probs=(0.25, 0.5), group_by=["l_returnflag"])),
    ("rsi", lambda s: s.dataset("orders").rsi(
        column="o_totalprice", order_by=["o_orderdate", "o_orderkey"], periods=5)),
    ("sliding_slope", lambda s: s.dataset("orders").sliding_slope(
        x="o_orderkey", y="o_totalprice", window_size=4,
        order_by=["o_orderdate", "o_orderkey"])),
    ("approx_distinct", lambda s: s.dataset("lineitem").approx_distinct(
        columns=["l_partkey"], group_by=["l_returnflag"])),
    ("grouping_sets", lambda s: s.dataset("lineitem").grouping_sets(
        sets=[["l_returnflag", "l_linestatus"], []],
        aggregations={"l_quantity": ["SUM"]})),
    ("min_max_scaler_grouped", lambda s: s.dataset("lineitem").min_max_scaler(
        columns=["l_quantity"], group_by=["l_returnflag"])),
    ("join_prefix", lambda s: s.dataset("customer").join(
        join_table="orders", join_columns={"c_custkey": "o_custkey"},
        join_type="LEFT", join_prefix="O")),
    ("join_full", lambda s: s.dataset("customer").join(
        join_table="orders", join_columns={"c_custkey": "o_custkey"},
        join_type="FULL")),
    ("multi_join", lambda s: s.dataset("lineitem").multi_join(joins=[
        {"join_table": "orders", "join_columns": {"l_orderkey": "o_orderkey"},
         "join_prefix": "O"},
        {"join_table": "part", "join_columns": {"l_partkey": "p_partkey"},
         "join_prefix": "P"}])),
    ("theta_join", lambda s: s.dataset("region").theta_join(
        join_table="nation", condition="r_regionkey = R_N_REGIONKEY")),
    ("asof_join", lambda s: s.dataset("events").asof_join(
        join_table="events", on="ts", by=["event_type"], value_columns=["value"])),
    ("funnel", lambda s: s.dataset("events").funnel(
        entity="user_id", ts="ts", event="event_type",
        steps=["signup", "view", "purchase"])),
    ("sankey", lambda s: s.dataset("events").sankey(
        entity="user_id", ts="ts", stage="event_type", tiebreak="event_id")),
    ("sessionize", lambda s: s.dataset("events").sessionize(
        entity="user_id", ts="ts", gap_minutes=60)),
    ("tumbling_window", lambda s: s.dataset("events").tumbling_window(
        ts="ts", duration="1 hour", aggregations={"value": ["SUM"]},
        group_by=["event_type"])),
    ("sliding_window", lambda s: s.dataset("events").sliding_window(
        ts="ts", duration="2 hours", slide="1 hour",
        aggregations={"value": ["MAX"]})),
    ("session_window", lambda s: s.dataset("events").session_window_agg(
        ts="ts", gap="30 minutes", aggregations={"value": ["COUNT"]},
        group_by=["user_id"])),
    ("text_tokenize", lambda s: s.dataset("documents").text_tokenize(text="text")),
    ("token_count_bpe", lambda s: s.dataset("documents").token_count(
        text="text", method="bpe_ish")),
    ("text_quality", lambda s: s.dataset("documents").text_quality(text="text")),
    ("language_id", lambda s: s.dataset("documents").language_id(text="text")),
    ("fingerprint", lambda s: s.dataset("documents").fingerprint(text="text")),
    ("dedup_exact", lambda s: s.dataset("documents").dedup_exact(
        text="text", id_col="doc_id")),
    ("binary_meta", lambda s: s.dataset("documents")
        .attach_binary(source_col="text", name="CONTENT")
        .binary_meta(binary_col="CONTENT")),
    ("explode_tokens", lambda s: s.dataset("documents")
        .text_tokenize(text="text").explode_array(column="TOKENS")),
    ("array_agg_by", lambda s: s.dataset("lineitem").array_agg_by(
        group_by=["l_orderkey"], column="l_partkey")),
    ("map_from_entries_by", lambda s: s.dataset("documents").map_from_entries_by(
        group_by=["lang"], key_column="doc_id", value_column="n_chars")),
    ("datespine_groups", lambda s: s.dataset("lineitem").datespine_groups(
        group_by=["l_returnflag"], date_col="l_shipdate", interval="month")),
    ("join_right", lambda s: s.dataset("customer").join(
        join_table="orders", join_columns={"c_custkey": "o_custkey"},
        join_type="RIGHT")),
    ("asof_tolerance", lambda s: s.dataset("events").asof_join(
        join_table="events", on="ts", by=["event_type"],
        value_columns=["value"], tolerance_seconds=3600)),
    ("interval_join_keys", lambda s: s.dataset("lineitem").interval_join(
        join_table=s.dataset("part")
        .math(math_ops=["p_retailprice - 50", "p_retailprice + 50"],
              names=["LO", "HI"])
        .drop_columns(include_cols=["p_partkey", "p_brand", "LO", "HI"]),
        point="l_extendedprice", lower="LO", upper="HI", bucket_width=100.0)),
    ("theta_left", lambda s: s.dataset("region").theta_join(
        join_table="nation", condition="r_regionkey = R_N_REGIONKEY",
        join_type="LEFT")),
    ("text_chunk", lambda s: s.dataset("documents").text_chunk(
        text="text", id_col="doc_id", chunk_size=30, overlap=5)),
    ("pack_sequences", lambda s: s.dataset("documents")
        .token_count(text="text")
        .pack_sequences(token_count_col="TOKEN_COUNT", order_by=["doc_id"],
                        budget=1500, by=["lang"])),
    ("corpus_stats", lambda s: s.dataset("documents").corpus_stats(
        text="text", group_by=["lang"])),
    ("stratified_sample", lambda s: s.dataset("documents").stratified_sample(
        stratify_by="lang", fractions={"en": 0.4}, key="doc_id")),
    ("winnow_fingerprint", lambda s: s.dataset("documents")
        .winnow_fingerprint(text="text")),
    ("skew_report", lambda s: s.dataset("lineitem").skew_report(
        keys=["l_suppkey"], top_k=2)),
    ("text_normalize", lambda s: s.dataset("documents").text_normalize(
        text="text", strip_punct=True)),
    ("bigram_logprob", lambda s: s.dataset("documents").bigram_logprob(
        text="text", id_col="doc_id")),
    ("mixture_weights", lambda s: s.dataset("documents").mixture_weights(
        domain="lang", temperature=0.7)),
    ("pii_scrub", lambda s: s.dataset("documents").pii_scrub(text="text")),
    ("extract_urls", lambda s: s.dataset("documents").extract_urls(text="text")),
    ("repetition_stats", lambda s: s.dataset("documents")
        .repetition_stats(text="text")),
    ("shuffle_det", lambda s: s.dataset("documents")
        .shuffle_deterministic(key="doc_id", seed=7)),
    ("decontaminate", lambda s: s.dataset("documents").decontaminate(
        text="text", id_col="doc_id", eval_table="documents", ngram=6)),
    ("decontaminate_filter", lambda s: s.dataset("documents").decontaminate(
        text="text", id_col="doc_id", eval_table="documents",
        ngram=6, threshold=0.5, mode="filter")),
    ("ngram_counts", lambda s: s.dataset("documents").ngram_counts(
        text="text", n=2, top_k=50)),
    ("dedup_against_exact", lambda s: s.dataset("documents").dedup_against(
        text="text", id_col="doc_id",
        reference=s.dataset("documents").filter(
            filter_statements=["doc_id % 10 = 0"]),
        method="exact")),
    ("dedup_against_pairs", lambda s: s.dataset("documents").dedup_against(
        text="text", id_col="doc_id", reference="documents",
        method="exact", mode="pairs")),
    ("remove_boilerplate", lambda s: s.dataset("documents")
        .replace_string(column="text", pattern=" the ", replacement="\n")
        .remove_boilerplate(text="text", id_col="doc_id", min_doc_frequency=2)),
    ("quality_filter", lambda s: s.dataset("documents").quality_filter(
        text="text", min_tokens=40, max_word_rep_ratio=0.6)),
    ("quality_flag", lambda s: s.dataset("documents").quality_filter(
        text="text", min_tokens=40, max_word_rep_ratio=0.6, mode="flag")),
    ("token_budget", lambda s: s.dataset("documents")
        .token_count(text="text")
        .sample_to_token_budget(token_count_col="TOKEN_COUNT", budget=4000,
                                id_col="doc_id")),
    ("url_normalize", lambda s: s.dataset("documents")
        .apply(sql=_URL_SYNTH)
        .url_normalize(url="url")),
    ("dedup_url", lambda s: s.dataset("documents")
        .apply(sql=_URL_SYNTH)
        .dedup_url(url="url", id_col="doc_id")),
    ("dedup_url_flag", lambda s: s.dataset("documents")
        .apply(sql=_URL_SYNTH)
        .dedup_url(url="url", id_col="doc_id", mode="flag")),
    # round-7 renderers: capped inverted-index dedup + brute embedding dedup
    ("ngram_containment", lambda s: s.dataset("documents").ngram_containment(
        text="text", id_col="doc_id", threshold=0.5, max_doc_freq=5)),
    ("dedup_ngram_jaccard", lambda s: s.dataset("documents")
        .dedup_ngram_jaccard(text="text", id_col="doc_id", threshold=0.3,
                             max_doc_freq=5)),
    ("dedup_ngram_jaccard_filter", lambda s: s.dataset("documents")
        .dedup_ngram_jaccard(text="text", id_col="doc_id", threshold=0.3,
                             mode="filter")),
    ("dedup_against_embedding_pairs", lambda s: s.dataset("embeddings")
        .dedup_against_embedding(
            vec_col="embedding", id_col="vec_id", threshold=0.35, mode="pairs",
            reference=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 100"]))),
    ("dedup_against_embedding_filter", lambda s: s.dataset("embeddings")
        .dedup_against_embedding(
            vec_col="embedding", id_col="vec_id", threshold=0.35,
            reference=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 100"]))),
    # --- round 7: brute embedding-family renderers (shared _cosine_sql) ---
    ("similarity_search_brute", lambda s: s.dataset("embeddings")
        .similarity_search(vec_col="embedding", id_col="vec_id",
                           query_ids=[0, 1, 2], k=5, method="brute")),
    ("similarity_search_queries_table", lambda s: s.dataset("embeddings")
        .similarity_search(vec_col="embedding", id_col="vec_id",
                           queries=s.dataset("embeddings").filter(
                               filter_statements=["vec_id < 3"]),
                           k=4, method="brute")),
    ("embedding_join_brute", lambda s: s.dataset("embeddings")
        .filter(filter_statements=["vec_id < 60"])
        .embedding_join(other=s.dataset("embeddings").filter(
                            filter_statements=["vec_id >= 60"]),
                        vec_col="embedding", id_col="vec_id", k=2)),
    ("dedup_embedding_brute_pairs", lambda s: s.dataset("embeddings")
        .filter(filter_statements=["vec_id < 150"])
        .dedup_embedding(vec_col="embedding", id_col="vec_id",
                         threshold=0.35, method="brute", mode="pairs")),
    ("dedup_embedding_brute_filter", lambda s: s.dataset("embeddings")
        .filter(filter_statements=["vec_id < 150"])
        .dedup_embedding(vec_col="embedding", id_col="vec_id",
                         threshold=0.35, method="brute", mode="filter")),
    ("decontaminate_embedding_score", lambda s: s.dataset("embeddings")
        .decontaminate_embedding(
            vec_col="embedding", id_col="vec_id", mode="score",
            eval_table=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 20"]))),
    ("decontaminate_embedding_filter", lambda s: s.dataset("embeddings")
        .decontaminate_embedding(
            vec_col="embedding", id_col="vec_id", mode="filter",
            threshold=0.35,
            eval_table=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 20"]))),
    # --- round 8: simhash / minhash-diagnostic / binary / expect renderers ---
    ("dedup_simhash_signatures", lambda s: s.dataset("documents")
        .dedup_simhash(text="text", id_col="doc_id", mode="signatures")),
    ("dedup_simhash_pairs", lambda s: s.dataset("documents")
        .dedup_simhash(text="text", id_col="doc_id", hamming_threshold=2)),
    ("dedup_simhash_filter", lambda s: s.dataset("documents")
        .dedup_simhash(text="text", id_col="doc_id", hamming_threshold=3,
                       mode="filter")),
    ("minhash_similarity", lambda s: s.dataset("documents")
        .minhash_similarity(text="text", id_col="doc_id", min_est=0.2)),
    ("minhash_similarity_8x2", lambda s: s.dataset("documents")
        .minhash_similarity(text="text", id_col="doc_id", bands=8,
                            min_est=0.1)),
    ("dedup_binary_filter", lambda s: s.dataset("documents")
        .attach_binary(source_col="text", name="CONTENT")
        .dedup_binary(binary_col="CONTENT", id_col="doc_id")),
    ("dedup_binary_groups", lambda s: s.dataset("documents")
        .attach_binary(source_col="text", name="CONTENT")
        .dedup_binary(binary_col="CONTENT", id_col="doc_id", mode="groups")),
    ("expect_flag", lambda s: s.dataset("lineitem").expect(
        expectations=["l_quantity > 0", "l_discount <= 0.1"], mode="flag")),
    ("expect_filter", lambda s: s.dataset("lineitem").expect(
        expectations=["l_quantity > 10", "l_tax < 0.05"], mode="filter")),
    ("tfidf_keywords", lambda s: s.dataset("documents").tfidf_keywords(
        text="text", id_col="doc_id", top_k=5)),
    ("bm25_score", lambda s: s.dataset("documents").bm25_score(
        text="text", id_col="doc_id", query=["data", "spark", "model"])),
    ("bm25_score_string_query", lambda s: s.dataset("documents").bm25_score(
        text="text", id_col="doc_id", query="The Data, the MODEL!")),
    ("knn_classify", lambda s: s.dataset("embeddings").knn_classify(
        vec_col="embedding", id_col="vec_id", label_col="label",
        query_ids=[0, 1, 2], k=5)),
    ("dedup_minhash_pairs", lambda s: s.dataset("documents").dedup_minhash(
        text="text", id_col="doc_id", threshold=0.2)),
    ("dedup_minhash_auto_filter", lambda s: s.dataset("documents")
        .dedup_minhash(text="text", id_col="doc_id", threshold=0.2,
                       bands="auto", mode="filter")),
    ("kmeans_cluster", lambda s: s.dataset("embeddings").kmeans_cluster(
        vec_col="embedding", id_col="vec_id", k=4)),
    ("kmeans_cluster_2iter", lambda s: s.dataset("embeddings").kmeans_cluster(
        vec_col="embedding", id_col="vec_id", k=3, iterations=2)),
    ("pq_encode", lambda s: s.dataset("embeddings").pq_encode(
        vec_col="embedding", id_col="vec_id", m=4, codebook_size=8)),
    ("pq_encode_2iter", lambda s: s.dataset("embeddings").pq_encode(
        vec_col="embedding", id_col="vec_id", m=8, codebook_size=4,
        iterations=2)),
    # --- round 8 (late): iterative-fit replays via unrolled CTE chains ---
    ("embedding_outliers", lambda s: s.dataset("embeddings")
        .embedding_outliers(vec_col="embedding", id_col="vec_id", bottom=0.1)),
    ("nb_classify", lambda s: s.dataset("documents").nb_classify(
        text="text", label_col="lang", id_col="doc_id")),
    ("pagerank", lambda s: s.dataset("orders").pagerank(
        src="o_custkey", dst="o_orderkey", iterations=3)),
    ("connected_components", lambda s: s.dataset("orders")
        .connected_components(src="o_custkey", dst="o_orderkey",
                              max_iterations=6)),
    ("near_dup_clusters_minhash", lambda s: s.dataset("documents")
        .near_dup_clusters(text="text", id_col="doc_id", threshold=0.2,
                           max_iterations=6)),
    ("near_dup_clusters_simhash", lambda s: s.dataset("documents")
        .near_dup_clusters(text="text", id_col="doc_id", method="simhash",
                           hamming_threshold=2, max_iterations=6)),
    ("dedup_by_cluster", lambda s: s.dataset("documents").dedup_by_cluster(
        text="text", id_col="doc_id", threshold=0.2, max_iterations=6)),
    ("dedup_keep_best", lambda s: s.dataset("documents").dedup_keep_best(
        text="text", id_col="doc_id", score_col="n_chars", threshold=0.2,
        max_iterations=6)),
    ("dedup_soft", lambda s: s.dataset("documents").dedup_soft(
        text="text", id_col="doc_id", threshold=0.2, max_iterations=6)),
    ("pq_search", lambda s: s.dataset("embeddings").pq_search(
        vec_col="embedding", id_col="vec_id", query_ids=[0, 1, 2], k=5)),
    ("logreg_score", lambda s: s.dataset("lineitem").logreg_score(
        feature_cols=["l_tax", "l_quantity"], label_col="l_discount")),
    ("semantic_dedup", lambda s: s.dataset("embeddings").semantic_dedup(
        vec_col="embedding", id_col="vec_id", k=4, threshold=0.3)),
    ("mix_datasets", lambda s: s.dataset("documents").mix_datasets(
        others=[s.dataset("documents").filter(
            filter_statements=["doc_id % 2 = 0"])],
        weights=[2, 1], key="doc_id")),
    # round-10 advice fix: binary dedup chains must BOTH execute and
    # render — n_words is now an accepted execution kwarg (validated
    # against the data), so one kwargs dict serves chain-build and .sql()
    ("dedup_against_embedding_binary", lambda s: s.dataset("embeddings")
        .dedup_against_embedding(
            vec_col="embedding", id_col="vec_id", method="binary",
            max_hamming=20, n_words=2,
            reference=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 100"]))),
    ("dedup_against_embedding_binary_pairs", lambda s: s.dataset("embeddings")
        .dedup_against_embedding(
            vec_col="embedding", id_col="vec_id", method="binary",
            max_hamming=20, n_words=2, mode="pairs",
            reference=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 100"]))),
    # round-10 joins: chain-level execute+render parity for the two new
    # ANN joins (direct-renderer parity is pytest-pinned in
    # test_round10_ops; this pins the .sql()/dbt chain artifact)
    ("embedding_join_ivfpq", lambda s: s.dataset("embeddings")
        .filter(filter_statements=["vec_id >= 250"])
        .embedding_join_ivfpq(
            vec_col="embedding", id_col="vec_id", k=2, num_centroids=8,
            nprobe=3, m=8, codebook_size=16, iterations=0,
            other=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 250"]))
        .drop_columns(exclude_cols=["embedding"])),
    ("embedding_join_binary", lambda s: s.dataset("embeddings")
        .filter(filter_statements=["vec_id >= 250"])
        .embedding_join_binary(
            vec_col="embedding", id_col="vec_id", k=3, max_hamming=15,
            n_words=2,
            other=s.dataset("embeddings").filter(
                filter_statements=["vec_id < 250"]))
        .drop_columns(exclude_cols=["embedding"])),
    # round-10 governance ops
    ("target_encode_oof", lambda s: s.dataset("orders").target_encode_oof(
        column="o_orderpriority", target="o_totalprice",
        fold_by="o_orderkey", folds=5, smoothing=2.0)),
    ("psi_drift", lambda s: s.dataset("orders")
        .filter(filter_statements=["o_totalprice > 50000"])
        .psi_drift(other="orders", column="o_totalprice",
                   breakpoints=[25000.0, 100000.0, 200000.0])),
    ("scd2", lambda s: s.dataset("orders")
        .apply(sql="SELECT o_orderkey, 1 AS snap, o_orderpriority AS prio "
                   "FROM {{ source_table }} UNION ALL "
                   "SELECT o_orderkey, 2 AS snap, CASE WHEN o_orderkey % 5 = 0 "
                   "THEN 'X' ELSE o_orderpriority END AS prio "
                   "FROM {{ source_table }}")
        .scd2(keys=["o_orderkey"], snapshot_col="snap")),
    ("pmi_collocations", lambda s: s.dataset("documents").pmi_collocations(
        text="text", min_count=3, top_k=25)),
    ("k_anonymize_flag", lambda s: s.dataset("customer").k_anonymize(
        quasi_cols=["c_mktsegment", "c_nationkey"], k=3, action="flag")),
    ("k_anonymize_filter", lambda s: s.dataset("customer").k_anonymize(
        quasi_cols=["c_mktsegment", "c_nationkey"], k=3, action="filter")),
    ("k_anonymize_suppress", lambda s: s.dataset("customer").k_anonymize(
        quasi_cols=["c_mktsegment", "c_nationkey"], k=3, action="suppress")),
    ("psi_drift_categorical", lambda s: s.dataset("documents")
        .filter(filter_statements=["doc_id % 2 = 0"])
        .psi_drift_categorical(other="documents", column="lang")),
    ("l_diversity_filter", lambda s: s.dataset("customer").l_diversity(
        quasi_cols=["c_mktsegment"], sensitive="c_nationkey", l=5)),
    ("l_diversity_flag", lambda s: s.dataset("customer").l_diversity(
        quasi_cols=["c_mktsegment"], sensitive="c_nationkey", l=5,
        action="flag")),
    ("scd2_merge", lambda s: s.dataset("orders")
        .apply(sql="SELECT o_orderkey, 1 AS snap, o_orderpriority AS prio "
                   "FROM {{ source_table }} UNION ALL "
                   "SELECT o_orderkey, 2 AS snap, CASE WHEN o_orderkey % 5 = 0 "
                   "THEN 'X' ELSE o_orderpriority END AS prio "
                   "FROM {{ source_table }}")
        .scd2(keys=["o_orderkey"], snapshot_col="snap")
        .scd2_merge(
            snapshot=s.dataset("orders").apply(
                sql="SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN 'Y' "
                    "WHEN o_orderkey % 5 = 0 THEN 'X' "
                    "ELSE o_orderpriority END AS prio FROM {{ source_table }}"),
            keys=["o_orderkey"], snapshot_value=3)),
    ("t_closeness_filter", lambda s: s.dataset("customer").t_closeness(
        quasi_cols=["c_mktsegment"], sensitive="c_nationkey", t=0.5)),
    ("t_closeness_flag", lambda s: s.dataset("customer").t_closeness(
        quasi_cols=["c_mktsegment"], sensitive="c_nationkey", t=0.5,
        action="flag")),
    ("mutual_information", lambda s: s.dataset("orders").mutual_information(
        x="o_orderpriority", y="o_orderstatus")),
    ("hilbert", lambda s: s.dataset("orders").hilbert(
        columns=["o_custkey", "o_totalprice"], bits=6,
        ranges={"o_custkey": (0.0, 150.0), "o_totalprice": (900.0, 460000.0)})),
]

# Deterministic URL soup: four surface forms per doc, two of which (the %4
# in {0,1} rows with equal doc_id%50) canonicalize identically — dedup_url
# genuinely removes rows in the parity comparison.
_URL_SYNTH = (
    "SELECT doc_id, CASE "
    "WHEN doc_id % 4 = 0 THEN concat('HTTP://WWW.Site', "
    "CAST(doc_id % 50 AS STRING), '.com:80/a//b/?utm_source=x&b=2&a=1#f') "
    "WHEN doc_id % 4 = 1 THEN concat('http://site', "
    "CAST((doc_id - 1) % 50 AS STRING), '.com/a/b?b=2&a=1') "
    "WHEN doc_id % 4 = 2 THEN concat('https://Site', "
    "CAST(doc_id % 50 AS STRING), '.COM:443/p/', "
    "CAST(doc_id % 5 AS STRING), '/?fbclid=z') "
    "ELSE concat('ftp://site', CAST(doc_id % 50 AS STRING), '.com/x') "
    "END AS url FROM {{source_table}}"
)

_ALL_TABLES = ("region nation customer supplier part orders lineitem "
               "events documents embeddings").split()


@pytest.mark.parametrize(
    "name,builder", CHAIN_CASES, ids=[n for n, _ in CHAIN_CASES])
def test_round2_renderer_parity(session, name, builder):
    for t in _ALL_TABLES:
        session.dataset(t).df.createOrReplaceTempView(t)
    chain = builder(session)
    via_sql = session.spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    # exceptAll can't compare MAP columns — canonicalize to sorted entries
    from pyspark.sql import functions as F

    maps = [f.name for f in via_df.schema.fields
            if f.dataType.typeName() == "map"]
    if maps:
        conv = lambda d: d.withColumns({m: F.map_entries(m) for m in maps})  # noqa: E731
        via_sql, via_df = conv(via_sql), conv(via_df)
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_fuzzy_join_renderer_matches_execution(session, spark):
    session.dataset("nation").df.createOrReplaceTempView("nation")
    chain = session.dataset("nation").fuzzy_join(
        join_table="nation", column="n_name", max_distance=1)
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_diff_datasets_renderer_matches_execution(session, spark):
    session.dataset("region").df.createOrReplaceTempView("region")
    chain = session.dataset("region").diff_datasets(
        other="region", keys=["r_regionkey"], include_unchanged=True)
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_source_overlap_renderer_matches_execution(session, spark):
    chain = session.dataset("documents").source_overlap(
        text="text", group_col="lang")
    session.dataset("documents").df.createOrReplaceTempView("documents")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_random_projection_renderer_matches_execution(session, spark):
    chain = session.dataset("embeddings").random_projection(
        vec_col="embedding", out_dim=4, in_dim=64, seed=3)
    session.dataset("embeddings").df.createOrReplaceTempView("embeddings")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_feature_hash_renderer_matches_execution(session, spark):
    chain = session.dataset("documents").feature_hash(
        text="text", id_col="doc_id", dim=8)
    session.dataset("documents").df.createOrReplaceTempView("documents")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    a = {r["doc_id"]: r["FEATURES"] for r in via_df.collect()}
    b = {r["doc_id"]: r["FEATURES"] for r in via_sql.collect()}
    assert a == b


def test_unrolled_renderer_iteration_caps(session):
    """The unrolled-CTE renderers refuse impractically deep replays:
    pagerank levels reference their predecessor twice (plan ~2^iters under
    CTE inlining), the propagation renderers are single-reference but pay
    ~1s of scheduling per level."""
    import rasgoql_spark as rql

    with pytest.raises(rql.TransformRenderingException):
        session.dataset("orders").pagerank(
            src="o_custkey", dst="o_orderkey", iterations=7).sql()
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("orders").connected_components(
            src="o_custkey", dst="o_orderkey", max_iterations=25).sql()
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("documents").near_dup_clusters(
            text="text", id_col="doc_id", max_iterations=25).sql()
    # near_dup_clusters(simhash) inherits the pigeonhole recall bound from
    # the simhash pairs renderer
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("documents").near_dup_clusters(
            text="text", id_col="doc_id", method="simhash",
            hamming_threshold=5).sql()
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("lineitem").logreg_score(
            feature_cols=["l_tax"], label_col="l_discount",
            iterations=7).sql()


def test_unrolled_renderers_compose_in_cte_chains(session, spark):
    """The new renderers return ``SELECT * FROM (WITH ...)`` — prove the
    nested-WITH form embeds correctly BOTH as a non-final CTE body and as
    the final step of an assembled multi-step chain."""
    for t in ("documents", "orders"):
        session.dataset(t).df.createOrReplaceTempView(t)
    # renderer as FINAL step after a rendered filter step
    chain = session.dataset("documents").filter(
        filter_statements=["doc_id < 300"]).nb_classify(
        text="text", label_col="lang", id_col="doc_id")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0
    # renderer as NON-final CTE body with a rendered step after it
    chain2 = session.dataset("orders").pagerank(
        src="o_custkey", dst="o_orderkey", iterations=2).top(
        n=25, order_by={"PAGERANK": "DESC", "NODE": "ASC"})
    via_sql2 = spark.sql(chain2.sql())
    via_df2 = chain2.df
    assert via_sql2.columns == via_df2.columns
    assert via_df2.exceptAll(via_sql2).count() == 0
    assert via_sql2.exceptAll(via_df2).count() == 0


def test_connected_components_renderer_keeps_null_nodes(session, spark):
    """A NULL endpoint never matches its own self-loop join (NULL = NULL is
    not true), so the rendered propagation silently dropped the (NULL, NULL)
    row the executed groupBy keeps — the final SELECT now left-joins the
    node list to restore it."""
    from rasgoql_spark.functions.graph import (_r_connected_components,
                                               connected_components)

    df = spark.sql(
        "SELECT CAST(NULL AS BIGINT) AS a, CAST(NULL AS BIGINT) AS b "
        "UNION ALL SELECT 1, 2 UNION ALL SELECT 2, 3 UNION ALL SELECT 5, 5"
    )
    via_df = connected_components(df, "a", "b", max_iterations=4)
    df.createOrReplaceTempView("__cc_null_edges")
    via_sql = spark.sql(
        _r_connected_components("__cc_null_edges", "a", "b", max_iterations=4)
    )
    assert via_sql.columns == via_df.columns
    assert via_df.count() == via_sql.count() == 5  # 1,2,3,5 + the NULL node
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_mix_datasets_renderer_survives_reordered_columns(session, spark):
    """The executed path unions by NAME; the render must project the entry
    source's explicit column list so a same-schema other source with a
    different column order cannot misalign under positional UNION ALL."""
    for t in ("documents",):
        session.dataset(t).df.createOrReplaceTempView(t)
    reordered = session.dataset("documents").drop_columns(
        include_cols=["n_chars", "doc_id", "text", "lang", "source"])
    chain = session.dataset("documents").mix_datasets(
        others=[reordered], weights=[1, 1], key="doc_id")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_render_only_mode_guards(session):
    """Renderers refuse the modes whose executed semantics no SQL text can
    reproduce: mix_datasets' seeded Bernoulli sampling (partition-dependent
    RNG), semantic_dedup's corpus-count-derived k and bounded-recall
    chunking."""
    import rasgoql_spark as rql

    with pytest.raises(rql.TransformRenderingException):
        session.dataset("documents").mix_datasets(
            others=[session.dataset("documents")], weights=[1, 1]).sql()
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("embeddings").semantic_dedup(
            vec_col="embedding", id_col="vec_id", k="auto").sql()
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("embeddings").semantic_dedup(
            vec_col="embedding", id_col="vec_id", k=4,
            max_cluster_size=8).sql()


def test_similarity_search_ivfpq_renderer_matches_execution(session, spark):
    """The first renderable ANN operator: the rendered SQL replays the
    coarse kmeans fit, the top-nprobe probe ranking, the per-subspace PQ
    Lloyd chains, and the probed-list-restricted ADC ranking — and must
    reproduce the DataFrame path exactly (rounded determinism contract)."""
    chain = session.dataset("embeddings").similarity_search_ivfpq(
        vec_col="embedding", id_col="vec_id", query_ids=[0, 1, 2], k=10,
        num_centroids=4, nprobe=2, m=4, codebook_size=8, iterations=1)
    session.dataset("embeddings").df.createOrReplaceTempView("embeddings")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_similarity_search_ivfpq_residual_renderer_matches_execution(session, spark):
    """Round 9: the residual IVFADC replay — coarse fit, residual PQ
    chains, and the coarse term leading the left-associated ADC sum —
    must reproduce the DataFrame path exactly."""
    chain = session.dataset("embeddings").similarity_search_ivfpq(
        vec_col="embedding", id_col="vec_id", query_ids=[0, 1, 2], k=10,
        num_centroids=4, nprobe=2, m=4, codebook_size=8, iterations=1,
        residual=True)
    session.dataset("embeddings").df.createOrReplaceTempView("embeddings")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0


def test_similarity_search_ivf_rounded_renderer_matches_execution(
        session, spark, monkeypatch):
    """Round 9: the opt-in rounded=True replay of the production IVF
    search (the unrounded default stays render-excluded). The second
    input executes through the >IVF_LITERAL_CENTROID_MAX one-row
    broadcast fallback of the shared probe step."""
    import rasgoql_spark as rql
    import rasgoql_spark.functions.similarity as sim

    session.dataset("embeddings").df.createOrReplaceTempView("embeddings")
    for literal_max in (256, 2):
        monkeypatch.setattr(sim, "IVF_LITERAL_CENTROID_MAX", literal_max)
        chain = session.dataset("embeddings").similarity_search_ivf(
            vec_col="embedding", id_col="vec_id", query_ids=[0, 1, 2], k=8,
            num_centroids=8, nprobe=3, rounded=True)
        via_sql = spark.sql(chain.sql())
        via_df = chain.df
        assert via_sql.columns == via_df.columns
        assert via_df.exceptAll(via_sql).count() == 0
        assert via_sql.exceptAll(via_df).count() == 0
    # the unrounded default and auto sizing stay principled exclusions
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("embeddings").similarity_search_ivf(
            vec_col="embedding", id_col="vec_id", query_ids=[0],
            num_centroids=8, nprobe=3).sql()
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("embeddings").similarity_search_ivf(
            vec_col="embedding", id_col="vec_id", query_ids=[0],
            rounded=True).sql()


def test_embedding_join_ivf_rounded_renderer_matches_execution(
        session, spark, monkeypatch):
    """Round 9: the rounded=True replay of the ANN join, right side as a
    chain subquery; the second input takes the one-row centroid
    broadcast."""
    import rasgoql_spark as rql
    import rasgoql_spark.functions.similarity as sim

    right = session.dataset("embeddings").filter(
        filter_statements=["vec_id < 250"])
    session.dataset("embeddings").df.createOrReplaceTempView("embeddings")
    for literal_max in (256, 2):
        monkeypatch.setattr(sim, "IVF_LITERAL_CENTROID_MAX", literal_max)
        chain = session.dataset("embeddings").filter(
            filter_statements=["vec_id >= 250"]
        ).embedding_join_ivf(
            vec_col="embedding", id_col="vec_id", other=right, k=2,
            num_centroids=8, nprobe=3, rounded=True)
        via_sql = spark.sql(chain.sql())
        via_df = chain.df
        assert via_sql.columns == via_df.columns
        assert via_df.exceptAll(via_sql).count() == 0
        assert via_sql.exceptAll(via_df).count() == 0
    with pytest.raises(rql.TransformRenderingException):
        session.dataset("embeddings").embedding_join_ivf(
            vec_col="embedding", id_col="vec_id", other=right, k=2).sql()


def test_classifier_eval_renderer_matches_execution(session, spark):
    chain = (
        session.dataset("embeddings")
        .apply(sql="SELECT vec_id, label % 2 AS y, element_at(embedding, 1) "
                   "AS s FROM {{source_table}}")
        .classifier_eval(label_col="y", score_col="s", threshold=0.1)
    )
    session.dataset("embeddings").df.createOrReplaceTempView("embeddings")
    via_sql = spark.sql(chain.sql())
    via_df = chain.df
    assert via_sql.columns == via_df.columns
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.exceptAll(via_df).count() == 0
